"""The incremental-curation composition (VERDICT r6 #4): a recurring
crawl is judged against the accepted corpus's stored dedup artifacts —
the corpus itself must appear NOWHERE in the composed plan (no
re-fingerprint, no re-chunk, no re-sign per cycle)."""

from __future__ import annotations

from pyspark.sql import functions as F

from opteryx_spark.catalog import load_table
from opteryx_spark.operators import curate, dedup
from opteryx_spark.plans import explain_text


def _split(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.filter(F.col("doc_id") < 250), docs.filter(F.col("doc_id") >= 250)


def _result(df):
    cols = ["doc_id", "already_in_corpus", "best_match_id", "est_jaccard",
            "n_chunks", "n_removed_chunks", "n_tokens_final", "final_text",
            "outcome"]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_corpus_never_read_after_artifact_build(spark, sf_dir, tmp_path):
    corpus, new = _split(spark, sf_dir)
    # offline: corpus -> three artifacts, each a parquet file (short
    # distinctive dir names so FileScan locations are greppable even if
    # the plan printer truncates long paths)
    craw = str(tmp_path / "craw")
    corpus.write.parquet(craw)
    stored_corpus = spark.read.parquet(craw)
    acd, awd, alsh = (str(tmp_path / d) for d in ("acd", "awd", "alsh"))
    dedup.corpus_digests(stored_corpus, method="fingerprint").write.parquet(acd)
    dedup.window_digests(stored_corpus, "text", 16, 4).write.parquet(awd)
    dedup.minhash_index(stored_corpus, portable_hash=True).write.parquet(alsh)
    delta = str(tmp_path / "delta")
    new.write.parquet(delta)

    out = curate.curate_incremental(
        spark.read.parquet(delta),
        spark.read.parquet(acd),
        spark.read.parquet(awd),
        spark.read.parquet(alsh),
    )
    text = explain_text(out)
    # every source the plan reads is an artifact or the delta...
    assert "acd" in text and "awd" in text and "alsh" in text and "delta" in text
    # ...and the corpus source is absent: crawl cycles decouple from corpus size
    assert "craw" not in text

    # the artifact path and the direct (corpus-in-memory) path agree row-for-row
    direct = curate.curate_incremental(
        new,
        dedup.corpus_digests(corpus, method="fingerprint"),
        dedup.window_digests(corpus, "text", 16, 4),
        dedup.minhash_index(corpus, portable_hash=True),
    )
    assert _result(out) == _result(direct)


def test_outcome_precedence_and_accounting(spark, sf_dir):
    corpus, new = _split(spark, sf_dir)
    # inject the precedence corners: an exact corpus copy (must flag
    # exact_in_corpus even though it is also a near-dup), and a NULL doc
    c0 = corpus.limit(1).select(F.lit(900001).alias("doc_id"), "text")
    nulld = spark.createDataFrame([(900002, None)], "doc_id long, text string")
    delta = new.unionByName(c0).unionByName(nulld)
    out = curate.curate_incremental(
        delta,
        dedup.corpus_digests(corpus, method="fingerprint"),
        dedup.window_digests(corpus, "text", 16, 4),
        dedup.minhash_index(corpus, portable_hash=True),
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[900001]["outcome"] == "exact_in_corpus"
    assert rows[900001]["already_in_corpus"] is True
    assert rows[900002]["outcome"] == "invalid_text"
    assert rows[900002]["n_tokens_final"] is None
    # per-stage accounting falls out of one groupBy(outcome)
    counts = {r["outcome"]: r["n"] for r in
              out.groupBy("outcome").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == out.count()
    assert counts.get("kept", 0) > 0


def test_curate_incremental_delta_scanned_once(spark, sf_dir):
    # r12: the delta feeds four branches through ONE persisted slim
    # projection — the new-crawl source must appear once in the plan, not
    # once per branch (was 6 scans)
    from opteryx_spark.operators import curate, dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    cd = dedup.corpus_digests(corpus, method="fingerprint")
    wd = dedup.window_digests(corpus, "text", chunk_tokens=16, min_chunk_tokens=4)
    idx = dedup.minhash_index(corpus, portable_hash=True)
    out = curate.curate_incremental(new, cd, wd, idx)
    txt = explain_text(out)
    # the >=250 pushed filter marks a delta parquet scan; the persisted
    # slim projection leaves exactly one
    assert txt.count("GreaterThanOrEqual(doc_id,250)") == 1, txt.count(
        "GreaterThanOrEqual(doc_id,250)"
    )
    dedup.release_text_group_caches()
