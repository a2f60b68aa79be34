"""Structured Streaming extension: batch-equivalence via availableNow.

The streaming rollup drained with trigger(availableNow) must produce the
same rows as the batch ``events_hourly_rollup`` suite entry — streaming
and batch are two executions of one logical pipeline.
"""

from __future__ import annotations

import pytest

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from opteryx_spark import streaming
from opteryx_spark.suite import load_all


def test_hourly_rollup_stream_matches_batch(spark, sf_dir):
    out = tempfile.mkdtemp(prefix="oxs_stream_out")
    ckpt = tempfile.mkdtemp(prefix="oxs_stream_ckpt")
    src = tempfile.mkdtemp(prefix="oxs_stream_src")
    shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet"))
    try:
        events = streaming.read_events_stream(spark, src)
        rollup = streaming.hourly_rollup_stream(events)
        streaming.run_stream_once(rollup, out, ckpt)

        got = spark.read.parquet(out)
        want = load_all()["events_hourly_rollup"].spark(spark, sf_dir)
        got_rows = {tuple(r) for r in got.collect()}
        want_rows = {tuple(r) for r in want.collect()}
        # append-mode emits only watermark-closed windows; every emitted row
        # must match batch, and most windows must have been emitted
        assert got_rows <= want_rows
        assert len(got_rows) >= len(want_rows) - 24  # at most the last day open
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)


def test_sessionize_runs(spark, sf_dir, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("oxs_sess_src"))
    shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet"))
    events = streaming.read_events_stream(spark, src)
    sess = streaming.sessionize(events)
    assert set(sess.columns) == {
        "session_start",
        "session_end",
        "user_id",
        "n_events",
        "session_value",
    }
    assert sess.isStreaming


def test_stateful_user_totals_matches_batch(spark, sf_dir, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("oxs_state_src"))
    shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet"))
    events = streaming.read_events_stream(spark, src)
    totals = streaming.stateful_user_totals(events)
    q = (
        totals.writeStream.outputMode("update")
        .format("memory")
        .queryName("user_totals")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 4))
        for r in spark.sql(
            "SELECT user_id, last(n_events) AS n_events, last(total_value) AS total_value "
            "FROM user_totals GROUP BY user_id"
        ).collect()
    }
    batch = spark.read.parquet(os.path.join(src, "events.parquet"))
    want = {
        r["user_id"]: (r["n"], round(r["t"], 4))
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert set(got) == set(want)
    for uid in want:
        assert got[uid][0] == want[uid][0]
        assert abs(got[uid][1] - want[uid][1]) < 1e-4


def test_chunk_and_sample_stream_match_batch(spark, sf_dir, tmp_path_factory):
    """Chunking + hash sampling are stateless expressions: applied to a
    file stream (availableNow) they must emit exactly the batch rows —
    the same-pipeline-two-runtimes property a streaming ingest needs."""
    from opteryx_spark.operators.scale import hash_sample
    from opteryx_spark.operators.text import chunk_documents

    src = str(tmp_path_factory.mktemp("oxs_chunk_src"))
    out = str(tmp_path_factory.mktemp("oxs_chunk_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_chunk_ckpt"))
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), os.path.join(src, "documents.parquet"))

    batch_df = spark.read.parquet(src)
    pipeline = lambda df: chunk_documents(  # noqa: E731
        hash_sample(df, "doc_id", 20.0, salt="st"), max_tokens=64, overlap=8
    ).select("doc_id", "chunk_idx", "chunk_text")
    stream_src = spark.readStream.schema(batch_df.schema).parquet(src)
    streaming.run_stream_once(pipeline(stream_src), out, ckpt)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in pipeline(batch_df).collect()}
    assert got == want and len(want) > 0


def test_dedup_stream_drops_replays(spark, tmp_path_factory):
    """dropDuplicatesWithinWatermark twin: replayed event ids inside the
    watermark horizon are emitted once."""
    import datetime as dt

    src = str(tmp_path_factory.mktemp("oxs_dd_src"))
    out = str(tmp_path_factory.mktemp("oxs_dd_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_dd_ckpt"))
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(i % 5, base + dt.timedelta(minutes=i % 7)) for i in range(40)]
    spark.createDataFrame(rows, "event_id long, ts timestamp").write.mode("overwrite").parquet(src)

    batch_schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(batch_schema).parquet(src)
    deduped = streaming.dedup_stream(stream, keys=["event_id"], watermark="1 hour")
    streaming.run_stream_once(deduped, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 5  # one row per distinct event_id


def test_decontaminate_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    from opteryx_spark.operators import filtering, text

    src = str(tmp_path_factory.mktemp("oxs_decon_src"))
    out = str(tmp_path_factory.mktemp("oxs_decon_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_decon_ckpt"))
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), os.path.join(src, "documents.parquet"))

    batch_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    bench = batch_docs.filter(F.col("source") == "src0")
    corpus_batch = batch_docs.filter(F.col("source") != "src0")
    want = {
        (r.doc_id, r.n_contaminated_ngrams, r.contaminated)
        for r in filtering.decontaminate(corpus_batch, bench, k=3, min_overlap=3)
        .select("doc_id", "n_contaminated_ngrams", "contaminated")
        .collect()
    }

    schema = batch_docs.schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .filter(F.col("source") != "src0")
    )
    bench_grams = bench.select(F.explode(text.shingles("text", 3)).alias("gram")).distinct()
    flagged = streaming.decontaminate_stream(stream, bench_grams, k=3, min_overlap=3).select(
        "doc_id", "n_contaminated_ngrams", "contaminated"
    )
    streaming.run_stream_once(flagged, out, ckpt)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got == want


def test_gopher_quality_runs_unchanged_on_stream(spark, sf_dir, tmp_path_factory):
    # map-only operators run identically on a stream: same function, no twin
    from opteryx_spark.operators import filtering

    src = str(tmp_path_factory.mktemp("oxs_gq_src"))
    out = str(tmp_path_factory.mktemp("oxs_gq_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_gq_ckpt"))
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), os.path.join(src, "documents.parquet"))

    batch = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    want = {tuple(r) for r in filtering.gopher_quality(batch).collect()}

    stream = spark.readStream.schema(batch.schema).parquet(src)
    streaming.run_stream_once(filtering.gopher_quality(stream), out, ckpt)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got == want


def test_quota_sample_stream_caps_groups(spark, sf_dir, tmp_path_factory):
    from opteryx_spark import streaming as S

    src = str(tmp_path_factory.mktemp("oxs_quota_src"))
    out = str(tmp_path_factory.mktemp("oxs_quota_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_quota_ckpt"))
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), os.path.join(src, "documents.parquet"))

    batch = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    schema_str = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in batch.schema.fields)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    capped = S.quota_sample_stream(stream, ["lang", "source"], 3, schema_str)
    S.run_stream_once(capped, out, ckpt)

    got = spark.read.parquet(out)
    sizes = {(r.lang, r.source): r["count"] for r in got.groupBy("lang", "source").count().collect()}
    want = {
        (r.lang, r.source): min(r["count"], 3)
        for r in batch.groupBy("lang", "source").count().collect()
    }
    assert sizes == want  # every group capped at 3, small groups kept whole


def test_curate_v2_stream_matches_batch(spark, tmp_path_factory):
    """The composed streaming curation pipeline must match the batch
    curate_corpus_v2 stage-for-stage: same admitted digest set, same
    per-stratum admitted counts (the two stream-permitted differences —
    first-arrival dedup survivor, first-n quota members — do not change
    either invariant)."""
    from opteryx_spark.operators import curate, text as T

    # controlled corpus: per (lang, source) stratum — survivors, a too-short
    # doc, a contaminated doc (shares trigrams with the benchmark), and an
    # exact duplicate pair; quota 2 per stratum
    def body(tag, i):
        return (
            f"the quick brown fox {tag} jumps over the lazy dog "
            f"while number {i} watches from the old stone wall nearby"
        )

    rows = []
    did = 0
    for lang, source in (("en", "a"), ("en", "b")):
        for i in range(4):  # 4 unique survivors per stratum
            rows.append((did, body(f"{lang}{source}", i), lang, source)); did += 1
        rows.append((did, "too short", lang, source)); did += 1
        rows.append((did, body(f"{lang}{source}", 0), lang, source)); did += 1  # exact dup of i=0
        rows.append((did,
                     "benchmark sentence alpha beta gamma delta epsilon zeta "
                     "eta theta iota kappa evaluation suite text here",
                     lang, source)); did += 1  # contaminated
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    bench = spark.createDataFrame(
        [(1000, "benchmark sentence alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )

    batch = curate.curate_corpus_v2(
        docs, bench, n_per_group=2, min_tokens=5, min_overlap=3
    )
    batch_rows = batch.collect()
    batch_kept = [r for r in batch_rows if r.kept]
    batch_pre_quota = {  # survivors of every gate before the quota
        r.doc_id for r in batch_rows if r.drop_reason in (None, "over_quota")
    }
    assert batch_pre_quota and len(batch_kept) == 4  # 2 strata x quota 2

    src = str(tmp_path_factory.mktemp("oxs_curate_src"))
    docs.withColumn("ts", F.timestamp_seconds(F.col("doc_id"))).write.mode(
        "overwrite"
    ).parquet(src)
    sdocs = spark.readStream.schema(
        "doc_id bigint, text string, lang string, source string, ts timestamp"
    ).parquet(src)
    bench_grams = bench.select(F.explode(T.shingles("text", 3)).alias("gram")).distinct()
    admitted = streaming.curate_stream_v2(
        sdocs, bench_grams, n_per_group=2, min_tokens=5, min_overlap=3
    )
    q = (
        admitted.writeStream.outputMode("append")
        .format("memory")
        .queryName("curated_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM curated_stream").collect()

    # every admitted doc passed every batch gate, compared at the DIGEST
    # level: the stream legitimately keeps whichever copy of a duplicate
    # text arrives first, not the batch's min-id exemplar
    import hashlib

    by_id = {r.doc_id: r for r in batch_rows}
    batch_pre_quota_digests = {
        hashlib.sha256(by_id[i].text.encode()).hexdigest() for i in batch_pre_quota
    }
    got_digest_set = {hashlib.sha256(r.text.encode()).hexdigest() for r in got}
    assert got_digest_set <= batch_pre_quota_digests
    # same per-stratum admitted counts as batch
    from collections import Counter

    got_counts = Counter((r.lang, r.source) for r in got)
    want_counts = Counter((r.lang, r.source) for r in batch_kept)
    assert got_counts == want_counts
    # dedup collapsed the copy pair: no duplicate texts admitted
    assert len(got_digest_set) == len(got)


def test_line_boilerplate_stream_matches_batch(spark, tmp_path_factory):
    """Stream-static line-frequency pass: with the hot set precomputed
    from the same corpus, the stream twin must emit exactly the batch
    operator's rows (the batch pass drops ALL occurrences of a hot line,
    so there is no keeper asymmetry to diverge on)."""
    from opteryx_spark.operators import filtering

    src = str(tmp_path_factory.mktemp("oxs_linebp_src"))
    out = str(tmp_path_factory.mktemp("oxs_linebp_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_linebp_ckpt"))
    rows = [
        (i, "site header\n" + f"promo {i % 3}\n" + f"unique content {i}")
        for i in range(12)
    ] + [(100, None), (101, " \n ")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    df.write.mode("overwrite").parquet(src)

    cols = [
        "doc_id",
        "n_lines",
        "n_boilerplate_lines",
        "boilerplate_line_fraction",
        "cleaned_text",
    ]
    want = {
        tuple(r)
        for r in filtering.remove_boilerplate_lines(df, min_doc_freq=2)
        .select(*cols)
        .collect()
    }
    hot = filtering.hot_line_digests(df, min_doc_freq=2)
    stream = spark.readStream.schema(df.schema).parquet(src)
    got_df = streaming.remove_boilerplate_lines_stream(stream, hot).select(*cols)
    streaming.run_stream_once(got_df, out, ckpt)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got == want
    # every doc sheds the header; promo lines repeat across 4 docs each
    by_id = {t[0]: t for t in got}
    assert by_id[0][2] == 2 and by_id[0][4] == "unique content 0"
    assert by_id[100][1] is None and by_id[101][1] == 0


def test_corpus_chunks_stream_matches_batch(spark, tmp_path_factory):
    """Stream-static incremental ExactSubstr: with the window-digest
    index precomputed from the accepted corpus, the stream twin must
    emit exactly the batch operator's rows (membership is the verdict —
    no keeper asymmetry)."""
    from opteryx_spark.operators import dedup

    src = str(tmp_path_factory.mktemp("oxs_cchunk_src"))
    out = str(tmp_path_factory.mktemp("oxs_cchunk_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_cchunk_ckpt"))
    ref = spark.createDataFrame(
        [(100, "a b c d e f g h"), (101, "m n o p")], ["doc_id", "text"]
    )
    new_rows = [
        (1, "a b c d x y z w"),
        (2, "q r s t u v w x"),
        (3, None),
        (4, "a b"),
        (5, "e f g h m n o p"),
    ]
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])
    new.write.mode("overwrite").parquet(src)

    cols = ["doc_id", "n_chunks", "n_removed_chunks", "cleaned_text"]
    want = {
        tuple(r)
        for r in dedup.remove_chunks_in_corpus(
            new, ref, chunk_tokens=4, min_chunk_tokens=3
        )
        .select(*cols)
        .collect()
    }
    idx = dedup.window_digests(ref, chunk_tokens=4, min_chunk_tokens=3)
    stream = spark.readStream.schema(new.schema).parquet(src)
    got_df = streaming.remove_corpus_chunks_stream(
        stream, idx, chunk_tokens=4, min_chunk_tokens=3
    ).select(*cols)
    streaming.run_stream_once(got_df, out, ckpt)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got == want
    by_id = {t[0]: t for t in got}
    assert by_id[1] == (1, 2, 1, "x y z w")
    assert by_id[5] == (5, 2, 2, "")  # both windows live in the corpus
    assert by_id[3][1] is None and by_id[4] == (4, 1, 0, "a b")


def test_quality_features_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """With artifacts built from the SAME corpus the stream featurizer
    must reproduce the batch feature matrix exactly (every token is in
    the cost table, the hot set is the batch hot set)."""
    from opteryx_spark.operators import filtering

    src = str(tmp_path_factory.mktemp("oxs_qf_src"))
    out = str(tmp_path_factory.mktemp("oxs_qf_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_qf_ckpt"))
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
        .limit(120)
    )
    docs.write.mode("overwrite").parquet(src)
    frozen = spark.read.parquet(src)

    cols = [
        "doc_id", "n_tokens", "ttr", "flesch_reading_ease", "fk_grade",
        "avg_nll_millinats", "boilerplate_frac", "quality_score",
    ]
    want = {tuple(r) for r in filtering.quality_features(frozen).select(*cols).collect()}
    costs, unk = filtering.unigram_cost_artifacts(frozen)
    hot = filtering.hot_ngrams(frozen, k=3, max_df=10)
    stream = spark.readStream.schema(frozen.schema).parquet(src)
    got_df = streaming.quality_features_stream(stream, costs, unk, hot)
    streaming.run_stream_once(got_df, out, ckpt)
    got = {tuple(r) for r in spark.read.parquet(out).select(*cols).collect()}
    assert got == want


def test_quality_features_stream_unknown_tokens(spark, tmp_path_factory):
    """Tokens absent from the reference cost table pay exactly unk_nll."""
    from opteryx_spark.operators import filtering

    src = str(tmp_path_factory.mktemp("oxs_qfu_src"))
    out = str(tmp_path_factory.mktemp("oxs_qfu_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_qfu_ckpt"))
    ref = spark.createDataFrame([(1, "aa bb aa cc")], ["doc_id", "text"])
    costs, unk = filtering.unigram_cost_artifacts(ref)
    cost_map = {r.token: r.nll for r in costs.collect()}
    new = spark.createDataFrame([(9, "aa zz")], ["doc_id", "text"])
    new.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(new.schema).parquet(src)
    got_df = streaming.quality_features_stream(
        stream, costs, unk, filtering.hot_ngrams(ref)
    )
    streaming.run_stream_once(got_df, out, ckpt)
    row = spark.read.parquet(out).first()
    assert row.avg_nll_millinats == (cost_map["aa"] + unk) / 2.0


def test_sessionize_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """session_window (streaming) and the batch lag/cumsum construction
    are the same gap rule: every watermark-closed streaming session must
    equal a batch session on (user, start, n_events, value sum)."""
    src = str(tmp_path_factory.mktemp("oxs_sessbt_src"))
    out = str(tmp_path_factory.mktemp("oxs_sessbt_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_sessbt_ckpt"))
    shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet"))

    sess = streaming.sessionize(streaming.read_events_stream(spark, src), gap="30 minutes")
    streaming.run_stream_once(sess, out, ckpt)
    got = {
        (r.user_id, r.session_start, r.n_events, r.session_value)
        for r in spark.read.parquet(out).collect()
    }

    from opteryx_spark.operators import events as batch_events

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    want = {
        (r.user_id, r.session_start, r.n_events, r.total_value)
        for r in batch_events.sessionize(ev, gap_minutes=30).collect()
    }
    assert got, "stream emitted no closed sessions"
    assert got <= want
    # only sessions still open at the watermark may be missing
    assert len(got) >= len(want) - 200


@pytest.mark.slow  # ~1 min heavy batch-equivalence sweep - full tier only
def test_minhash_dedup_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """Row-local streaming fuzzy dedup against the static LSH index must
    equal the batch join-form operator row for row."""
    from opteryx_spark.operators import dedup as D

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
    )
    corpus = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)

    # both hash families: the default (xxhash64) must pair with a
    # default-built index, the portable one with a portable index
    for portable in (False, True):
        idx_f = D.minhash_index(corpus, portable_hash=portable)
        want_f = {
            (r.doc_id, r.best_match_id, r.est_jaccard, r.in_corpus_near_dup)
            for r in D.minhash_dedup_against_index(
                new, idx_f, threshold=0.5, portable_hash=portable
            ).select("doc_id", "best_match_id", "est_jaccard", "in_corpus_near_dup").collect()
        }
        assert any(f for (_, _, _, f) in want_f), "fixture lost its near-dups"
        got_f = {
            (r.doc_id, r.best_match_id, r.est_jaccard, r.in_corpus_near_dup)
            for r in streaming.minhash_dedup_stream(
                new, idx_f, threshold=0.5, portable_hash=portable
            )
            .select("doc_id", "best_match_id", "est_jaccard", "in_corpus_near_dup")
            .collect()
        }
        assert got_f == want_f, f"portable={portable}"

    idx = D.minhash_index(corpus, portable_hash=True)
    want = {
        (r.doc_id, r.best_match_id, r.est_jaccard, r.in_corpus_near_dup)
        for r in D.minhash_dedup_against_index(
            new, idx, threshold=0.5, portable_hash=True
        ).select("doc_id", "best_match_id", "est_jaccard", "in_corpus_near_dup").collect()
    }

    # drained as a real stream (availableNow) the rows match exactly too
    src = str(tmp_path_factory.mktemp("oxs_mhstream_src"))
    out = str(tmp_path_factory.mktemp("oxs_mhstream_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_mhstream_ckpt"))
    new.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(new.schema).parquet(src)
    flagged = streaming.minhash_dedup_stream(
        stream, idx, threshold=0.5, portable_hash=True
    ).select(
        "doc_id", "best_match_id", "est_jaccard", "in_corpus_near_dup"
    )
    streaming.run_stream_once(flagged, out, ckpt)
    got_stream = {
        (r.doc_id, r.best_match_id, r.est_jaccard, r.in_corpus_near_dup)
        for r in spark.read.parquet(out).collect()
    }
    assert got_stream == want


def test_hll_registers_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """Registers maintained by the stream (bounded 2^p-key state) must
    reproduce the batch operator's estimate exactly."""
    from opteryx_spark.catalog import load_table
    from opteryx_spark.operators import profile

    src = str(tmp_path_factory.mktemp("oxs_hll_src"))
    out = str(tmp_path_factory.mktemp("oxs_hll_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_hll_ckpt"))
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    orders.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(orders.schema).parquet(src)
    regs = streaming.hll_registers_stream(stream, "o_custkey", p=12)
    streaming.run_stream_once(regs, out, ckpt)

    streamed = (
        spark.read.parquet(out).groupBy("bucket").agg(F.max("mj").alias("mj"))
    )
    # feed the streamed registers through the same harmonic arithmetic
    n_present = streamed.count()
    sum_present = streamed.select(
        F.sum(F.pow(F.lit(2.0), (F.lit(21) - F.col("mj")).cast("double")).cast("long"))
    ).first()[0]
    m = 4096
    sum_scaled = sum_present + (m - n_present) * (1 << 21)

    want = profile.hll_estimate_portable(orders, "o_custkey", p=12).first()
    assert n_present == m - want.n_zero_registers
    assert sum_scaled == want.sum_scaled  # byte-identical registers


def test_rolling_features_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """Drained availableNow over in-order input, the stateful stream must
    emit exactly the batch RANGE-window features (same frame, same exact
    value sums)."""
    from opteryx_spark.catalog import load_table
    from opteryx_spark.operators import events as E

    src = str(tmp_path_factory.mktemp("oxs_roll_src"))
    out = str(tmp_path_factory.mktemp("oxs_roll_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_roll_ckpt"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    ev.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    feats = streaming.rolling_features_stream(stream, window_seconds=3600)
    streaming.run_stream_once(feats, out, ckpt)
    got = {
        r.event_id: (r.n_win, r.value_win)
        for r in spark.read.parquet(out).collect()
    }

    want = {
        r.event_id: (r.n_win, r.value_win)
        for r in E.rolling_window_features(ev, window_seconds=3600).collect()
    }
    assert got == want


def test_row_checks_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """The streaming validation gate's final update must equal the batch
    report (same fused counters)."""
    from opteryx_spark.catalog import load_table
    from opteryx_spark.operators import quality

    src = str(tmp_path_factory.mktemp("oxs_qc_src"))
    ckpt = str(tmp_path_factory.mktemp("oxs_qc_ckpt"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    docs.write.mode("overwrite").parquet(src)
    checks = [
        ("not_null", "lang"),
        ("accepted_values", "lang", ["en", "fr", "de"]),
        ("in_range", "n_chars", 1, 400),
    ]

    stream = spark.readStream.schema(docs.schema).parquet(src)
    rep = streaming.row_checks_stream(stream, checks)
    q = (
        rep.writeStream.format("memory")
        .queryName("qc_stream")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.check: (r.n_rows, r.n_violations, r.passed)
        for r in spark.sql("SELECT * FROM qc_stream").collect()
    }
    want = {
        r.check: (r.n_rows, r.n_violations, r.passed)
        for r in quality.row_checks(docs, checks).collect()
    }
    assert got == want


def test_calibration_bins_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """A single availableNow drain must emit the batch reliability table
    row-for-row (bounded n_bins-triple state, exact int arithmetic)."""
    from opteryx_spark.catalog import load_table
    from opteryx_spark.operators.features import calibration_bins

    src = str(tmp_path_factory.mktemp("oxs_cal_src"))
    out = str(tmp_path_factory.mktemp("oxs_cal_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_cal_ckpt"))
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    scored = ev.select(
        F.least(
            F.lit(1000000).cast("bigint"),
            F.greatest(
                F.lit(0).cast("bigint"),
                F.floor(F.col("value").cast("double") * 10000.0).cast("bigint"),
            ),
        ).alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).cast("bigint").alias("y"),
    )
    want = {
        (r.bin, r.n, r.conf_ppm, r.acc_ppm, r.gap_ppm)
        for r in calibration_bins(scored, "s", "y", n_bins=10).collect()
    }
    scored.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(scored.schema).parquet(src)
    bins = streaming.calibration_bins_stream(stream, "s", "y", n_bins=10)
    streaming.run_stream_once(bins, out, ckpt)
    got = {
        (r.bin, r.n, r.conf_ppm, r.acc_ppm, r.gap_ppm)
        for r in spark.read.parquet(out).collect()
    }
    assert got == want


def test_holt_linear_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """In-order single-batch drain: the stateful Holt fold must emit the
    batch operator's exact (level, trend, forecast) per key."""
    from opteryx_spark.catalog import load_table
    from opteryx_spark.operators.timeseries import holt_linear

    src = str(tmp_path_factory.mktemp("oxs_holt_src"))
    out = str(tmp_path_factory.mktemp("oxs_holt_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_holt_ckpt"))
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    want = {
        (r.event_type, r.n_points, r.level_q, r.trend_q, r.forecast_next_q)
        for r in holt_linear(daily, ["event_type"], "d", "cnt").collect()
        if r.event_type is not None  # string-keyed stream drops the NULL key
    }
    daily.filter(F.col("event_type").isNotNull()).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        daily.filter(F.col("event_type").isNotNull()).schema
    ).parquet(src)
    holt = streaming.holt_linear_stream(stream, "event_type", "d", "cnt")
    streaming.run_stream_once(holt, out, ckpt)
    got = {
        (r.event_type, r.n_points, r.level_q, r.trend_q, r.forecast_next_q)
        for r in spark.read.parquet(out).collect()
    }
    assert got == want


def test_holt_linear_stream_multibatch_continues_state(spark, tmp_path_factory):
    """Feeding the tail of a series in a SECOND drain must continue the
    fold from stored state — equal to the batch fold over the whole
    series."""
    import os

    from opteryx_spark.operators.timeseries import holt_linear

    src = str(tmp_path_factory.mktemp("oxs_holt2_src"))
    out = str(tmp_path_factory.mktemp("oxs_holt2_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_holt2_ckpt"))
    rows = [("a", t, 10 + 3 * t + (t % 2)) for t in range(1, 9)]
    full = spark.createDataFrame(rows, ["k", "t", "v"])
    want = {
        (r.n_points, r.level_q, r.trend_q)
        for r in holt_linear(full, ["k"], "t", "v").collect()
    }
    head = full.filter("t <= 4")
    tail = full.filter("t > 4")
    head.write.mode("overwrite").parquet(src)
    schema = full.schema

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        holt = streaming.holt_linear_stream(stream, "k", "t", "v")
        streaming.run_stream_once(holt, out, ckpt)

    drain()
    # append the tail as new files into the SAME source dir
    tmpd = src + "_tail"
    tail.write.mode("overwrite").parquet(tmpd)
    for f in os.listdir(tmpd):
        if f.endswith(".parquet"):
            os.rename(os.path.join(tmpd, f), os.path.join(src, "tail_" + f))
    drain()
    # latest emission per key = the max-n_points row
    final = max(
        ((r.n_points, r.level_q, r.trend_q) for r in spark.read.parquet(out).collect()),
        key=lambda x: x[0],
    )
    assert {final} == want


def test_calibration_bins_stream_multibatch_merges_state(spark, tmp_path_factory):
    """A second drain over NEW predictions must fold into the stored
    (n, Σs, Σy) triples — final per-bin rows equal the batch table over
    the union."""
    import os

    from opteryx_spark.operators.features import calibration_bins

    src = str(tmp_path_factory.mktemp("oxs_cal2_src"))
    out = str(tmp_path_factory.mktemp("oxs_cal2_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_cal2_ckpt"))
    rows = [(i * 97_000 % 1_000_001, i % 2) for i in range(60)]
    full = spark.createDataFrame(rows, ["s", "y"])
    want = {
        (r.bin, r.n, r.conf_ppm, r.acc_ppm, r.gap_ppm)
        for r in calibration_bins(full, "s", "y", n_bins=10).collect()
    }
    head = full.limit(30)
    tail = full.exceptAll(head)
    head.write.mode("overwrite").parquet(src)

    def drain():
        stream = spark.readStream.schema(full.schema).parquet(src)
        bins = streaming.calibration_bins_stream(stream, "s", "y", n_bins=10)
        streaming.run_stream_once(bins, out, ckpt)

    drain()
    tmpd = src + "_tail"
    tail.write.mode("overwrite").parquet(tmpd)
    for f in os.listdir(tmpd):
        if f.endswith(".parquet"):
            os.rename(os.path.join(tmpd, f), os.path.join(src, "tail_" + f))
    drain()
    latest = {}
    for r in spark.read.parquet(out).collect():
        if r.bin not in latest or r.n > latest[r.bin][1]:
            latest[r.bin] = (r.bin, r.n, r.conf_ppm, r.acc_ppm, r.gap_ppm)
    assert set(latest.values()) == want


def test_kmv_registers_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """Reducing the sharded stream emissions to the global bottom-k must
    reproduce the batch sketch's registers and estimate exactly."""
    from opteryx_spark.catalog import load_table
    from opteryx_spark.operators.hashing import hash32

    k = 64
    src = str(tmp_path_factory.mktemp("oxs_kmv_src"))
    out = str(tmp_path_factory.mktemp("oxs_kmv_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_kmv_ckpt"))
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    orders.write.mode("overwrite").parquet(src)

    # batch reference: global bottom-k of the distinct portable hashes
    want_bk = [
        r["h"]
        for r in orders.filter(F.col("o_custkey").isNotNull())
        .select(hash32(F.col("o_custkey").cast("long")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
        .collect()
    ]
    n_distinct = (
        orders.filter(F.col("o_custkey").isNotNull())
        .select("o_custkey")
        .distinct()
        .count()
    )
    want_est = n_distinct if n_distinct < k else (k - 1) * 4294967296 // want_bk[-1]

    stream = spark.readStream.schema(orders.schema).parquet(src)
    regs = streaming.kmv_registers_stream(stream, "o_custkey", k=k, n_shards=8)
    streaming.run_stream_once(regs, out, ckpt)

    emitted = sorted({r["h"] for r in spark.read.parquet(out).collect()})
    got_bk = emitted[:k]
    assert got_bk == want_bk  # byte-identical registers after reduction
    got_est = len(got_bk) if len(emitted) < k else (k - 1) * 4294967296 // got_bk[-1]
    assert got_est == want_est


def test_holt_winters_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """In-order single-batch drain: the stateful Holt-Winters fold must
    emit the batch operator's exact (level, trend, season, forecast)
    per key."""
    from opteryx_spark.catalog import load_table
    from opteryx_spark.operators.timeseries import holt_winters

    src = str(tmp_path_factory.mktemp("oxs_hw_src"))
    out = str(tmp_path_factory.mktemp("oxs_hw_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_hw_ckpt"))
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    want = {
        (r.event_type, r.n_points, r.level_q, r.trend_q,
         r.season_next_q, r.forecast_next_q)
        for r in holt_winters(daily, ["event_type"], "d", "cnt", period=7).collect()
        if r.event_type is not None
    }
    daily.filter(F.col("event_type").isNotNull()).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        daily.filter(F.col("event_type").isNotNull()).schema
    ).parquet(src)
    hw = streaming.holt_winters_stream(stream, "event_type", "d", "cnt", period=7)
    streaming.run_stream_once(hw, out, ckpt)
    got = {
        (r.event_type, r.n_points, r.level_q, r.trend_q,
         r.season_next_q, r.forecast_next_q)
        for r in spark.read.parquet(out).collect()
    }
    assert got == want


def test_holt_winters_stream_multibatch_continues_state(spark, tmp_path_factory):
    """A second drain over the series tail must continue the fold — the
    state ring included — equal to the batch fold over the whole
    series."""
    import os

    from opteryx_spark.operators.timeseries import holt_winters

    src = str(tmp_path_factory.mktemp("oxs_hw2_src"))
    out = str(tmp_path_factory.mktemp("oxs_hw2_out"))
    ckpt = str(tmp_path_factory.mktemp("oxs_hw2_ckpt"))
    rows = [("a", t, 10 + 3 * t + 7 * (t % 3)) for t in range(1, 12)]
    full = spark.createDataFrame(rows, ["k", "t", "v"])
    want = {
        (r.n_points, r.level_q, r.trend_q, r.season_next_q)
        for r in holt_winters(full, ["k"], "t", "v", period=3).collect()
    }
    head = full.filter("t <= 6")
    tail = full.filter("t > 6")
    head.write.mode("overwrite").parquet(src)
    schema = full.schema

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        hw = streaming.holt_winters_stream(stream, "k", "t", "v", period=3)
        streaming.run_stream_once(hw, out, ckpt)

    drain()
    tmpd = src + "_tail"
    tail.write.mode("overwrite").parquet(tmpd)
    for f in os.listdir(tmpd):
        if f.endswith(".parquet"):
            os.rename(os.path.join(tmpd, f), os.path.join(src, "tail_" + f))
    drain()
    final = max(
        ((r.n_points, r.level_q, r.trend_q, r.season_next_q)
         for r in spark.read.parquet(out).collect()),
        key=lambda x: x[0],
    )
    assert {final} == want
