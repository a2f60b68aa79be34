"""End-to-end corpus curation: the composed training-data pipeline.

quality-filter → exact dedup → near-dup dedup (MinHash verify) →
language routing → partitioned write.  Each stage is one of the tested
operators in this package; this module wires them into the pipeline a
100 TB pretraining-data job actually runs, with the write partitioned by
language so downstream consumers prune at the directory level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opteryx_spark import cache
from opteryx_spark.operators import dedup, text


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    min_quality: float = 0.4,
    neardup_threshold: float = 0.9,
) -> DataFrame:
    """Return the curated corpus with per-doc stats and survival flags.

    Stages (all lazy, one job when written):
    1. stats + quality scoring (pure expressions)
    2. exact dedup: keep the lowest id per content digest
    3. near-dup dedup: drop the higher id of each verified MinHash pair
    4. survival flag + reason, so the output is auditable (nothing is
       silently dropped — a curation run you can't audit is a curation
       run you can't debug at scale)
    """
    stats = text.with_text_stats(docs, text_col).withColumn(
        # token budgeting for the training run: BPE-ish counts track the
        # trained-tokenizer ceiling (operators/text.py::bpe_tokens)
        "n_bpe_tokens",
        text.bpe_token_count(text_col),
    )

    # exact keep-set + near-dup drop-set both join back on the SAME key
    # (id), so Catalyst shuffles the wide stats frame ONCE and reuses the
    # partitioning for both joins.  (An inline min-over-digest window — the
    # v2 formulation — would be a SECOND full-width shuffle here, because
    # the near-dup join by id is unavoidable; measured slower at sf0.1.)
    digests = dedup.content_hash_dedup(docs, id_col, text_col)
    exact_keep = digests.select(F.col("keep_id").alias(id_col)).withColumn(
        "_exact_keep", F.lit(True)
    )

    near_pairs = dedup.minhash_dedup_verified(
        docs, id_col, text_col, threshold=neardup_threshold
    )
    near_drop = near_pairs.select(F.col("id2").alias(id_col)).distinct().withColumn(
        "_near_drop", F.lit(True)
    )

    flagged = (
        stats.join(exact_keep, id_col, "left")
        .join(near_drop, id_col, "left")
        .withColumn(
            "drop_reason",
            # NULL text first: every numeric gate evaluates NULL on it and
            # would silently fall through to kept
            F.when(F.col(text_col).isNull(), "invalid_text")
            .when(F.col("n_tokens") < min_tokens, "too_short")
            .when(F.col("quality") < min_quality, "low_quality")
            .when(F.col("_exact_keep").isNull(), "exact_duplicate")
            .when(F.col("_near_drop").isNotNull(), "near_duplicate"),
        )
        .withColumn("kept", F.col("drop_reason").isNull())
        .drop("_exact_keep", "_near_drop")
    )
    return flagged


def write_curated(
    curated: DataFrame, out_dir: str, partition_col: str = "lang"
) -> None:
    """Write kept docs partitioned by language (directory-level pruning
    for downstream consumers)."""
    (
        curated.filter(F.col("kept"))
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(out_dir)
    )


def curation_report(curated: DataFrame) -> DataFrame:
    """Per-reason accounting of the curation run (v1 frames carry
    ``n_tokens``, v2 frames ``n_words`` — either resolves)."""
    tok = "n_tokens" if "n_tokens" in curated.columns else "n_words"
    return (
        curated.groupBy(F.coalesce("drop_reason", F.lit("kept")).alias("outcome"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(tok).alias("n_tokens"),
        )
        .orderBy("outcome")
    )


def curate_corpus_v2(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quota_cols: list[str] | None = None,
    n_per_group: int = 5,
    min_tokens: int = 10,
    decontaminate_k: int = 3,
    min_overlap: int = 3,
    gopher_thresholds: dict | None = None,
    stopword_langs: list[str] | None = None,
) -> DataFrame:
    """The modern pre-training curation pipeline, composed end-to-end:
    Gopher quality gates → benchmark decontamination → exact dedup →
    per-stratum quota, with auditable drop precedence.

    Flag precedence (first match wins): ``too_short`` → ``fails_gopher``
    → ``contaminated`` → ``exact_duplicate`` → ``over_quota`` → kept.
    The quota ranks only docs that survived every earlier stage, so a
    dropped duplicate never consumes a stratum slot.  Every stage is one
    of the individually-oracled operators in this package; the
    composition itself is oracle-checked by the suite entry.
    """
    from pyspark.sql import Window

    from opteryx_spark.operators import filtering

    gated = filtering.gopher_quality(docs, text_col, gopher_thresholds, stopword_langs)
    flagged = filtering.decontaminate(
        gated, benchmark, id_col, text_col, k=decontaminate_k, min_overlap=min_overlap
    )
    # exact dedup inline: the canonical exemplar choice (min id per sha256
    # digest, same as dedup.content_hash_dedup) as a window over the gated
    # frame — docs is not re-scanned and no keep-set join is needed (one
    # digest-keyed shuffle, uniform key, skew-free)
    wd = Window.partitionBy("_digest")
    flagged = (
        flagged.withColumn("_digest", F.sha2(F.col(text_col), 256))
        .withColumn(
            "_exact_keep",
            F.coalesce(F.col(id_col) == F.min(id_col).over(wd), F.lit(False)),
        )
        .drop("_digest")
    )
    pre_quota_ok = (
        (F.col("n_words") >= min_tokens)
        & F.col("passes_gopher")
        & ~F.col("contaminated")
        & F.col("_exact_keep")
    )
    quota_cols = quota_cols or ["lang", "source"]
    # rank survivors WITHOUT a self-join: the window partitions by
    # (strata..., pre_quota_ok), so survivors rank only against survivors
    # of their stratum (identical to ranking a filtered frame) while
    # failing docs rank in partitions nobody consults — the earlier flag
    # always matches first.  One window on the already-flowing frame; the
    # old rank-and-join-back formulation re-derived the whole upstream
    # pipeline (decontaminate + gates) a second time.
    w = Window.partitionBy(*quota_cols, "_ok").orderBy(*filtering.quota_order(id_col))
    ranked = (
        flagged.withColumn("_ok", pre_quota_ok)
        .withColumn("_qrank", F.row_number().over(w))
        .drop("_ok")
    )
    return (
        ranked.withColumn(
            "drop_reason",
            F.when(F.col(text_col).isNull(), "invalid_text")
            .when(F.col("n_words") < min_tokens, "too_short")
            .when(~F.col("passes_gopher"), "fails_gopher")
            .when(F.col("contaminated"), "contaminated")
            .when(~F.col("_exact_keep"), "exact_duplicate")
            .when(F.col("_qrank") > n_per_group, "over_quota"),
        )
        .withColumn("kept", F.col("drop_reason").isNull())
        .drop("_exact_keep", "_qrank")
    )


def curate_corpus_v3(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_min_doc_freq: int = 2,
    chunk_tokens: int = 16,
    min_chunk_tokens: int = 4,
    min_tokens: int = 10,
    min_quality: float = 0.4,
) -> DataFrame:
    """The text-REWRITING curation pipeline (C4/RefinedWeb order): stages
    that EDIT documents run before stages that judge them, because
    boilerplate inflates token counts and drags quality scores.

    1. line-frequency boilerplate removal (``filtering.
       remove_boilerplate_lines`` — drop lines in >= ``line_min_doc_freq``
       docs);
    2. exact-substring chunk dedup on the cleaned text
       (``dedup.remove_duplicate_chunks`` — one keeper per duplicated
       window corpus-wide);
    3. quality + length gates on what REMAINS;
    4. exact dedup of the final text (lowest-id keeper).

    Returns per-doc accounting: ``n_tokens_raw`` (before any edit),
    ``n_tokens_final`` (after both rewrites), ``final_text``, and
    ``outcome`` with precedence ``invalid_text`` (NULL input) →
    ``all_removed`` (nothing survived the rewrites) → ``too_short`` →
    ``low_quality`` → ``exact_duplicate`` → ``kept`` — the token-loss
    audit a data-governance review asks for.

    Scale: stages 1-2 are the audited digest-keyed shapes of their
    operators; stages 3-4 add one map pass and one digest aggregate.
    Nothing here is new machinery — the pipeline is evidence the
    operators COMPOSE.

    Split form for the build-once/gate-many deployment:
    :func:`curate_rewrite_corpus` (stages 1-2, the offline corpus
    rewrite — materialize to parquet once per corpus change) +
    :func:`curate_gate_outcomes` (stages 3-4 over the stored artifact).
    This function is exactly their composition.
    """
    return curate_gate_outcomes(
        curate_rewrite_corpus(
            docs, id_col, text_col, line_min_doc_freq, chunk_tokens,
            min_chunk_tokens,
        ),
        id_col,
        min_tokens=min_tokens,
        min_quality=min_quality,
    )


def curate_rewrite_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_min_doc_freq: int = 2,
    chunk_tokens: int = 16,
    min_chunk_tokens: int = 4,
) -> DataFrame:
    """Stages 1-2 of :func:`curate_corpus_v3` — the OFFLINE corpus
    rewrite: line-frequency boilerplate removal, then exact-substring
    chunk dedup on the cleaned text.  Returns the rewrite artifact
    ``(id_col, n_tokens_raw BIGINT, final_text)``: write it to parquet
    once per corpus change and serve every downstream gate pass from the
    stored artifact (:func:`curate_gate_outcomes`) without re-running
    either rewrite — the rewrites are the corpus-sized cost, the gates
    are one map pass plus one digest aggregate.
    """
    from opteryx_spark.operators import filtering

    nn = F.col(text_col).isNotNull()
    raw_tokens = text.tokens(F.regexp_replace(F.col(text_col), "\n", " "))

    # Stage-boundary persists: each rewrite operator internally branches
    # its input 3-4 ways (frequency pass + decision join + rebuild), so
    # COMPOSING them without a barrier multiplies upstream re-derivation —
    # measured 48 input scans / 104 exchanges in the unpersisted plan,
    # which at 100 TB means re-reading the corpus ~48x.  Persisting the
    # two stage outputs cuts this to one derivation per stage; see
    # ``opteryx_spark.cache.cache_scope`` for their lifetime.
    s1 = cache.persist(
        filtering.remove_boilerplate_lines(
            docs.withColumn(
                "_n_tokens_raw", F.when(nn, F.size(raw_tokens)).cast("long")
            ),
            id_col,
            text_col,
            min_doc_freq=line_min_doc_freq,
        ).select(
            id_col,
            "_n_tokens_raw",
            F.regexp_replace(F.col("cleaned_text"), "\n", " ").alias("_t1"),
        )
    )
    return cache.persist(
        dedup.remove_duplicate_chunks(
            s1, id_col, "_t1", chunk_tokens=chunk_tokens,
            min_chunk_tokens=min_chunk_tokens,
        ).select(
            id_col,
            F.col("_n_tokens_raw").alias("n_tokens_raw"),
            F.col("cleaned_text").alias("final_text"),
        )
    )


def curate_gate_outcomes(
    rewritten: DataFrame,
    id_col: str = "doc_id",
    min_tokens: int = 10,
    min_quality: float = 0.4,
) -> DataFrame:
    """Stages 3-4 of :func:`curate_corpus_v3` — quality/length gates and
    exact dedup over a stored :func:`curate_rewrite_corpus` artifact
    (``id_col, n_tokens_raw, final_text``), emitting the per-doc outcome
    audit.  The ONLINE half of the split: no token
    re-derivation of the raw corpus, one map pass + one digest aggregate
    + one id-keyed join against the keeper set.
    """
    s2 = rewritten.select(
        id_col, F.col("n_tokens_raw").alias("_n_tokens_raw"), "final_text"
    )
    ft = F.col("final_text")
    n_final = F.when(ft.isNotNull(), F.size(text.tokens(ft))).cast("long")
    quality = text.quality_score("final_text")
    scored = s2.select(
        id_col,
        F.col("_n_tokens_raw").alias("n_tokens_raw"),
        "final_text",
        n_final.alias("n_tokens_final"),
        quality.alias("_quality"),
        F.when(ft.isNotNull() & (n_final > 0), F.md5(ft)).alias("_digest"),
    )
    keep = (
        scored.filter(F.col("_digest").isNotNull())
        .groupBy("_digest")
        .agg(F.min(id_col).alias("_keep_id"))
    )
    out = (
        scored.join(keep, "_digest", "left")
        .withColumn(
            "outcome",
            F.when(ft.isNull(), F.lit("invalid_text"))
            .when(F.col("n_tokens_final") == 0, F.lit("all_removed"))
            .when(F.col("n_tokens_final") < min_tokens, F.lit("too_short"))
            .when(F.col("_quality") < min_quality, F.lit("low_quality"))
            .when(F.col(id_col) != F.col("_keep_id"), F.lit("exact_duplicate"))
            .otherwise(F.lit("kept")),
        )
        .select(id_col, "n_tokens_raw", "n_tokens_final", "final_text", "outcome")
    )
    return out


def curate_incremental(
    new_docs: DataFrame,
    corpus_digests: DataFrame,
    window_digests: DataFrame,
    lsh_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 16,
    min_chunk_tokens: int = 4,
    neardup_threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    lsh_k: int = 2,
    max_bucket: int = 1000,
    min_tokens: int = 10,
    min_quality: float = 0.4,
    portable_hash: bool = True,
) -> DataFrame:
    """The recurring-crawl curation pipeline, composed end-to-end from
    the three incremental-dedup artifacts: a new crawl is judged against
    the ACCEPTED corpus without the corpus ever being re-read — every
    corpus-sized computation happened once, offline, when the artifacts
    were built.

    Inputs (each a stored parquet artifact, or the builder's output):
    - ``corpus_digests`` — :func:`dedup.corpus_digests
      <opteryx_spark.operators.dedup.corpus_digests>` (``_digest``):
      byte-exact membership (token-set fingerprint keys).
    - ``window_digests`` — :func:`dedup.window_digests
      <opteryx_spark.operators.dedup.window_digests>` (``_ck``):
      the exact-substring window index.
    - ``lsh_index`` — :func:`dedup.minhash_index
      <opteryx_spark.operators.dedup.minhash_index>`
      (``corpus_id, band, bh, sig``): the near-dup index (must have been
      built with the same ``num_hashes``/``bands``/``lsh_k``/
      ``portable_hash``).

    Stages over the DELTA only:
    1. byte-exact: fingerprint each new doc, one key join against
       ``corpus_digests``;
    2. near-dup: sign each new doc, one (band, bh) bucket join against
       ``lsh_index`` (:func:`dedup.minhash_dedup_against_index` — raw
       text, the representation the index was built from);
    3. exact-substring rewrite: remove every window already in
       ``window_digests``, rebuild survivors
       (:func:`dedup.remove_chunks_in_corpus`);
    4. quality/length gates on the REWRITTEN text.

    Output: one audited row per new doc — ``already_in_corpus``,
    ``best_match_id``/``est_jaccard``, ``n_chunks``/
    ``n_removed_chunks``/``n_tokens_final``/``final_text``, and
    ``outcome`` with precedence ``invalid_text`` → ``exact_in_corpus`` →
    ``near_dup_in_corpus`` → ``all_removed`` → ``too_short`` →
    ``low_quality`` → ``kept`` (judgments before rewrites before gates:
    a doc the corpus already holds never wastes gate work downstream,
    and per-stage counts fall out of one ``groupBy(outcome)``).

    Scale shape: the three artifact joins are each single-pass over the
    delta and key-slim (digest set, window digest set, banded buckets);
    the delta is scanned once per stage (bounded — the delta is the
    small side by construction); nothing re-derives the corpus.  The
    plan test asserts the corpus source appears NOWHERE in the composed
    plan — the artifacts fully decouple crawl cycles from corpus size.
    """
    from opteryx_spark.operators import dedup as _dedup
    from opteryx_spark.operators import text as _text

    did = F.col(id_col)
    # r12 (guide §2.4): the delta feeds FOUR branches (byte-exact
    # fingerprint, minhash signing, window rewrite, final outcome join) —
    # without a persist the composed plan re-reads the new-crawl source
    # once per branch (6 delta scans in the r12 plan audit).  The delta is
    # the small side by construction, so persisting the slim (id, text)
    # projection is bounded and recomputable.
    slim = cache.persist(new_docs.select(id_col, text_col))

    # 1. byte-exact membership (token-set fingerprint, the
    # dedup_against_corpus "fingerprint" key)
    ex = (
        slim.withColumn("_fp", _text.fingerprint(text_col))
        .join(
            corpus_digests.select(F.col("_digest").alias("_fp"))
            .distinct()
            .withColumn("_seen", F.lit(True)),
            "_fp",
            "left",
        )
        .select(did.alias("_eid"), F.col("_seen").isNotNull().alias("already_in_corpus"))
    )

    # 2. near-dup membership against the LSH index (raw text — the
    # representation the index was signed from)
    fz = _dedup.minhash_dedup_against_index(
        slim,
        lsh_index,
        id_col,
        text_col,
        threshold=neardup_threshold,
        num_hashes=num_hashes,
        bands=bands,
        k=lsh_k,
        max_bucket=max_bucket,
        portable_hash=portable_hash,
    ).select(did.alias("_fid"), "best_match_id", "est_jaccard")

    # 3. exact-substring rewrite against the window index
    rw = _dedup.remove_chunks_in_corpus(
        slim,
        window_digests,
        id_col,
        text_col,
        chunk_tokens=chunk_tokens,
        min_chunk_tokens=min_chunk_tokens,
    ).select(
        did.alias("_rid"),
        "n_chunks",
        "n_removed_chunks",
        F.col("cleaned_text").alias("final_text"),
    )

    # 4. gates on the rewritten text + outcome precedence
    ft = F.col("final_text")
    n_final = F.when(ft.isNotNull(), F.size(_text.tokens(ft))).cast("long")
    out = (
        new_docs.join(ex, did == F.col("_eid"), "left")
        .join(fz, did == F.col("_fid"), "left")
        .join(rw, did == F.col("_rid"), "left")
        .drop("_eid", "_fid", "_rid")
        .withColumn("n_tokens_final", n_final)
        .withColumn("_quality", _text.quality_score("final_text"))
        .withColumn(
            "outcome",
            F.when(F.col(text_col).isNull(), "invalid_text")
            .when(F.col("already_in_corpus"), "exact_in_corpus")
            .when(F.col("best_match_id").isNotNull(), "near_dup_in_corpus")
            .when(F.col("n_tokens_final") == 0, "all_removed")
            .when(F.col("n_tokens_final") < min_tokens, "too_short")
            .when(F.col("_quality") < min_quality, "low_quality")
            .otherwise("kept"),
        )
        .drop("_quality")
    )
    return out
