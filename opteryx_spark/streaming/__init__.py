"""Structured Streaming extensions (beyond the reference's scope).

The reference has no streaming surface (SURVEY.md §2.10); these helpers
give the engine a streaming twin of the batch operators so the same
pipeline definitions run over event streams:

- :func:`read_events_stream` — file-source stream over an events
  directory (schema locked from a batch sample: required for streaming).
- :func:`hourly_rollup_stream` — watermarked tumbling-window aggregation
  (the streaming twin of the ``events_hourly_rollup`` suite entry).
- :func:`sessionize` — stateful session windows via ``session_window``.

At scale these run on the same shuffle/partitioning rules as batch; the
watermark bounds state size (late data beyond 1 hour is dropped, which is
the correctness/state trade a 100 TB stream requires).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_events_stream(spark: SparkSession, path: str, schema=None, ts_col: str = "ts") -> DataFrame:
    """File-source stream over a parquet directory.

    Handles TIMESTAMP(NANOS) parquet columns the same way the batch
    catalog does (``catalog.load_table``): read as long, convert to µs.
    """
    if schema is None:
        schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    if ts_col in stream.columns:
        dtype = dict(stream.dtypes)[ts_col]
        if dtype == "bigint":
            esc = ts_col.replace("`", "``")
            stream = stream.withColumn(ts_col, F.timestamp_micros(F.expr(f"`{esc}` div 1000")))
        elif dtype == "timestamp_ntz":
            # watermarks require TIMESTAMP; event files carry UTC instants.
            # Derive the instant arithmetically (µs since the naive epoch =
            # µs since the UTC epoch) — a cast or to_utc_timestamp would
            # re-interpret the naive value in the session timezone.
            epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
            stream = stream.withColumn(
                ts_col,
                F.timestamp_micros(F.timestamp_diff("MICROSECOND", epoch, F.col(ts_col))),
            )
    return stream


def hourly_rollup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming tumbling-window rollup; emits (window, event_type, n, total_value)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(25,8)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionize(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Session windows per user (gap-based), state bounded by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,8)")).cast("double").alias("session_value"),
        )
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def run_stream_once(stream_df: DataFrame, out_path: str, checkpoint: str) -> None:
    """Drain the stream with availableNow (batch-equivalent semantics)."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running totals via
    ``applyInPandasWithState`` (arbitrary state, Arrow-batched).

    Demonstrates the extension point for stateful logic Spark's built-in
    windows can't express (counters, custom sessionization, CEP).  State
    is one (count, total) pair per user — O(distinct users) memory,
    partitioned by the grouping key across executors.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop repeats of ``keys`` arriving within the
    watermark horizon (``dropDuplicatesWithinWatermark`` keeps state
    bounded — entries expire once the watermark passes, unlike unbounded
    ``dropDuplicates`` state).  The streaming twin of the batch
    ``operators/dedup.exact_dedup``; at-least-once sources (Kafka
    replays, retried files) become exactly-once rows downstream.
    """
    keys = keys or ["event_id"]
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def decontaminate_stream(
    docs: DataFrame,
    benchmark_grams: DataFrame,
    text_col: str = "text",
    k: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Streaming twin of ``operators/filtering.decontaminate``: flag
    streamed documents that share word k-grams with a static benchmark
    set.

    The benchmark gram set (a static one-column DataFrame, e.g.
    ``decontaminated benchmark.select(explode(shingles(...)))``) is
    collapsed to a single broadcast array row, so each micro-batch
    evaluates membership with a row-local ``array_intersect`` — no
    streaming state, append-mode compatible.  This is the streaming
    membership-structure pattern: at 100 TB benchmark scale the array
    becomes a bloom filter, the plan shape is identical.
    """
    from opteryx_spark.operators import text as _text

    bench_row = F.broadcast(
        benchmark_grams.agg(F.collect_set(benchmark_grams.columns[0]).alias("_bg"))
    )
    overlap = F.size(F.array_intersect(_text.shingles(text_col, k), F.col("_bg")))
    return (
        docs.crossJoin(bench_row)
        .withColumn("n_contaminated_ngrams", overlap.cast("long"))
        .withColumn("contaminated", F.col("n_contaminated_ngrams") >= min_overlap)
        .drop("_bg")
    )


def quota_sample_stream(
    docs: DataFrame,
    group_cols: list[str],
    n_per_group: int,
    output_schema: str,
) -> DataFrame:
    """Streaming per-group quota admission via ``applyInPandasWithState``.

    The streaming twin of ``operators/filtering.quota_sample`` with the
    semantics a stream permits: the batch operator picks a reproducible
    md5-ordered subset of a *complete* group, a stream cannot see the
    future, so this admits the first ``n_per_group`` arrivals per group
    and drops the rest.  State is ONE counter per group — O(groups)
    memory, partitioned across executors by the group key; columns in
    ``output_schema`` must match the input frame's columns.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def admit(key, pdf_iter, state: GroupState):
        (taken,) = state.get if state.exists else (0,)
        for pdf in pdf_iter:
            if taken >= n_per_group:
                break
            room = n_per_group - taken
            admitted = pdf.iloc[:room]
            taken += len(admitted)
            if len(admitted):
                yield admitted
        state.update((taken,))

    return docs.groupBy(*group_cols).applyInPandasWithState(
        admit,
        outputStructType=output_schema,
        stateStructType="taken long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def curate_stream_v2(
    docs: DataFrame,
    benchmark_grams: DataFrame,
    text_col: str = "text",
    quota_cols: list[str] | None = None,
    n_per_group: int = 5,
    min_tokens: int = 10,
    decontaminate_k: int = 3,
    min_overlap: int = 3,
    gopher_thresholds: dict | None = None,
    stopword_langs: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming unification of ``operators/curate.curate_corpus_v2``:
    Gopher gates → stream-static decontamination → exact dedup within the
    watermark → stateful per-stratum quota admission, composed over a
    stream.

    Emits the ADMITTED documents (the curated stream); auditing dropped
    docs is the batch pipeline's job.  Stage-by-stage batch parity, with
    the two semantics a stream permits (both documented on the underlying
    operators): dedup keeps the FIRST arrival of a digest instead of the
    min id, and the quota admits the first ``n_per_group`` arrivals per
    stratum instead of the md5-ordered subset — so per-stratum admitted
    COUNTS match the batch run exactly, and every admitted digest is a
    batch pre-quota survivor (the admitted SET is arrival-order
    dependent when survivors exceed the quota; the equivalence test
    asserts exactly this subset relation).

    Scale shape: gates are map-only, the benchmark set is one broadcast
    array row, dedup state is watermark-bounded, quota state is one
    counter per stratum.
    """
    from opteryx_spark.operators import filtering

    quota_cols = quota_cols or ["lang", "source"]
    gated = filtering.gopher_quality(docs, text_col, gopher_thresholds, stopword_langs)
    flagged = decontaminate_stream(
        gated, benchmark_grams, text_col, k=decontaminate_k, min_overlap=min_overlap
    )
    survivors = flagged.filter(
        F.col(text_col).isNotNull()
        & (F.col("n_words") >= min_tokens)
        & F.col("passes_gopher")
        & ~F.col("contaminated")
    )
    deduped = (
        survivors.withColumn("_digest", F.sha2(F.col(text_col), 256))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_digest"])
        .drop("_digest")
    )
    # applyInPandasWithState needs an explicit output schema: pass the
    # admitted frame through unchanged
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in deduped.schema.fields
    )
    return quota_sample_stream(deduped, quota_cols, n_per_group, out_schema)


def remove_boilerplate_lines_stream(
    docs: DataFrame,
    hot_digests: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Streaming twin of ``operators/filtering.remove_boilerplate_lines``.

    ``hot_digests`` is the STATIC hot-line digest set (one ``_dg``
    column; build it with ``filtering.hot_line_digests`` over a reference
    corpus) — line frequency is a corpus-global statistic a stream cannot
    learn online, so the streaming form is the deploy shape real
    pipelines use: offline frequency pass, online drop.  The set is
    collapsed to one broadcast array row and each micro-batch filters
    lines row-locally with higher-order functions — no streaming state,
    append-mode compatible.  Same membership-structure pattern as
    ``decontaminate_stream`` (array today, bloom filter at 100 TB — plan
    shape identical).  Output columns match the batch operator
    (``n_lines``, ``n_boilerplate_lines``, ``boilerplate_line_fraction``,
    ``cleaned_text``); NULL text → NULL outputs.
    """
    hot_row = F.broadcast(
        hot_digests.agg(F.collect_set(hot_digests.columns[0]).alias("_hl"))
    )
    c = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(c, "\n"), lambda x: F.trim(x)), lambda x: x != ""
    )
    kept = F.filter(lines, lambda l: ~F.array_contains(F.col("_hl"), F.md5(l)))
    out = (
        docs.crossJoin(hot_row)
        .withColumn("n_lines", F.when(c.isNotNull(), F.size(lines).cast("long")))
        .withColumn(
            "n_boilerplate_lines",
            F.when(c.isNotNull(), (F.size(lines) - F.size(kept)).cast("long")),
        )
        .withColumn(
            "boilerplate_line_fraction",
            F.when(
                F.col("n_lines") > 0,
                F.col("n_boilerplate_lines").cast("double")
                / F.col("n_lines").cast("double"),
            ),
        )
        .withColumn("cleaned_text", F.when(c.isNotNull(), F.array_join(kept, "\n")))
    )
    return out.drop("_hl")


def remove_corpus_chunks_stream(
    docs: DataFrame,
    window_digests: DataFrame,
    text_col: str = "text",
    chunk_tokens: int = 32,
    min_chunk_tokens: int = 8,
) -> DataFrame:
    """Streaming twin of ``operators/dedup.remove_chunks_in_corpus``:
    drop from streamed documents every token window already present in
    the accepted corpus, rebuilding each doc row-locally.

    ``window_digests`` is the STATIC index (one ``_ck`` column; build it
    offline with ``dedup.window_digests`` over the accepted corpus) — the
    deploy shape of incremental ExactSubstr: offline index pass, online
    filter.  Collapsed to one broadcast array row; chunking, membership
    and rebuild are per-row higher-order functions — no streaming state,
    append-mode compatible (array today, bloom filter at 100 TB, same
    plan shape).  Output columns match the batch operator (``n_chunks``,
    ``n_removed_chunks``, ``cleaned_text``); NULL text → NULL outputs;
    windows shorter than ``min_chunk_tokens`` are exempt.
    """
    from opteryx_spark.operators import text as _text

    hot_row = F.broadcast(
        window_digests.agg(F.collect_set(window_digests.columns[0]).alias("_wd"))
    )
    c = F.col(text_col)

    def chunks_of(t):
        n = F.size(t)
        n_chunks = F.greatest(
            F.ceil(n.cast("double") / F.lit(chunk_tokens)).cast("int"), F.lit(1)
        )
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(t, i * chunk_tokens + 1, chunk_tokens), " "),
        )

    chs = _text._let(_text.tokens(c), chunks_of)

    def is_removed(x):
        n_tok = F.size(F.filter(F.split(x, " "), lambda y: y != ""))
        return (n_tok >= min_chunk_tokens) & F.array_contains(F.col("_wd"), F.md5(x))

    kept = F.filter(chs, lambda x: ~is_removed(x))
    out = (
        docs.crossJoin(hot_row)
        .withColumn("n_chunks", F.when(c.isNotNull(), F.size(chs).cast("long")))
        .withColumn(
            "n_removed_chunks",
            F.when(c.isNotNull(), (F.size(chs) - F.size(kept)).cast("long")),
        )
        .withColumn("cleaned_text", F.when(c.isNotNull(), F.array_join(kept, " ")))
    )
    return out.drop("_wd")


def quality_features_stream(
    docs: DataFrame,
    costs: DataFrame,
    unk_nll: int,
    hot_grams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    boilerplate_k: int = 3,
) -> DataFrame:
    """Streaming twin of ``operators/filtering.quality_features`` — the
    online half of a learned quality gate: corpus-global statistics
    (unigram cost table from ``filtering.unigram_cost_artifacts``, hot
    k-gram set from ``filtering.hot_ngrams``) are computed OFFLINE over a
    reference corpus; the stream scores each document row-locally.

    The cost table collapses to one broadcast map row (token → millinat
    cost; unknown tokens pay ``unk_nll``) and the hot set to one
    broadcast array row — per-row higher-order folds, no streaming
    state, append-mode compatible.  Same output columns as the batch
    operator; NULL text → NULL features.  At a 100 TB reference corpus
    the map/array become a bloom-backed lookup — plan shape identical.
    """
    from opteryx_spark.operators import text as _text

    cm = F.broadcast(
        costs.agg(
            F.map_from_entries(
                F.collect_list(F.struct(costs.columns[0], costs.columns[1]))
            ).alias("_cm")
        )
    )
    hg = F.broadcast(
        hot_grams.agg(F.collect_set(hot_grams.columns[0]).alias("_hg"))
    )
    c = F.col(text_col)
    tks = _text.tokens(c)
    n_tokens = _text.token_count(text_col)
    nll_sum = F.aggregate(
        tks,
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.coalesce(F.element_at(F.col("_cm"), x), F.lit(int(unk_nll)).cast("long")),
    )
    sh = _text.shingles(c, boilerplate_k)
    n_grams = _text._nsize(sh)
    n_hot = _text._nsize(F.array_intersect(sh, F.col("_hg")))
    out = (
        _text.readability_scores(docs, text_col)  # map-only: streams unchanged
        .crossJoin(cm)
        .crossJoin(hg)
        .withColumn("n_tokens", n_tokens)
        .withColumn("ttr", _text.type_token_ratio(text_col))
        .withColumn(
            "quality_score", F.when(c.isNotNull(), _text.quality_score(text_col))
        )
        .withColumn(
            "avg_nll_millinats",
            F.when(
                F.col("n_tokens") > 0,
                nll_sum.cast("double") / F.col("n_tokens").cast("double"),
            ),
        )
        .withColumn(
            "boilerplate_frac",
            F.when(n_grams > 0, n_hot.cast("double") / n_grams.cast("double")),
        )
    )
    return out.select(
        id_col,
        "n_tokens",
        "ttr",
        "flesch_reading_ease",
        "fk_grade",
        "avg_nll_millinats",
        "boilerplate_frac",
        "quality_score",
    )


def minhash_dedup_stream(
    docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 2,
    max_bucket: int = 1000,
    portable_hash: bool = False,
) -> DataFrame:
    """Streaming twin of ``operators/dedup.minhash_dedup_against_index``:
    flag streamed documents near-duplicating the indexed corpus, with NO
    streaming state.

    Per row (all row-local column expressions, append-compatible): the
    minhash signature is the same one-fold array aggregate the batch
    operator uses; the banded bucket keys probe a broadcast MAP built
    from the static :func:`~opteryx_spark.operators.dedup.minhash_index`
    artifact (bucket key → candidate (corpus_id, sig) list, hot buckets
    beyond ``max_bucket`` dropped whole, as in batch); est-Jaccard
    refinement and best-match selection (max est, min id — realized as
    ``array_sort`` over (1−est, id) structs, the row-local mirror of the
    batch ``min(struct)``) happen inside the row.

    ``num_hashes``/``bands``/``k``/``portable_hash`` MUST match the values
    the index was built with — the default (xxhash64) matches
    ``minhash_index``'s default; a family mismatch cannot be detected
    from the artifact (signatures carry no provenance) and would silently
    match nothing.

    Same membership-structure caveat as :func:`decontaminate_stream`: the
    collapsed index must fit the broadcast; at corpus scales beyond that,
    keep the batch operator's join form (stream-static joins) or shard
    the stream by band.
    """
    from opteryx_spark.operators import hashing
    from opteryx_spark.operators.text import _let

    rows = num_hashes // bands

    # --- static side: bucket map (built once, broadcast) ---------------------
    entries = (
        index.select(
            F.concat_ws(":", F.col("band"), F.col("bh")).alias("_k"),
            F.struct(F.col("corpus_id"), F.col("sig")).alias("_v"),
        )
        .groupBy("_k")
        .agg(F.collect_list("_v").alias("_vs"))
    )
    if max_bucket is not None:
        entries = entries.filter(F.size("_vs") <= max_bucket)
    idx_row = F.broadcast(
        entries.agg(F.map_from_entries(F.collect_list(F.struct("_k", "_vs"))).alias("_idx"))
    )

    # --- per-row signature + band keys (the batch builders) -------------------
    harr = hashing.shingle_hashes(text_col, k, portable_hash)
    sig = hashing.minhash_signature(harr, num_hashes, portable_hash, docs.sparkSession)

    with_sig = docs.crossJoin(idx_row).withColumn("_sig", sig)
    # docs with no shingles (NULL/short text) have no index presence either
    keys = F.array(
        *[
            F.concat_ws(
                ":", F.lit(i), hashing.band_hash(F.col("_sig"), i, rows, portable_hash)
            )
            for i in range(bands)
        ]
    )
    cands = F.when(
        F.size(harr) > 0,
        F.flatten(
            F.filter(F.transform(keys, lambda kk: F.element_at("_idx", kk)), lambda x: x.isNotNull())
        ),
    ).otherwise(F.array().cast("array<struct<corpus_id:long,sig:array<bigint>>>"))

    # est computed ONCE per candidate (Catalyst does not CSE across struct
    # fields inside higher-order lambdas — the text._let pitfall)
    scored = F.transform(
        cands,
        lambda c: _let(
            F.size(
                F.filter(
                    F.zip_with(F.col("_sig"), c["sig"], lambda x, y: x == y), lambda m: m
                )
            ).cast("double")
            / F.lit(float(num_hashes)),
            lambda est: F.struct(
                (F.lit(1.0) - est).alias("inv"),
                c["corpus_id"].alias("cid"),
                est.alias("est"),
            ),
        ),
    )
    qual = F.filter(scored, lambda s: s["est"] >= F.lit(float(threshold)))
    best = F.when(F.size(qual) > 0, F.element_at(F.array_sort(qual), 1))
    return (
        with_sig.withColumn("_best", best)
        .withColumn("best_match_id", F.col("_best.cid"))
        .withColumn("est_jaccard", F.col("_best.est"))
        .withColumn("in_corpus_near_dup", F.col("best_match_id").isNotNull())
        .drop("_idx", "_sig", "_best")
    )


def hll_registers_stream(
    rows: DataFrame,
    col: str,
    p: int = 12,
) -> DataFrame:
    """Streaming HyperLogLog: maintain the register table of
    ``operators/profile.hll_estimate_portable`` over an unbounded stream
    with ``applyInPandasWithState`` — state is EXACTLY ``2^p`` counters
    (one max-ρ per bucket), the textbook bounded-state sketch, so the
    distinct-count estimate never re-reads history.

    Emits ``(bucket, mj)`` whenever a bucket's max-ρ increases
    (append-compatible); the CURRENT register table is the per-bucket MAX
    of everything emitted, and feeding it through the same harmonic-sum
    arithmetic yields the batch-identical estimate (equivalence test).
    Same hash, same ρ — a register table built by the stream and one
    built by the batch operator are interchangeable/mergeable.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from opteryx_spark.operators.hashing import hll_bucket_rho

    bucket, rho = hll_bucket_rho(F.col(col), p)
    hashed = rows.select(bucket.alias("bucket"), rho.alias("rho")).filter(
        F.col("bucket").isNotNull()
    )

    def bump(key, pdf_iter, state: GroupState):
        (cur,) = state.get if state.exists else (0,)
        mx = cur
        for pdf in pdf_iter:
            if len(pdf):
                mx = max(mx, int(pdf["rho"].max()))
        if mx > cur:
            state.update((mx,))
            yield pd.DataFrame({"bucket": [key[0]], "mj": [mx]})

    return hashed.groupBy("bucket").applyInPandasWithState(
        bump,
        outputStructType="bucket long, mj long",
        stateStructType="mj long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def rolling_features_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window_seconds: int = 3600,
) -> DataFrame:
    """Streaming twin of ``operators/events.rolling_window_features``:
    per-event trailing-window activity features over an unbounded stream
    via ``applyInPandasWithState``.  State per user is exactly the events
    still inside the trailing window (two parallel arrays of micros +
    values) — O(events-in-window) per user, evicted as the window slides,
    so state never grows with history.

    Every event emits ``(event_id, user_id, _us, n_win, value_win)``
    as-of its own timestamp, the frame being ``(t - window, t]`` like the
    batch RANGE frame.  Value sums replay the engine's DECIMAL(25,8)
    exact-sum convention in ``decimal`` arithmetic (quantize HALF_UP →
    exact sum → double), so a single-batch drain over in-order input is
    bit-equal to the batch operator (equivalence test); out-of-order
    arrivals within the window are handled by insertion in time order,
    late events older than the window see only themselves plus
    still-retained peers (the documented streaming-lateness trade; the
    batch operator is the replay authority).
    """
    import decimal

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if window_seconds < 1:
        raise ValueError("window_seconds must be >= 1")
    win_us = window_seconds * 1_000_000
    q8 = decimal.Decimal("1e-8")

    base = (
        events.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(user_col).alias("user_id"),
            F.col("event_id"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
            F.col(value_col).alias("_v"),
        )
    )

    def feats(key, pdf_iter, state: GroupState):
        us, vals = state.get if state.exists else ([], [])
        us, vals = list(us), list(vals)
        rows = {"event_id": [], "user_id": [], "_us": [], "n_win": [], "value_win": []}
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["_us", "event_id"])
            for eid, t, v in zip(pdf["event_id"], pdf["_us"], pdf["_v"]):
                t = int(t)
                # insert in time order (handles bounded out-of-orderness)
                i = len(us)
                while i > 0 and us[i - 1] > t:
                    i -= 1
                us.insert(i, t)
                vals.insert(i, None if pd.isna(v) else float(v))
                # evict everything at or before t - window
                lo = t - win_us
                k = 0
                while k < len(us) and us[k] <= lo:
                    k += 1
                us, vals = us[k:], vals[k:]
                in_frame = [
                    vv for uu, vv in zip(us, vals) if uu <= t and vv is not None
                ]
                n_win = sum(1 for uu in us if uu <= t)
                if in_frame:
                    s = sum(
                        (decimal.Decimal(x).quantize(q8, decimal.ROUND_HALF_UP)
                         for x in in_frame),
                        decimal.Decimal(0),
                    )
                    vw = float(s)
                else:
                    vw = None
                rows["event_id"].append(int(eid))
                rows["user_id"].append(key[0])
                rows["_us"].append(t)
                rows["n_win"].append(n_win)
                rows["value_win"].append(vw)
        state.update((us, vals))
        yield pd.DataFrame(rows)

    utype = base.schema["user_id"].dataType.simpleString()
    return base.groupBy("user_id").applyInPandasWithState(
        feats,
        outputStructType=(
            f"event_id long, user_id {utype}, _us long, n_win long, value_win double"
        ),
        stateStructType="us array<long>, vals array<double>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def row_checks_stream(rows: DataFrame, checks: list[tuple]) -> DataFrame:
    """Streaming twin of ``operators/quality.row_checks``: the same fused
    conditional-sum rules as a streaming global aggregate (update mode —
    state is ONE row of counters no matter the rule count or stream
    length), so a batch admission gate and a continuous one share rule
    definitions and report schema.  Drained with availableNow, the final
    update equals the batch report exactly (equivalence test).
    """
    from opteryx_spark.operators.quality import row_checks

    # row_checks builds plan-level expressions only (one df.agg), so the
    # same construction is streaming-legal; re-use it verbatim.
    return row_checks(rows, checks)


def anomaly_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window_rows: int = 20,
    min_points: int = 5,
    k: int = 3,
    scale: int = 1000,
) -> DataFrame:
    """Streaming twin of ``operators/events.detect_value_anomalies``:
    per-event trailing-window z-score flags over an unbounded stream via
    ``applyInPandasWithState``.  State per user is exactly the last
    ``window_rows`` quantized values with their (micros, event_id) sort
    keys — O(window) per user, never grows with history.

    The z-test is the same pure-integer inequality as the batch operator
    (``(n·x − S)² > k²·(n·SS − S²)`` over ``floor(value·scale)`` BIGINTs),
    so a single-batch drain over in-order input is BIT-equal to the batch
    window — no decimal replay needed, integers don't round.  Out-of-order
    arrivals within the retained window insert in (ts, event_id) order;
    older ones see only the retained suffix (the documented lateness
    trade; batch is the replay authority).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if window_rows < 1 or min_points < 1:
        raise ValueError("window_rows and min_points must be >= 1")
    kk = int(k) * int(k)

    base = events.filter(
        F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(user_col).alias("user_id"),
        F.col("event_id"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        F.floor(F.col(value_col).cast("double") * F.lit(float(scale)))
        .cast("long")
        .alias("value_milli"),
    )

    def flags(key, pdf_iter, state: GroupState):
        us, eids, xs = state.get if state.exists else ([], [], [])
        us, eids, xs = list(us), list(eids), list(xs)
        rows = {
            "event_id": [],
            "user_id": [],
            "value_milli": [],
            "n_prior": [],
            "is_anomaly": [],
        }
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["_us", "event_id"])
            for eid, t, x in zip(pdf["event_id"], pdf["_us"], pdf["value_milli"]):
                eid, t, x = int(eid), int(t), int(x)
                # events strictly before (t, eid) in the retained window
                prior = [
                    xv
                    for uu, ee, xv in zip(us, eids, xs)
                    if (uu, ee) < (t, eid)
                ]
                prior = prior[-int(window_rows):]
                n = len(prior)
                s = sum(prior)
                ss = sum(v * v for v in prior)
                dev = n * x - s
                flag = n >= int(min_points) and dev * dev > kk * (n * ss - s * s)
                rows["event_id"].append(eid)
                rows["user_id"].append(key[0])
                rows["value_milli"].append(x)
                rows["n_prior"].append(n)
                rows["is_anomaly"].append(bool(flag))
                # insert in (us, event_id) order, retain the last window
                i = len(us)
                while i > 0 and (us[i - 1], eids[i - 1]) > (t, eid):
                    i -= 1
                us.insert(i, t)
                eids.insert(i, eid)
                xs.insert(i, x)
                if len(us) > int(window_rows):
                    us, eids, xs = (
                        us[-int(window_rows):],
                        eids[-int(window_rows):],
                        xs[-int(window_rows):],
                    )
        state.update((us, eids, xs))
        yield pd.DataFrame(rows)

    utype = base.schema["user_id"].dataType.simpleString()
    return base.groupBy("user_id").applyInPandasWithState(
        flags,
        outputStructType=(
            f"event_id long, user_id {utype}, value_milli long,"
            " n_prior long, is_anomaly boolean"
        ),
        stateStructType="us array<long>, eids array<long>, xs array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ohlc_bars_stream(
    events: DataFrame,
    symbol_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str = "event_id",
    bar_minutes: int = 60,
) -> DataFrame:
    """Streaming twin of ``operators/events.ohlc_bars``: per-symbol
    time-bar OHLC as a plain streaming groupBy — open/close are the same
    ``min/max(struct(us, id, value))`` extremum aggregates as batch, so
    they fold incrementally with NO ordering assumption on arrival
    (extremum aggregates are commutative — the reason the batch operator
    avoided rank windows pays off twice).  Volume sums in DECIMAL(25,8)
    and casts to double at emit, so a complete-mode drain is bit-equal
    to the batch operator (equivalence test).

    State per (symbol, bar): two structs + three scalars — O(1), evicted
    with the window under a watermark in continuous deployments.
    """
    bar_us = int(bar_minutes) * 60 * 1_000_000
    base = events.filter(
        F.col(symbol_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    )
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    keyed = base.select(
        F.col(symbol_col),
        (us - (us % F.lit(bar_us))).alias("bar_start_us"),
        us.alias("_us"),
        F.col(order_col).alias("_oid"),
        F.col(value_col).alias("_v"),
    )
    return keyed.groupBy(symbol_col, "bar_start_us").agg(
        F.min(F.struct("_us", "_oid", "_v")).getField("_v").alias("open"),
        F.max("_v").alias("high"),
        F.min("_v").alias("low"),
        F.max(F.struct("_us", "_oid", "_v")).getField("_v").alias("close"),
        F.sum(F.col("_v").cast("decimal(25,8)")).cast("double").alias("volume"),
        F.count(F.lit(1)).alias("n_events"),
    )


def cms_counters_stream(
    docs: DataFrame,
    text_col: str = "text",
    d: int = 4,
    w: int = 8192,
) -> DataFrame:
    """Streaming twin of ``operators/profile.cms_counters``: maintain the
    count-min counter table over an unbounded document stream as ONE
    streaming aggregation — tokens explode to their ``d`` cells and the
    ``(d, b)`` counts fold incrementally (plain SUMs are the sketch's
    mergeability).  State is bounded at d·w counter rows forever, which
    is the whole point of sketching a 100 TB stream; a complete-mode
    drain equals the batch counter table exactly (regrouped sums are
    identical — equivalence test).

    The construction is streaming-legal as-is, so this DELEGATES to the
    batch builder (same pattern as ``row_checks_stream``) — one body,
    zero twin-drift risk.
    """
    from opteryx_spark.operators.profile import cms_counters

    return cms_counters(docs, text_col, d, w)


def scd2_current_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Streaming maintainer of the SCD2 CURRENT row — the third leg of
    the dimension story (batch build: ``events.scd2_history``;
    point-in-time join: ``events_point_in_time_state``; this keeps the
    open interval current as changes stream in).

    State per key is O(1): the current state value, its 1-based version
    and ``valid_from_us``, plus the last-seen ``(us, id)`` so in-batch
    ordering matches the batch window's ``(ts, order_col)`` sort.  A
    NULL state is a real state (null-safe change comparison, like
    batch).  Each batch emits one row per touched key — the current
    dimension row to upsert (``layout.upsert_partitions`` is the sink
    shape); drained availableNow over in-order input the emitted rows
    equal the batch history's ``is_current`` slice (equivalence test).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    base = events.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col).alias("user_id"),
        F.col(order_col).alias("_oid"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        F.col(state_col).alias("_st"),
    )

    def track(key, pdf_iter, state: GroupState):
        if state.exists:
            has, st, version, vfrom, lus, leid = state.get
        else:
            has, st, version, vfrom, lus, leid = False, None, 0, 0, -1, -1
        touched = False
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["_us", "_oid"])
            for oid, us, sv in zip(pdf["_oid"], pdf["_us"], pdf["_st"]):
                oid, us = int(oid), int(us)
                sv = None if pd.isna(sv) else str(sv)
                touched = True
                changed = (not has) or (sv != st)
                if changed:
                    version += 1
                    st, vfrom, has = sv, us, True
                lus, leid = us, oid
        state.update((has, st, int(version), int(vfrom), int(lus), int(leid)))
        if touched:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "state": [st],
                    "version": [int(version)],
                    "valid_from_us": [int(vfrom)],
                }
            )
        else:
            yield pd.DataFrame(
                {"user_id": [], "state": [], "version": [], "valid_from_us": []}
            )

    utype = base.schema["user_id"].dataType.simpleString()
    return base.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType=(
            f"user_id {utype}, state string, version long, valid_from_us long"
        ),
        stateStructType=(
            "has boolean, st string, version long, vfrom long, lus long, leid long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def attribution_stream(
    events: DataFrame,
    conversion_type: str = "purchase",
    lookback_minutes: int = 7 * 24 * 60,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """Streaming twin of ``operators/events.attributed_conversions``:
    last-touch channel assignment over an unbounded stream via
    ``applyInPandasWithState``.  State per user is O(1) — the last
    touch's (micros, type) — because last-touch attribution is a
    one-cell state machine (the reason it streams so cheaply while
    multi-touch models need history).

    Touch events (non-NULL type ≠ ``conversion_type``) update the cell;
    conversion events APPEND ``(order_col, user, channel, value)`` with
    the lookback applied.  In-batch rows process in ``(ts, order)``
    order, so a drained availableNow run over in-order input is
    row-identical to the batch window (equivalence test); NULL-typed
    events are neither touches nor conversions, like batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    lb_us = int(lookback_minutes) * 60 * 1_000_000
    base = events.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col).alias("user_id"),
        F.col(order_col).alias("_oid"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        F.col(type_col).alias("_ty"),
        F.col(value_col).alias("_v"),
    )

    def attrib(key, pdf_iter, state: GroupState):
        t_us, t_type = state.get if state.exists else (-1, None)
        rows = {"event_id": [], "user_id": [], "channel": [], "value": []}
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["_us", "_oid"])
            for oid, us, ty, v in zip(pdf["_oid"], pdf["_us"], pdf["_ty"], pdf["_v"]):
                oid, us = int(oid), int(us)
                ty = None if pd.isna(ty) else str(ty)
                if ty is None:
                    continue
                if ty != conversion_type:
                    t_us, t_type = us, ty
                    continue
                if t_type is not None and t_us >= us - lb_us:
                    ch = t_type
                else:
                    ch = "direct"
                rows["event_id"].append(oid)
                rows["user_id"].append(key[0])
                rows["channel"].append(ch)
                rows["value"].append(None if pd.isna(v) else float(v))
        state.update((int(t_us), t_type))
        yield pd.DataFrame(rows)

    utype = base.schema["user_id"].dataType.simpleString()
    return base.groupBy("user_id").applyInPandasWithState(
        attrib,
        outputStructType=(
            f"event_id long, user_id {utype}, channel string, value double"
        ),
        stateStructType="t_us long, t_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def calibration_bins_stream(
    rows: DataFrame,
    score_ppm_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Streaming twin of ``operators/features.calibration_bins``:
    maintain the reliability-diagram table over an unbounded prediction
    stream via ``applyInPandasWithState`` — state is EXACTLY ``n_bins``
    (n, Σscore, Σlabel) triples, the smallest sufficient statistic for
    the whole diagram, so calibration monitoring never re-reads
    history.

    Each micro-batch emits every touched bin's CURRENT row
    ``(bin, n, conf_ppm, acc_ppm, gap_ppm)``; the live table is the
    latest emission per bin (``n`` is monotone — take the max-n row).
    All arithmetic is Python int (exact) with the same truncating
    divisions as the batch operator, so a single availableNow drain is
    row-identical to the batch table (equivalence test), and the state
    triples from two streams merge by plain addition.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    binned = rows.filter(
        F.col(score_ppm_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.least(
            F.lit(int(n_bins) - 1).cast("bigint"),
            F.expr(f"({score_ppm_col} * {int(n_bins)}) div 1000000"),
        ).alias("bin"),
        F.col(score_ppm_col).cast("long").alias("s"),
        F.col(label_col).cast("long").alias("y"),
    )

    def bump(key, pdf_iter, state: GroupState):
        n, ss, sy = state.get if state.exists else (0, 0, 0)
        touched = False
        for pdf in pdf_iter:
            if len(pdf):
                touched = True
                n += len(pdf)
                ss += int(pdf["s"].sum())
                sy += int(pdf["y"].sum())
        if touched:
            state.update((n, ss, sy))
            conf = ss // n  # nonneg: // == truncating div
            acc = (sy * 1000000) // n
            yield pd.DataFrame(
                {
                    "bin": [key[0]],
                    "n": [n],
                    "conf_ppm": [conf],
                    "acc_ppm": [acc],
                    "gap_ppm": [abs(conf - acc)],
                }
            )

    return binned.groupBy("bin").applyInPandasWithState(
        bump,
        outputStructType="bin long, n long, conf_ppm long, acc_ppm long, gap_ppm long",
        stateStructType="n long, ss long, sy long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def holt_linear_stream(
    series: DataFrame,
    key_col: str,
    t_col: str,
    value_col: str,
    qscale: int = 1000,
) -> DataFrame:
    """Streaming twin of ``operators/timeseries.holt_linear``: fold new
    series points into each key's Holt state via
    ``applyInPandasWithState`` — state per key is just
    ``(n_points, level_q, trend_q)``, so the smoother never re-reads the
    series (the recurrence's own sufficient state; this is what makes
    Holt/EWMA the streaming-native forecasters).

    Points are folded in ``t_col`` order within each micro-batch with
    the batch operator's exact integer halvings (Python int arithmetic,
    truncation toward zero), so an in-order availableNow drain emits a
    final per-key row identical to the batch operator (equivalence
    test).  Across micro-batches the fold continues from stored state —
    points arriving out of order ACROSS batches are folded late (the
    documented streaming-lateness trade; the batch operator is the
    replay authority).  NULL t/value rows are excluded (batch
    contract).

    Emits each key's CURRENT ``(key, n_points, level_q, trend_q,
    forecast_next_q)`` per touched micro-batch; the live table is the
    max-n_points row per key.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if qscale < 1:
        raise ValueError("qscale must be >= 1")
    pts = series.filter(
        F.col(t_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        # key normalized to string: the stateful output schema is fixed
        F.col(key_col).cast("string").alias("k"),
        F.col(t_col).cast("long").alias("t"),
        (F.col(value_col).cast("long") * F.lit(int(qscale))).alias("qy"),
    )

    def _tdiv2(x: int) -> int:  # truncate toward zero, both signs
        return x // 2 if x >= 0 else -((-x) // 2)

    def fold(key, pdf_iter, state: GroupState):
        n, lv, b = state.get if state.exists else (0, 0, 0)
        touched = False
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            touched = True
            # sort on (t, qy) with a stable kind: mirrors the batch
            # operator's array_sort over struct(t, qy) — sorting by t
            # alone leaves duplicate-timestamp fold order nondeterministic
            for qy in pdf.sort_values(["t", "qy"], kind="stable")["qy"]:
                qy = int(qy)
                if n == 0:
                    lv, b = qy, 0
                else:
                    nl = _tdiv2(qy + lv + b)
                    b = _tdiv2((nl - lv) + b)
                    lv = nl
                n += 1
        if touched:
            state.update((n, lv, b))
            yield pd.DataFrame(
                {
                    "k": [key[0]],
                    "n_points": [n],
                    "level_q": [lv],
                    "trend_q": [b],
                    "forecast_next_q": [lv + b],
                }
            )

    out = pts.groupBy("k").applyInPandasWithState(
        fold,
        outputStructType=(
            "k string, n_points long, level_q long, trend_q long, forecast_next_q long"
        ),
        stateStructType="n long, l long, b long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return out.withColumnRenamed("k", key_col)


def holt_winters_stream(
    series: DataFrame,
    key_col: str,
    t_col: str,
    value_col: str,
    period: int = 7,
    qscale: int = 1000,
) -> DataFrame:
    """Streaming twin of ``operators/timeseries.holt_winters``: the
    additive triple smoother's state per key is ``(n, level, trend,
    m-slot seasonal ring)`` — still a fixed-size sufficient state, so
    like Holt/EWMA it is streaming-native (the ring adds ``period``
    BIGINTs, nothing corpus-sized).

    Points fold in ``(t, qy)`` order within each micro-batch (stable
    sort — the batch array_sort tiebreak) with the batch operator's
    exact integer halvings in Python-int arithmetic; an in-order
    availableNow drain emits a final per-key row identical to the batch
    operator, and across micro-batches the fold continues from stored
    state (equivalence + continuation tests).  Out-of-order arrivals
    ACROSS batches fold late — the documented streaming-lateness trade;
    the batch operator is the replay authority.  NULL t/value rows are
    excluded (batch contract).

    Emits each key's CURRENT ``(key, n_points, level_q, trend_q,
    season_next_q, forecast_next_q)`` per touched micro-batch; the live
    table is the max-n_points row per key.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if qscale < 1:
        raise ValueError("qscale must be >= 1")
    if period < 2:
        raise ValueError("period must be >= 2")
    m = int(period)
    pts = series.filter(
        F.col(t_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).cast("string").alias("k"),
        F.col(t_col).cast("long").alias("t"),
        (F.col(value_col).cast("long") * F.lit(int(qscale))).alias("qy"),
    )

    def _tdiv2(x: int) -> int:  # truncate toward zero, both signs
        return x // 2 if x >= 0 else -((-x) // 2)

    def fold(key, pdf_iter, state: GroupState):
        if state.exists:
            n, lv, b, ring = state.get
            ring = list(ring)
        else:
            n, lv, b, ring = 0, 0, 0, [0] * m
        touched = False
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            touched = True
            for qy in pdf.sort_values(["t", "qy"], kind="stable")["qy"]:
                qy = int(qy)
                if n == 0:
                    lv, b = qy, 0
                    # post-point-0 ring: s_new = ((qy - lv) + 0) div 2 = 0
                else:
                    s_old = ring[0]
                    nl = _tdiv2(qy - s_old + lv + b)
                    nb = _tdiv2((nl - lv) + b)
                    ns = _tdiv2((qy - nl) + s_old)
                    ring = ring[1:] + [ns]
                    lv, b = nl, nb
                n += 1
        if touched:
            state.update((n, lv, b, ring))
            yield pd.DataFrame(
                {
                    "k": [key[0]],
                    "n_points": [n],
                    "level_q": [lv],
                    "trend_q": [b],
                    "season_next_q": [ring[0]],
                    "forecast_next_q": [lv + b + ring[0]],
                }
            )

    out = pts.groupBy("k").applyInPandasWithState(
        fold,
        outputStructType=(
            "k string, n_points long, level_q long, trend_q long,"
            " season_next_q long, forecast_next_q long"
        ),
        stateStructType="n long, l long, b long, s array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return out.withColumnRenamed("k", key_col)


def kmv_registers_stream(
    rows: DataFrame,
    col: str,
    k: int = 256,
    n_shards: int = 32,
) -> DataFrame:
    """Streaming KMV (bottom-k) distinct sketch, SHARDED: maintain
    ``n_shards`` independent bottom-k register sets over an unbounded
    stream via ``applyInPandasWithState`` — the streaming side of
    ``operators/profile.kmv_distinct_ops``'s sketch.  Sharding is the
    scale design: a single global bottom-k would serialize the stream
    through one task, but bottom-k sets are MIN-UNION MERGEABLE, so
    each shard (``hash % n_shards``) keeps its own k smallest distinct
    hashes in parallel and the reader reduces all emissions to the
    global bottom-k.  Any hash in the global bottom-k is necessarily
    within its own shard's bottom-k (≤ k global winners land in a
    shard, all among that shard's smallest), so it was admitted and
    emitted on arrival — the reduction is exact, not approximate.

    State per shard is a sorted array of ≤ k hashes (bounded forever);
    a shard emits ``(shard, h)`` only when a NEW hash enters its
    bottom-k (append-compatible, like ``hll_registers_stream``).  The
    global estimate from the reduced registers equals the batch
    sketch's: exact below k, else ``(k-1)·2^32 div h_k`` —
    equivalence-tested against the batch arithmetic.  NULL values are
    excluded (COUNT DISTINCT semantics).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from opteryx_spark.operators.hashing import hash32

    if k < 1 or n_shards < 1:
        raise ValueError("k and n_shards must be >= 1")
    hashed = (
        rows.filter(F.col(col).isNotNull())
        .select(hash32(F.col(col).cast("long")).alias("h"))
        .select("h", (F.col("h") % F.lit(int(n_shards))).alias("shard"))
    )

    def bump(key, pdf_iter, state: GroupState):
        (hs,) = state.get if state.exists else ([],)
        hs = list(hs)
        cur = set(hs)
        admitted = []
        for pdf in pdf_iter:
            for h in pdf["h"]:
                h = int(h)
                if h in cur:
                    continue
                if len(hs) < k:
                    hs.append(h)
                    cur.add(h)
                    admitted.append(h)
                elif h < max(hs):
                    evict = max(hs)
                    hs.remove(evict)
                    cur.discard(evict)
                    hs.append(h)
                    cur.add(h)
                    admitted.append(h)
        if admitted:
            hs.sort()
            state.update((hs,))
            yield pd.DataFrame({"shard": [key[0]] * len(admitted), "h": admitted})

    return hashed.groupBy("shard").applyInPandasWithState(
        bump,
        outputStructType="shard long, h long",
        stateStructType="hs array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
