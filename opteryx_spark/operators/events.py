"""Batch event-stream analytics: gap-based sessionization and cohort
retention.

These are the batch twins of the Structured Streaming operators in
``opteryx_spark.streaming`` (``sessionize`` uses ``session_window`` there;
the batch form here is the classic lag/cumsum construction so the whole
history can be re-sessionized in one pass).  The reference engine has no
sessionization operator (its ``events``-style analytics stop at GROUP BY
rollups — see /root/reference/opteryx/operators/aggregate_node.py); these
extend the surface the way a telemetry / clickstream pipeline needs.

Scale notes (100 TB):
- ``sessionize`` is ONE window pass partitioned by the user key (the
  natural high-cardinality key, so partitions are balanced) followed by a
  per-(user, session) aggregate that reuses the same key prefix — two
  exchanges total, both on user-dominated keys, partial aggregation
  map-side.  No self-join, no driver collect.
- ``cohort_retention`` is a distinct + two key-local aggregates + one
  equi-join on the user key; the output is (days × offsets) — tiny.
- Events with a NULL user key or NULL timestamp are excluded by contract:
  they cannot be placed on a per-user timeline.  (Spark windows would
  otherwise order NULL timestamps FIRST while DuckDB orders them LAST —
  excluding them pins the semantics rather than the engine default.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from opteryx_spark import cache

__all__ = [
    "assign_sessions",
    "sessionize",
    "session_funnel",
    "cohort_retention",
    "type_transitions",
    "gap_fill_series",
    "rolling_window_features",
    "scd2_history",
    "attribute_conversions",
    "attributed_conversions",
    "detect_value_anomalies",
    "ohlc_bars",
    "ewma_features",
    "twap",
    "dau_wau_stickiness",
    "survival_curve",
    "seasonal_residuals",
    "new_vs_returning",
    "peak_concurrency",
]


def assign_sessions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Per-EVENT session assignment: every input column plus
    ``session_id`` (1-based per user, in time order) and ``_us``
    (BIGINT event micros — kept so downstream reducers need no second
    timestamp conversion).

    A new session starts at a user's first event and whenever the gap to
    the previous event (ordered by ``(ts, order_col)`` — the unique
    tiebreaker makes equal timestamps deterministic) exceeds
    ``gap_minutes``.  Events with a NULL user or timestamp are excluded
    by contract (see module docstring).  One window pass partitioned by
    the user key; the lag flag and the running sum share the same
    sort+exchange.
    """
    gap_us = int(gap_minutes) * 60 * 1_000_000
    base = events.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
    # parquet timestamps load as TIMESTAMP_NTZ; the session tz is pinned
    # UTC (session.py), so the cast is the identity reading DuckDB's
    # epoch_us sees — unix_micros itself accepts only TIMESTAMP
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col(order_col).asc())
    return (
        base.withColumn("_us", us)
        .withColumn(
            "_new",
            F.when(
                F.lag("_us").over(w).isNull()
                | ((F.col("_us") - F.lag("_us").over(w)) > F.lit(gap_us)),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "session_id",
            F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .drop("_new")
    )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    gap_minutes: int = 30,
    value_col: str | None = "value",
) -> DataFrame:
    """Assign gap-based sessions and reduce to one row per session.

    A new session starts at a user's first event and whenever the gap to
    the previous event (ordered by ``(ts, order_col)`` — the tiebreaker
    makes equal timestamps deterministic) exceeds ``gap_minutes``.
    Produces per-session rows: ``user_id``, ``session_id`` (1-based per
    user, in time order), ``session_start`` / ``session_end`` (first/last
    event time), ``duration_us`` (BIGINT microseconds), ``n_events``, and
    ``total_value`` (exact DECIMAL sum → double; NULL when every value in
    the session is NULL).

    The grouping is identical to Spark's ``session_window`` (each event
    extends its session by the gap), so the streaming twin
    ``streaming.sessionize`` produces the same clusters — the batch form
    reports ``session_end`` as the LAST EVENT time where the streaming
    window's ``end`` is last event + gap.
    """
    flagged = assign_sessions(events, user_col, ts_col, order_col, gap_minutes)
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (F.max("_us") - F.min("_us")).alias("duration_us"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if value_col:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(25,8)")).cast("double").alias("total_value")
        )
    return flagged.groupBy(user_col, "session_id").agg(*aggs)


def session_funnel(
    events: DataFrame,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    type_col: str = "event_type",
    gap_minutes: int = 30,
) -> DataFrame:
    """First-touch ordered funnel WITHIN sessions: a session's depth is
    the longest prefix of ``stages`` whose FIRST occurrences appear in
    strictly increasing time order (first view < first click < first
    purchase).  Returns ``(funnel_stage, n_sessions)`` — one row per
    reached depth plus ``'none'`` for sessions without the first stage;
    each session counts exactly once, at its deepest stage.

    This is the sessionized upgrade of ``events_sessionless_funnel``
    (which counts per-user event presence with no ordering or session
    boundary).  First-touch semantics (compare the stage types' first
    timestamps, not every subsequence) keep it ONE aggregate over the
    session assignment — no self-join, no per-row state.
    """
    per = (
        assign_sessions(events, user_col, ts_col, order_col, gap_minutes)
        .groupBy(user_col, "session_id")
        .agg(
            *[
                F.min(F.when(F.col(type_col) == s, F.col("_us"))).alias(f"_t{i}")
                for i, s in enumerate(stages)
            ]
        )
    )
    ok = F.col("_t0").isNotNull()
    stage_expr = F.when(ok, F.lit(stages[0])).otherwise(F.lit("none"))
    for i in range(1, len(stages)):
        ok = ok & F.col(f"_t{i}").isNotNull() & (F.col(f"_t{i}") > F.col(f"_t{i - 1}"))
        stage_expr = F.when(ok, F.lit(stages[i])).otherwise(stage_expr)
    return (
        per.select(stage_expr.alias("funnel_stage"))
        .groupBy("funnel_stage")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy("funnel_stage")
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_offset_days: int | None = None,
) -> DataFrame:
    """Classic cohort-retention matrix: users are cohorted by their first
    active day; for each (cohort_day, day_offset) count how many of that
    cohort were active ``offset`` days after joining.

    Returns ``cohort_day`` (DATE), ``day_offset`` (BIGINT, 0 = join day),
    ``n_users`` (BIGINT).  ``offset = 0`` rows equal the cohort size, so
    retention rate is a trivial post-join on the consumer side.
    """
    base = events.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
    activity = base.select(
        F.col(user_col).alias("_uid"), F.to_date(F.col(ts_col)).alias("_day")
    ).distinct()
    cohort = activity.groupBy("_uid").agg(F.min("_day").alias("cohort_day"))
    joined = activity.join(cohort, "_uid").withColumn(
        "day_offset", F.datediff(F.col("_day"), F.col("cohort_day")).cast("long")
    )
    if max_offset_days is not None:
        joined = joined.filter(F.col("day_offset") <= int(max_offset_days))
    return (
        joined.groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


def type_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    type_col: str = "event_type",
    gap_minutes: int = 30,
) -> DataFrame:
    """First-order Markov transition matrix of event types WITHIN
    sessions: for every (prev_type, next_type) pair of consecutive
    events in a session, the transition count and probability
    ``p = n / Σn over prev_type`` (exact BIGINT/BIGINT → double, so the
    probabilities are engine-reproducible).

    The standard behavioural-model input (what usually follows a view?
    where do sessions leak?).  Session starts have no predecessor and are
    excluded; a NULL event type participates as its own state (group keys
    treat NULL consistently in Spark and DuckDB).

    Scale shape: the session window pass (shared exchange, see
    :func:`assign_sessions`) already clusters by user — the lag is free
    on the same sort; the pair count is a two-key aggregate with map-side
    partial combine; the per-prev total is a second tiny aggregate joined
    back on the vocabulary-sized type set.
    """
    w = Window.partitionBy(user_col, "session_id").orderBy(
        F.col(ts_col).asc(), F.col(order_col).asc()
    )
    pairs = (
        assign_sessions(events, user_col, ts_col, order_col, gap_minutes)
        .withColumn("_prev", F.lag(type_col).over(w))
        .withColumn("_started", F.lag(F.lit(1)).over(w))
        # session starts carry no transition; a NULL prev TYPE does
        .filter(F.col("_started").isNotNull())
        .groupBy(F.col("_prev").alias("prev_type"), F.col(type_col).alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # per-prev total via a window, not an equi-join: a NULL prev state
    # must keep its rows (equi-join keys drop NULLs; window partitions
    # group them), and the type matrix is tiny after the count anyway
    wt = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wt).cast("double")).alias("p"),
    ).orderBy("prev_type", "next_type")


def gap_fill_series(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    value_col: str = "value",
    step_seconds: int = 3600,
) -> DataFrame:
    """Dense per-group time series with gap fill and forward fill — the
    dashboard/monitoring primitive Spark has no single operator for: a
    sparse event stream becomes one row per (group, bucket) for EVERY
    bucket between the group's first and last observation, with
    ``n_events = 0`` on empty buckets and the value carried forward from
    the last observed bucket.

    Per group: buckets are ``step_seconds``-aligned epoch seconds; the
    calendar spine is ``sequence(min_bucket, max_bucket, step)`` exploded
    per group (distributed across groups; for multi-year fine-grained
    spines swap in a range-join spine — the join/fill stages are
    unchanged); value sums use the engine's DECIMAL(25,8) exact-sum
    convention.  Rows with a NULL group or timestamp are excluded by
    contract (cannot be placed on a timeline; also pins Spark-vs-oracle
    NULL ordering).

    Scale shape: one (group, bucket) aggregate with map-side combine, one
    group-keyed min/max reduce, one equi join of the spine back onto the
    aggregate, one forward-fill window partitioned by group — every
    exchange is keyed by the group column; nothing global.

    Returns ``group_col``, ``bucket_start`` (BIGINT epoch seconds),
    ``n_events`` (BIGINT, 0-filled), ``is_gap`` (BOOLEAN),
    ``filled_value`` (DOUBLE, forward-filled exact bucket sum).
    """
    if step_seconds < 1:
        raise ValueError("step_seconds must be >= 1")
    step_us = step_seconds * 1_000_000
    base = events.filter(F.col(group_col).isNotNull() & F.col(ts_col).isNotNull())
    actual = (
        base.select(
            F.col(group_col),
            F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP))").alias("_us"),
            F.col(value_col).alias("_v"),
        )
        .select(
            group_col,
            F.expr(f"(_us div {step_us}) * {step_seconds}").alias("bucket_start"),
            "_v",
        )
        .groupBy(group_col, "bucket_start")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("_v").cast("decimal(25,8)")).cast("double").alias("_vs"),
        )
    )
    # the aggregate feeds both the spine bounds and the fill join —
    # persist the (bucket-cardinality-sized) frame instead of scanning
    # the event stream twice
    actual = cache.persist(actual)
    spine = (
        actual.groupBy(group_col)
        .agg(F.min("bucket_start").alias("_lo"), F.max("bucket_start").alias("_hi"))
        .select(
            group_col,
            F.explode(
                F.sequence(F.col("_lo"), F.col("_hi"), F.lit(step_seconds).cast("long"))
            ).alias("bucket_start"),
        )
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(actual, [group_col, "bucket_start"], "left")
        .select(
            group_col,
            "bucket_start",
            F.coalesce("_n", F.lit(0).cast("long")).alias("n_events"),
            F.col("_n").isNull().alias("is_gap"),
            F.last("_vs", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


def rolling_window_features(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window_seconds: int = 3600,
) -> DataFrame:
    """Per-event trailing-window features — "this user's activity in the
    last hour as of each event" — the feature-engineering primitive
    behind rate limiting, anomaly scoring and session-context features.

    For every event: the count and exact value sum of the SAME user's
    events in ``(t - window_seconds, t]``, computed with a time-RANGE
    window frame (peers at equal timestamps are all included, so the
    result is deterministic without a unique-order tiebreak).  Sums use
    the DECIMAL(25,8) exact-sum convention → DOUBLE.  NULL user/ts rows
    are excluded by contract.

    Scale shape: ONE window pass partitioned by the high-cardinality
    user key (balanced partitions; never partition a RANGE frame by a
    low-cardinality column like event_type — five hot partitions is a
    scale-killer) with the sort amortized into the exchange.  No join,
    no self-join, no driver state.

    Returns all input columns + ``_us`` (BIGINT micros), ``n_win``
    (BIGINT), ``value_win`` (DOUBLE).
    """
    if window_seconds < 1:
        raise ValueError("window_seconds must be >= 1")
    win_us = window_seconds * 1_000_000
    base = events.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col("_us"))
        .rangeBetween(-(win_us - 1), 0)
    )
    return (
        base.withColumn("_us", us)
        .withColumn("n_win", F.count(F.lit(1)).over(w))
        .withColumn(
            "value_win",
            F.sum(F.col(value_col).cast("decimal(25,8)")).over(w).cast("double"),
        )
    )


def scd2_history(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from a change stream: per
    key, collapse consecutive duplicate states and emit one validity
    interval per state run — the warehouse-dimension build (effective
    from/to, current flag) Spark has no operator for.

    Standard construction, one window partition per key: lag() flags
    state changes (ordered by ``(ts, order_col)`` — unique tiebreak),
    a running sum numbers the runs, a per-run aggregate takes the run's
    first timestamp, and lead() supplies ``valid_to`` (NULL = current,
    with ``is_current`` materialized).  NULL key/ts rows are excluded by
    contract; a NULL state is a real state (lag comparison is null-safe).

    Scale shape: two window passes and one aggregate, ALL partitioned by
    the high-cardinality key — the sort amortizes into one exchange
    (same shape as ``assign_sessions``).

    Returns ``key_col``, ``state`` , ``version`` (BIGINT, 1-based per
    key), ``valid_from_us``, ``valid_to_us`` (BIGINT micros; NULL open),
    ``is_current`` (BOOLEAN).
    """
    base = events.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(order_col).asc()
    )
    runs = (
        base.withColumn("_us", us)
        .withColumn("_prev", F.lag(state_col).over(w))
        .withColumn(
            "_chg",
            F.when(
                F.lag("_us").over(w).isNull()
                | ~F.col(state_col).eqNullSafe(F.col("_prev")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "version",
            F.sum("_chg").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    # every row in a run carries the SAME state (that is what defines a
    # run), so plain min() recovers it — including an all-NULL run
    per = runs.groupBy(key_col, "version").agg(
        F.min(state_col).alias("state"),
        F.min("_us").alias("valid_from_us"),
    )
    w2 = Window.partitionBy(key_col).orderBy("version")
    return per.select(
        key_col,
        "state",
        "version",
        "valid_from_us",
        F.lead("valid_from_us").over(w2).alias("valid_to_us"),
    ).withColumn("is_current", F.col("valid_to_us").isNull())


def attribute_conversions(
    events: DataFrame,
    conversion_type: str = "purchase",
    lookback_minutes: int = 7 * 24 * 60,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """Last-touch conversion attribution: credit every conversion event's
    value to the most recent preceding NON-conversion event (the "touch")
    by the same user within ``lookback_minutes``; conversions with no
    in-window touch credit the ``direct`` channel.  The marketing-
    attribution reduction every event warehouse ships (the reference
    engine has no event-stream operators; beyond-reference surface like
    the rest of this module).

    Rows with a NULL user or timestamp are excluded by contract; rows
    with a NULL type are neither touches nor conversions (they cannot
    name a channel).  The touch lookup is ``last(ignorenulls)`` over a
    ``ROWS UNBOUNDED PRECEDING .. 1 PRECEDING`` frame ordered by
    ``(ts, order_col)`` — one window pass partitioned by the
    high-cardinality user key, then one small groupBy over channels.
    Conversion values sum as DECIMAL(25,8) (exact, order-independent)
    and surface as double; NULL-valued conversions count toward
    ``n_conversions`` but add nothing to ``total_value``.

    Returns one row per channel: ``channel``, ``n_conversions``,
    ``total_value``.
    """
    conv = attributed_conversions(
        events, conversion_type, lookback_minutes, user_col, ts_col,
        type_col, value_col, order_col,
    )
    return conv.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.sum(F.col("value").cast("decimal(25,8)")).cast("double").alias("total_value"),
    )


def attributed_conversions(
    events: DataFrame,
    conversion_type: str = "purchase",
    lookback_minutes: int = 7 * 24 * 60,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """Per-conversion channel assignment — the row-level half of
    :func:`attribute_conversions` (which aggregates this to channels),
    exposed so the streaming twin and downstream revenue models can
    consume individual attributed conversions.  Same window shape and
    NULL contracts; returns ``order_col``, ``user_col``, ``channel``
    and ``value``.
    """
    lb_us = int(lookback_minutes) * 60 * 1_000_000
    base = events.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col).asc(), F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col(type_col).isNotNull() & (F.col(type_col) != F.lit(conversion_type))
    touch = F.last(
        F.when(is_touch, F.struct(F.col("_us").alias("t_us"), F.col(type_col).alias("t_type"))),
        ignorenulls=True,
    ).over(w)
    return (
        base.withColumn("_us", us)
        .withColumn("_touch", touch)
        .filter(F.col(type_col) == F.lit(conversion_type))
        .select(
            F.col(order_col),
            F.col(user_col),
            F.when(
                F.col("_touch").isNotNull()
                & (F.col("_touch.t_us") >= F.col("_us") - F.lit(lb_us)),
                F.col("_touch.t_type"),
            )
            .otherwise(F.lit("direct"))
            .alias("channel"),
            F.col(value_col).alias("value"),
        )
    )


def detect_value_anomalies(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str = "event_id",
    window_rows: int = 20,
    min_points: int = 5,
    k: int = 3,
    scale: int = 1000,
) -> DataFrame:
    """Trailing-window z-score anomaly flags, bit-reproducible: flag an
    event whose value deviates more than ``k`` population standard
    deviations from the user's previous ``window_rows`` values.  The
    streaming-metrics outlier gate, computed with EXACT integer
    arithmetic so the verdict is identical on any partitioning and in
    any engine.

    Values quantize to ``floor(value * scale)`` BIGINT (``x``); over the
    trailing frame (``ROWS window_rows PRECEDING .. 1 PRECEDING``,
    ordered by the unique ``(ts, order_col)`` key) the exact sums
    ``n``, ``S = Σx`` and ``SS = Σx²`` make the z-test a pure integer
    comparison — ``z² > k²  ⇔  (n·x − S)² > k²·(n·SS − S²)`` — no
    float variance, no sqrt.  BIGINT-safe for |value·scale| up to ~1e8
    with the default 20-row frame (the driver fixture's values top out
    near 3e5).  A zero-variance history flags ANY deviation (the
    inequality degenerates to ``dev² > 0``).  NULL user/ts/value rows
    are excluded by contract.

    Scale shape: one window pass partitioned by the high-cardinality
    user key — the three frame aggregates share a single sort+exchange;
    everything else is codegen'd arithmetic.

    Returns ``order_col``, ``user_col``, ``value_milli`` (the quantized
    BIGINT), ``n_prior`` and ``is_anomaly``.
    """
    base = events.filter(
        F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    )
    x = F.floor(F.col(value_col).cast("double") * F.lit(float(scale))).cast("long")
    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col).asc(), F.col(order_col).asc())
        .rowsBetween(-int(window_rows), -1)
    )
    out = (
        base.withColumn("value_milli", x)
        .withColumn("_n", F.count("value_milli").over(w))
        .withColumn("_s", F.sum("value_milli").over(w))
        .withColumn("_ss", F.sum(F.col("value_milli") * F.col("value_milli")).over(w))
    )
    dev = F.col("_n") * F.col("value_milli") - F.col("_s")
    var_n2 = F.col("_n") * F.col("_ss") - F.col("_s") * F.col("_s")
    return out.select(
        order_col,
        user_col,
        "value_milli",
        F.col("_n").alias("n_prior"),
        (
            (F.col("_n") >= F.lit(int(min_points)))
            & ((dev * dev) > F.lit(int(k) * int(k)) * var_n2)
        ).alias("is_anomaly"),
    )


def ohlc_bars(
    events: DataFrame,
    symbol_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str = "event_id",
    bar_minutes: int = 60,
) -> DataFrame:
    """Time-bar OHLC aggregation — the candlestick reduction every
    financial/metrics warehouse ships: per ``symbol_col`` and fixed
    time bar, the opening/highest/lowest/closing value plus volume.

    Open and close are extremum-of-struct aggregates over the unique
    ``(event micros, order_col)`` key — ``min(struct(us, id, value))``
    — NOT rank windows, so they partial-aggregate map-side and a hot
    symbol never concentrates a sort in one task (the keeper-selection
    rule from NOTES_r6).  Volume sums as DECIMAL(25,8) → double
    (exact, order-independent).  Rows with NULL symbol/ts/value are
    excluded by contract.

    Returns ``symbol_col``, ``bar_start_us`` (BIGINT micros), ``open``,
    ``high``, ``low``, ``close``, ``volume`` (double), ``n_events``.
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
        ((us - (us % F.lit(bar_us)))).alias("bar_start_us"),
        us.alias("_us"),
        F.col(order_col).alias("_oid"),
        F.col(value_col).alias("_v"),
    )
    first_s = F.min(F.struct("_us", "_oid", "_v"))
    last_s = F.max(F.struct("_us", "_oid", "_v"))
    return keyed.groupBy(symbol_col, "bar_start_us").agg(
        first_s.getField("_v").alias("open"),
        F.max("_v").alias("high"),
        F.min("_v").alias("low"),
        last_s.getField("_v").alias("close"),
        F.sum(F.col("_v").cast("decimal(25,8)")).cast("double").alias("volume"),
        F.count(F.lit(1)).alias("n_events"),
    )


def ewma_features(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str = "event_id",
    window_rows: int = 16,
    scale: int = 1000,
) -> DataFrame:
    """Exponentially-weighted trailing average with DYADIC decay
    (half-life = one event), bit-reproducible: the k-th most recent of
    the user's previous ``window_rows`` values carries weight ``2^-k``,
    so the weighted numerator and denominator are EXACT BIGINTs
    (quantized ``floor(value·scale)`` times a power of two) and the only
    float is one final division of exact integers — identical in any
    engine, on any partitioning.  The streaming-features EWMA every
    feature store ships, restricted to weights an integer engine can
    carry exactly.

    Implemented as ``window_rows`` ``lag()`` taps sharing ONE window
    sort (no collect_list buffering, no per-row arrays): ``num = Σ
    lag(x,k)·2^(W-k)``, ``den = Σ 2^(W-k)`` over the non-NULL taps.
    Rows with NULL user/ts/value are excluded by contract; an event
    with no history gets NULL ``ewma``.

    Returns ``order_col``, ``user_col``, ``value_milli``, ``n_prior``
    and ``ewma`` (double, in ``scale`` units).
    """
    if window_rows < 1 or window_rows > 62:
        raise ValueError("window_rows must be in [1, 62]")
    base = events.filter(
        F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    )
    x = F.floor(F.col(value_col).cast("double") * F.lit(float(scale))).cast("long")
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(order_col).asc()
    )
    out = base.withColumn("value_milli", x)
    # r11 (guide §1.2 per-task work): materialize each lag tap ONCE as a
    # named window column and do the num/den/n_prior arithmetic in the
    # Project above — inlining the taps into the three accumulator
    # expressions made the (non-codegen) Window node evaluate ~2 frame
    # processors per tap, with the accumulator arithmetic interpreted
    # inside it (measured 2.9 s -> 1.2 s on sf0.1, bit-identical: same
    # taps, same expression structure, now whole-stage-codegen'd).
    taps = out.select(
        order_col,
        user_col,
        "value_milli",
        *[
            F.lag("value_milli", k).over(w).alias(f"_t{k}")
            for k in range(1, int(window_rows) + 1)
        ],
    )
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    npr = F.lit(0).cast("long")
    for k in range(1, int(window_rows) + 1):
        tap = F.col(f"_t{k}")
        wgt = F.lit(1 << (int(window_rows) - k)).cast("long")
        num = num + F.coalesce(tap * wgt, F.lit(0).cast("long"))
        den = den + F.coalesce(
            F.when(tap.isNotNull(), wgt), F.lit(0).cast("long")
        )
        npr = npr + F.when(tap.isNotNull(), F.lit(1)).otherwise(F.lit(0))
    return taps.select(
        order_col,
        user_col,
        "value_milli",
        npr.alias("n_prior"),
        F.when(
            den > F.lit(0), num.cast("double") / den.cast("double")
        ).alias("ewma"),
    )


def twap(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_col: str = "event_id",
    scale: int = 1000,
) -> DataFrame:
    """Time-weighted average per user and calendar day — the TWAP
    reduction metric/financial stores need where a plain AVG is wrong
    because observations are irregular: each value holds until the next
    observation, so it is weighted by its holding duration.

    Exact arithmetic: values quantize to ``floor(value·scale)`` BIGINT,
    durations are BIGINT micros from ``lead()``, and the weighted sum
    accumulates as DECIMAL(38,0) (value·duration products overflow
    BIGINT on long days) — the final division is one float op over exact
    integers, bit-identical cross-engine.  The day's LAST observation
    contributes no duration (nothing is held past it); single-event
    days therefore have zero weight and a NULL TWAP.  NULL
    user/ts/value rows are excluded by contract.

    Scale shape: one ``lead`` window and one aggregate, both keyed by
    (user, day) — the window sort and the groupBy share the exchange.

    Returns ``user_col``, ``day`` (DATE), ``twap`` (double, in ``scale``
    units), ``n_obs`` (BIGINT).
    """
    base = events.filter(
        F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    )
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    x = F.floor(F.col(value_col).cast("double") * F.lit(float(scale))).cast("long")
    keyed = base.select(
        F.col(user_col),
        F.to_date(F.col(ts_col).cast("timestamp")).alias("day"),
        us.alias("_us"),
        F.col(order_col).alias("_oid"),
        x.alias("_x"),
    )
    w = Window.partitionBy(user_col, "day").orderBy(
        F.col("_us").asc(), F.col("_oid").asc()
    )
    seg = keyed.withColumn("_dt", F.lead("_us").over(w) - F.col("_us"))
    agg = seg.groupBy(user_col, "day").agg(
        F.sum((F.col("_x") * F.col("_dt")).cast("decimal(38,0)")).alias("_wsum"),
        F.sum("_dt").alias("_dtsum"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    return agg.select(
        user_col,
        "day",
        F.when(
            F.col("_dtsum") > 0,
            F.col("_wsum").cast("double") / F.col("_dtsum").cast("double"),
        ).alias("twap"),
        "n_obs",
    )


def dau_wau_stickiness(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """DAU / WAU / stickiness per calendar day — the engagement rollup
    every product warehouse ships: daily active users, trailing
    ``window_days``-active users, and their ratio.

    Exact rolling DISTINCT counts can't ride a window frame (COUNT
    DISTINCT OVER RANGE is unsupported everywhere); the scalable exact
    formulation is COVERAGE EXPLODE: reduce to distinct (user, day)
    pairs first (one aggregate — the frame that bounds everything
    after), then each pair covers the ``window_days`` report days it
    contributes to (map-only ``sequence`` explode, ×7 on the
    user-day frame, NOT on raw events), and one count-distinct per
    report day finishes.  Report days with no trailing activity simply
    don't appear; days seen only via coverage (no same-day actives)
    report ``dau = 0``.  At extreme scale swap the distinct for
    per-day HLL registers and merge them across the window
    (``profile.hll_estimate_by_group`` is the building block) — same
    plan shape, sketched counts.

    Returns ``day`` (DATE), ``dau``, ``wau`` (BIGINT),
    ``stickiness_ppm`` (BIGINT, ``(dau·10^6) div wau`` truncating).
    NULL user/ts rows are excluded by contract.
    """
    if window_days < 1:
        raise ValueError("window_days must be >= 1")
    base = events.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
    ud = base.select(
        F.col(user_col).alias("_u"),
        F.to_date(F.col(ts_col).cast("timestamp")).alias("_d"),
    ).distinct()

    ud = cache.persist(ud)
    dau = ud.groupBy(F.col("_d").alias("day")).agg(
        F.count(F.lit(1)).alias("dau")
    )
    covered = ud.select(
        "_u",
        F.explode(
            F.sequence(
                F.col("_d"), F.date_add(F.col("_d"), int(window_days) - 1)
            )
        ).alias("day"),
    )
    wau = covered.groupBy("day").agg(F.count_distinct(F.col("_u")).alias("wau"))
    return (
        wau.join(dau, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("dau"), F.lit(0).cast("long")).alias("dau"),
            "wau",
            F.expr("CAST((coalesce(dau, 0) * 1000000) div wau AS BIGINT)").alias(
                "stickiness_ppm"
            ),
        )
    )


def survival_curve(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    churn_horizon_days: int = 7,
) -> DataFrame:
    """Kaplan–Meier survival estimate over user lifetimes — the churn
    curve product analytics reports, with right-censoring done honestly:
    a user whose last activity falls within ``churn_horizon_days`` of
    the corpus end is CENSORED (still alive as far as the data knows),
    not counted as churned.

    Lifetime = last active day − first active day (BIGINT days).  At
    each observed lifetime ``t`` (ascending): ``n_t`` = users at risk
    (lifetime ≥ t), ``d_t`` = churned users with lifetime exactly ``t``;
    the KM factor ``ln((n_t − d_t)/n_t)`` is quantized to integer
    MICROnats and the log-survival curve is the exact BIGINT running
    sum — order-fixed, engine-identical (the module's fixed-point ln
    contract).  If some ``t`` kills everyone at risk (``d = n``),
    survival is exactly zero from there on: ``reached_zero`` flips true
    and ``log_survival_micronats`` goes NULL (ln 0 has no fixed-point).

    Scale shape: one per-user aggregate over the corpus, then the curve
    windows run on the per-LIFETIME frame (≤ days-of-history rows —
    trivially small at any corpus scale).

    Returns per observed lifetime: ``lifetime_days``, ``n_at_risk``,
    ``n_churned`` (BIGINT), ``log_survival_micronats`` (BIGINT, ≤ 0),
    ``reached_zero`` (BOOLEAN).
    """
    if churn_horizon_days < 0:
        raise ValueError("churn_horizon_days must be >= 0")
    base = events.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
    days = base.select(
        F.col(user_col).alias("_u"),
        F.to_date(F.col(ts_col).cast("timestamp")).alias("_d"),
    )
    per_user = days.groupBy("_u").agg(
        F.min("_d").alias("_first"), F.max("_d").alias("_last")
    )
    max_day = F.broadcast(days.agg(F.max("_d").alias("_maxd")))
    lifetimes = per_user.crossJoin(max_day).select(
        F.datediff(F.col("_last"), F.col("_first")).cast("long").alias("t"),
        F.when(
            F.col("_last") < F.date_sub(F.col("_maxd"), int(churn_horizon_days)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("_churn"),
    )
    hist = lifetimes.groupBy("t").agg(
        F.count(F.lit(1)).alias("_n_t"),
        F.sum("_churn").alias("n_churned"),
    )
    w = Window.orderBy(F.col("t").asc())
    cum_before = F.coalesce(
        F.sum("_n_t").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    total = F.broadcast(lifetimes.agg(F.count(F.lit(1)).alias("_total")))
    curve = hist.crossJoin(total).withColumn(
        "n_at_risk", F.col("_total") - cum_before
    )
    term = F.when(
        F.col("n_churned") < F.col("n_at_risk"),
        F.floor(
            F.log(
                (F.col("n_at_risk") - F.col("n_churned")).cast("double")
                / F.col("n_at_risk").cast("double")
            )
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        ),
    )
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = (
        curve.withColumn("_term", term)
        .withColumn(
            "reached_zero",
            F.max(
                F.when(F.col("n_churned") >= F.col("n_at_risk"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).over(wc)
            == F.lit(1),
        )
        .withColumn(
            "log_survival_micronats",
            F.when(~F.col("reached_zero"), F.sum("_term").over(wc)),
        )
    )
    return out.select(
        F.col("t").alias("lifetime_days"),
        "n_at_risk",
        F.col("n_churned").cast("long").alias("n_churned"),
        "log_survival_micronats",
        "reached_zero",
    )


def seasonal_residuals(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    group_col: str | None = "event_type",
) -> DataFrame:
    """Seasonal-naive decomposition on the weekly grid: the seasonal
    component is the exact mean value at each (weekday, hour) slot —
    per ``group_col`` when given — and the residual is what anomaly
    detection should actually look at once the daily/weekly rhythm is
    removed (raw-value thresholds fire every rush hour).

    Determinism: slot means are DECIMAL(25,8)-exact sums divided by
    BIGINT counts in ONE fixed float expression; the residual is one
    float subtraction of engine-identical doubles.  Weekday is pinned
    Monday=0 (Spark ``weekday`` == DuckDB ``isodow − 1`` — engines'
    default day-numbering disagrees, verified).  NULL ts/value rows are
    excluded by contract.

    Scale shape: one slot aggregate (≤ |groups|·168 rows) broadcast
    back onto the corpus — map-only after the aggregate; no windows.

    Returns ``event_id``, ``group_col`` (if given), ``dow`` (0=Mon),
    ``hour``, ``value``, ``seasonal`` (double), ``residual`` (double),
    ``n_slot`` (BIGINT — slot sample size, for confidence gating).
    """
    base = events.filter(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
    ts = F.col(ts_col).cast("timestamp")
    keys = ([group_col] if group_col else []) + ["dow", "hour"]
    keyed = base.select(
        "event_id",
        *([F.col(group_col)] if group_col else []),
        F.weekday(ts).alias("dow"),
        F.hour(ts).alias("hour"),
        F.col(value_col).alias("value"),
    )
    slots = keyed.groupBy(*keys).agg(
        (
            F.sum(F.col("value").cast("decimal(25,8)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("seasonal"),
        F.count(F.lit(1)).alias("n_slot"),
    )
    # null-safe join keys: a NULL group is a REAL slot (the oracle's
    # IS NOT DISTINCT FROM) — a plain key-list join would silently drop
    # NULL-group rows
    s = slots.select(*[F.col(k).alias(f"_s_{k}") for k in keys], "seasonal", "n_slot")
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"_s_{k}"))
        cond = c if cond is None else (cond & c)
    return keyed.join(s, cond).select(
        "event_id",
        *([F.col(group_col)] if group_col else []),
        "dow",
        "hour",
        "value",
        "seasonal",
        (F.col("value") - F.col("seasonal")).alias("residual"),
        "n_slot",
    )


def new_vs_returning(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Daily new-vs-returning active users — the acquisition/retention
    split on every product dashboard: a user is NEW on their first
    active day and RETURNING on every later active day.

    One distinct (user, day) reduction, one per-user MIN-day aggregate
    (reusing the same frame), one per-day count split — exact BIGINTs
    throughout, plus a truncating ppm share.  NULL user/ts rows are
    excluded by contract.

    Returns ``day`` (DATE), ``n_new``, ``n_returning`` (BIGINT),
    ``new_share_ppm`` (BIGINT, of that day's actives).
    """
    base = events.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())

    ud = cache.persist(
        base.select(
            F.col(user_col).alias("_u"),
            F.to_date(F.col(ts_col).cast("timestamp")).alias("_d"),
        ).distinct()
    )
    first = ud.groupBy("_u").agg(F.min("_d").alias("_first"))
    flagged = ud.join(first, "_u").select(
        F.col("_d").alias("day"),
        F.when(F.col("_d") == F.col("_first"), F.lit(1)).otherwise(F.lit(0)).alias("_new"),
    )
    return flagged.groupBy("day").agg(
        F.sum("_new").cast("long").alias("n_new"),
        (F.count(F.lit(1)) - F.sum("_new")).cast("long").alias("n_returning"),
        F.expr(
            "CAST((CAST(sum(_new) AS BIGINT) * 1000000) div count(1) AS BIGINT)"
        ).alias("new_share_ppm"),
    )


def peak_concurrency(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Peak concurrent sessions per calendar day — the capacity-planning
    number (license seats, connection pools, live-ops dashboards)
    computed with the classic sweep line: +1 at each session start, −1
    just after its end, running sum in time order, MAX per day.

    Sessions come from :func:`sessionize` (same gap semantics as the
    streaming ``session_window``).  The sweep orders by ``(us, delta
    desc, user, session)`` — at an exact start/end tie the START counts
    first, so back-to-back sessions at the same instant register as
    overlapping (the conservative capacity answer; documented, not
    accidental).  Sessions are attributed to their START day; a session
    crossing midnight contributes its whole span to that day's sweep
    (the simple contract — split spans upstream if per-day clipping is
    needed).

    Scale shape: the sweep runs over SESSION boundary rows (2 per
    session — ≪ events), partitioned by day, so no event-scale sort;
    one window + one per-day MAX.

    Returns ``day`` (DATE), ``peak_concurrent`` (BIGINT),
    ``n_sessions`` (BIGINT, sessions starting that day).
    """
    sess = sessionize(events, user_col, ts_col, order_col, gap_minutes)
    start_us = F.unix_micros(F.col("session_start").cast("timestamp"))
    end_us = F.unix_micros(F.col("session_end").cast("timestamp"))
    day = F.to_date(F.col("session_start").cast("timestamp"))
    deltas = sess.select(
        day.alias("day"),
        start_us.alias("_us"),
        F.lit(1).alias("_delta"),
        F.col(user_col).alias("_u"),
        F.col("session_id").alias("_sid"),
    ).unionByName(
        sess.select(
            day.alias("day"),
            (end_us + F.lit(1)).alias("_us"),  # end is inclusive: -1 AFTER it
            F.lit(-1).alias("_delta"),
            F.col(user_col).alias("_u"),
            F.col("session_id").alias("_sid"),
        )
    )
    w = Window.partitionBy("day").orderBy(
        F.col("_us").asc(), F.col("_delta").desc(), F.col("_u").asc(), F.col("_sid").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    running = deltas.withColumn("_cur", F.sum("_delta").over(w))
    return running.groupBy("day").agg(
        F.max("_cur").cast("long").alias("peak_concurrent"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_sessions"),
    )


def interval_coverage(
    df: DataFrame,
    key_cols: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Per-key union length of a set of (possibly overlapping) intervals
    — "how much wall-clock was this user/machine actually active",
    the sweep-free gaps-and-islands reduction (uptime from heartbeat
    leases, billed seconds from session spans, sensor coverage).

    Intervals are merged per key: an interval starts a new island when
    its start exceeds the running max end of everything before it (one
    window, ordered by (start, end) so equal intervals are
    deterministic); islands are then aggregated.  Half-open [start, end)
    semantics: a touching interval (start == prev end) EXTENDS the
    island (no gap between them).  NULL starts/ends are excluded by
    contract (an unbounded interval has no finite length; and NULL sort
    placement differs across engines).  Integer (e.g. epoch-micro)
    bounds stay BIGINT-exact end to end.

    Scale shape: one key-partitioned window + two key-grouped
    aggregates sharing the same hash partitioning — never a global
    sort.

    Returns key cols + ``n_intervals`` (BIGINT, input count),
    ``n_islands`` (BIGINT, merged runs), ``covered`` (BIGINT, union
    length), ``span`` (BIGINT, max end − min start).
    """
    from pyspark.sql.window import Window

    s = F.col(start_col).cast("bigint")
    e = F.col(end_col).cast("bigint")
    base = df.filter(
        F.col(start_col).isNotNull() & F.col(end_col).isNotNull()
    ).select(*key_cols, s.alias("_s"), e.alias("_e"))
    w = Window.partitionBy(*key_cols).orderBy("_s", "_e")
    prev_max = F.max("_e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = base.select(
        *key_cols,
        "_s",
        "_e",
        F.when(prev_max.isNull() | (F.col("_s") > prev_max), 1)
        .otherwise(0)
        .alias("_new"),
    )
    islands = marked.select(
        *key_cols,
        "_s",
        "_e",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_isl"),
    )
    per_island = islands.groupBy(*key_cols, "_isl").agg(
        F.min("_s").alias("_is"),
        F.max("_e").alias("_ie"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    return per_island.groupBy(*key_cols).agg(
        F.sum("_cnt").cast("bigint").alias("n_intervals"),
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("_ie") - F.col("_is")).cast("bigint").alias("covered"),
        (F.max("_ie") - F.min("_is")).cast("bigint").alias("span"),
    )


def activity_streaks(
    df: DataFrame,
    user_col: str,
    day_col,
) -> DataFrame:
    """Per-user longest consecutive-day activity streak — the retention
    product metric (and the canonical gaps-and-islands application over
    a distinct day grid).

    ``day_col`` is an integer day index (column name or Column, e.g.
    ``epoch_us div 86400e6``).  The distinct (user, day) frame is
    row-numbered per user in day order; ``day − row_number`` is constant
    exactly along a consecutive run, so grouping on it yields streaks.
    NULL users/days are excluded by contract.

    Scale shape: distinct + one user-partitioned window + two
    user-grouped aggregates, all sharing the user hash partitioning.

    Returns ``user_col``, ``active_days`` (BIGINT), ``longest_streak``
    (BIGINT), ``n_streaks`` (BIGINT).
    """
    from pyspark.sql.window import Window

    d = (F.col(day_col) if isinstance(day_col, str) else day_col).cast("bigint")
    days = (
        df.filter(F.col(user_col).isNotNull() & d.isNotNull())
        .select(F.col(user_col).alias("_u"), d.alias("_d"))
        .distinct()
    )
    w = Window.partitionBy("_u").orderBy("_d")
    runs = days.select(
        "_u", "_d", (F.col("_d") - F.row_number().over(w)).alias("_run")
    )
    per_run = runs.groupBy("_u", "_run").agg(F.count(F.lit(1)).alias("_len"))
    return per_run.groupBy("_u").agg(
        F.sum("_len").cast("bigint").alias("active_days"),
        F.max("_len").cast("bigint").alias("longest_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
    ).withColumnRenamed("_u", user_col)


def path_ngrams(
    df: DataFrame,
    user_col: str,
    t_col,
    type_col: str,
    n: int = 3,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-user event-type path n-grams — "what do users actually do in
    sequence" (the navigation-pattern / funnel-discovery primitive;
    :func:`type_transitions` is the n = 2 special case in matrix form).

    Each user's events are ordered by (t, tiebreak) — pass a unique
    ``tiebreak_col`` so equal timestamps are deterministic — and every
    window of ``n`` consecutive types becomes one path string
    ``'a>b>c'``.  NULL users/times are excluded by contract (a path
    needs an owner and an order); NULL types print as the literal
    ``'∅'`` placeholder so a missing step is still a distinct path.

    ONE user-partitioned window (the ``n−1`` leads share its sort) +
    one count aggregate — no self-joins.

    Returns ``path`` (string), ``n_paths`` (BIGINT, occurrences).
    """
    from pyspark.sql.window import Window

    tc = F.col(t_col) if isinstance(t_col, str) else t_col
    base = df.filter(F.col(user_col).isNotNull() & tc.isNotNull())
    order = [tc.asc()] + ([F.col(tiebreak_col).asc()] if tiebreak_col else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    step = F.coalesce(F.col(type_col).cast("string"), F.lit("∅"))
    steps = [step] + [F.lead(step, k).over(w) for k in range(1, n)]
    paths = base.select(
        F.concat_ws(">", *steps).alias("path"),
        steps[-1].isNotNull().alias("_complete"),
    ).filter(F.col("_complete"))
    return paths.groupBy("path").agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))


def markov_stationary(
    transitions: DataFrame,
    from_col: str,
    to_col: str,
    count_col: str,
    rounds: int = 8,
) -> DataFrame:
    """Stationary distribution of a first-order Markov chain given as
    transition COUNTS — "where does user behavior settle": the
    long-run share of time spent in each state (the behavioral
    analogue of PageRank; :func:`type_transitions` produces exactly
    this input).

    Fixed-point integer formulation so an oracle replays it exactly:
    row-normalized transition probabilities in truncating ppm
    (``p_ij = cnt·1e6 div row_total``), the distribution vector in ppm
    starting uniform, and each power-iteration round
    ``v'(j) = Σ_i v(i)·p_ij div 1e6`` — every intermediate a BIGINT.
    Truncation bleeds ≤ n_states ppm of mass per round (not
    renormalized — deterministic beats pretty); fixed ``rounds`` keeps
    the oracle an unrolled CTE chain.  States with no outgoing
    transitions simply absorb nothing (their row is missing — mass
    fades; add self-loops upstream for absorbing semantics).

    Scale shape: state-count-sized frames throughout (the chain has
    |states| rows, not |events|): one normalization window + ``rounds``
    joins/aggregates over tiny keyed frames — no driver data, no
    collect.

    Returns ``state``, ``stationary_ppm`` (BIGINT).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    base = transitions.filter(
        F.col(from_col).isNotNull() & F.col(to_col).isNotNull()
    ).select(
        F.col(from_col).alias("_i"),
        F.col(to_col).alias("_j"),
        F.col(count_col).cast("bigint").alias("_c"),
    )
    w = Window.partitionBy("_i")
    probs = base.select(
        "_i",
        "_j",
        F.expr("(_c * 1000000) div sum(_c) OVER (PARTITION BY _i)").alias("_p_ppm"),
    )
    states = (
        base.select(F.col("_i").alias("state"))
        .unionAll(base.select(F.col("_j").alias("state")))
        .distinct()
    )
    n_states = states.count()  # chain-sized (tiny): bounded driver scalar
    v = states.select(
        "state", F.lit(1_000_000 // n_states).cast("bigint").alias("v_ppm")
    )
    for _ in range(rounds):
        v = (
            probs.join(v.select(F.col("state").alias("_i"), "v_ppm"), "_i")
            .groupBy("_j")
            .agg(F.sum(F.expr("(v_ppm * _p_ppm) div 1000000")).alias("v_ppm"))
            .select(F.col("_j").alias("state"), F.col("v_ppm").cast("bigint"))
        )
    return v.select("state", F.col("v_ppm").alias("stationary_ppm"))


def funnel_time_to_convert(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    stage_a: str = "view",
    stage_b: str = "purchase",
    us_col_prefix: str = "t",
) -> DataFrame:
    """Per-user time-to-convert between two funnel stages: for each user
    the FIRST ``stage_a`` touch and the FIRST ``stage_b`` at-or-after it,
    and the gap between them — the latency companion to
    :func:`session_funnel` (which counts conversions;
    product/growth work needs *how long* they took, and per-user deltas
    feed any percentile/survival downstream without re-scanning).

    Exact semantics: ``t_a = min(ts of stage_a)``; ``t_b = min(ts of
    stage_b with ts >= t_a)`` — a purchase at the same instant as the
    first view converts (instrumentation batches events); users with a
    ``stage_b`` only BEFORE their first ``stage_a`` are not converted
    (NULL ``t_b``/``delta``); users with no ``stage_a`` are absent.
    Timestamps as unix micros (BIGINT — the engine's cross-engine-exact
    instant idiom).  NULL users/timestamps are excluded.

    Scale shape: one groupBy for the anchors, one user-keyed join onto
    the ``stage_b`` rows, one groupBy min — all hash-partitioned on the
    user key, no windows over full histories.

    Returns ``user_col``, ``{prefix}_a_us``, ``{prefix}_b_us``,
    ``delta_us`` (BIGINT; NULL b/delta for non-converted).
    """
    us = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP))")
    base = events.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(F.col(user_col).alias("_u"), us.alias("_us"), F.col(type_col).alias("_t"))
    ta = (
        base.filter(F.col("_t") == stage_a)
        .groupBy("_u")
        .agg(F.min("_us").alias("_ta"))
    )
    tb = (
        base.filter(F.col("_t") == stage_b)
        .join(ta, "_u")
        .filter(F.col("_us") >= F.col("_ta"))
        .groupBy("_u")
        .agg(F.min("_us").alias("_tb"))
    )
    p = us_col_prefix
    return ta.join(tb, "_u", "left").select(
        F.col("_u").alias(user_col),
        F.col("_ta").alias(f"{p}_a_us"),
        F.col("_tb").alias(f"{p}_b_us"),
        (F.col("_tb") - F.col("_ta")).alias("delta_us"),
    )


def ab_test_conversion(
    events: DataFrame,
    user_col: str = "user_id",
    variant_expr: str = "user_id % 2",
    conv_pred: str = "event_type = 'purchase'",
) -> DataFrame:
    """Two-variant conversion A/B readout with the z statistic —
    user-level (the correct unit: rates over events double-count heavy
    users), exact where exactness is possible and ONE fixed float
    expression where it is not (the ACF/OLS convention):

    - per user: variant (a deterministic expression over the user key)
      and a converted flag (any event matching ``conv_pred``);
    - per variant: exact BIGINT ``n`` and ``conv``; rates as truncating
      ppm; ``lift_ppm = rate_b − rate_a`` exact;
    - the two-proportion pooled z: ``(p̂_b − p̂_a) / sqrt(p̂(1−p̂)·(1/n_a
      + 1/n_b))`` as a single float expression over the five exact
      integers — IEEE +,−,×,÷,sqrt are all correctly rounded, so the
      double is bit-identical in any engine (no p-value: that needs erf,
      which is NOT correctly rounded across libms; consumers threshold
      |z| directly, e.g. 1.96).

    Shape: one user groupBy + one 2-group aggregate + a 1×1 self-pair —
    map-side combinable throughout.  NULL users excluded.

    Returns one row: ``n_a``, ``conv_a``, ``rate_a_ppm``, ``n_b``,
    ``conv_b``, ``rate_b_ppm``, ``lift_ppm`` (BIGINT), ``z`` (DOUBLE;
    NULL when the pooled rate is degenerate — all or no conversions).
    An empty variant yields an EMPTY result (no users → no readout),
    never a half-filled row.
    """
    per_user = (
        events.filter(F.col(user_col).isNotNull())
        .groupBy(user_col)
        .agg(
            F.max(F.when(F.expr(conv_pred), 1).otherwise(0)).alias("_c"),
        )
        .select(
            # pmod, not %: Spark's % keeps the dividend's sign, so a
            # variant_expr that can go negative (hash()-based splits,
            # negative ids) would map to {-1, 0, 1} and silently drop
            # the -1 users from both arms
            F.pmod(F.expr(variant_expr), F.lit(2)).alias("_v"),
            F.col("_c"),
        )
    )
    by_variant = per_user.groupBy("_v").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_c").alias("_conv")
    )
    a = by_variant.filter(F.col("_v") == 0).select(
        F.col("_n").alias("n_a"), F.col("_conv").alias("conv_a")
    )
    b = by_variant.filter(F.col("_v") == 1).select(
        F.col("_n").alias("n_b"), F.col("_conv").alias("conv_b")
    )
    z = (
        "CASE WHEN n_a > 0 AND n_b > 0 "
        "AND (conv_a + conv_b) > 0 AND (conv_a + conv_b) < (n_a + n_b) THEN "
        "(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)"
        " - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / "
        "sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
        " * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
        " * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) END"
    )
    return (
        a.crossJoin(b)
        .select(
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("conv_a").cast("bigint").alias("conv_a"),
            F.expr("(conv_a * 1000000) div n_a").alias("rate_a_ppm"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("conv_b").cast("bigint").alias("conv_b"),
            F.expr("(conv_b * 1000000) div n_b").alias("rate_b_ppm"),
            F.expr(
                "(conv_b * 1000000) div n_b - (conv_a * 1000000) div n_a"
            ).alias("lift_ppm"),
            F.expr(z).alias("z"),
        )
    )


def decay_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    lookback_days: int = 3,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Time-decay MULTI-touch attribution: every conversion's value is
    split across ALL the user's touches in the lookback, each weighted
    by how recently it happened — the standard middle ground between
    last-touch (``attribute_conversions``: winner-take-all recency) and
    the Markov removal effect (``removal_effect_attribution``:
    model-based).  Industry convention is an exponential half-life;
    dyadic decay makes it EXACT: a touch ``a`` whole days before the
    conversion carries weight ``2^(lookback_days - a)`` (an integer —
    the newest day weighs ``2^lookback_days``, each older day exactly
    half), so per-conversion credit

        ``credit_milli = (value_milli * w_touch) div Σ w_touches``

    is one truncating BIGINT division (the remainder — at most
    Σw−1 milli-units per conversion — is dropped, documented).
    Conversions with NO touch in the lookback credit 'direct' in full.

    Shape: one band join (touches at most ``lookback_days`` before
    their user's conversion — candidates bounded per user like the
    as-of band joins), ONE conversion-keyed window for Σw, one channel
    groupBy.  NULL users/timestamps excluded; touches are
    non-conversion events with a non-NULL type.  Conversions with a
    NULL ``id_col`` are EXCLUDED (same contract as the NULL-user/ts
    exclusions): the id is the per-user conversion key, and a NULL key
    would both pool all of a user's NULL-id conversions into one
    weight window AND re-credit them to 'direct' (the anti-join never
    matches NULL keys) — double counting (ADVICE r9).

    Returns ``channel``, ``n_touches`` (BIGINT, credited touch rows),
    ``credited_milli`` (BIGINT, milli-value units).
    """
    if lookback_days < 1:
        raise ValueError("lookback_days must be >= 1")
    day_us = 86_400_000_000
    lb_us = lookback_days * day_us
    base = events.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
    us = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP))")
    conv = base.filter(
        (F.col(type_col) == conversion_type) & F.col(id_col).isNotNull()
    ).select(
        F.col(user_col).alias("_u"),
        F.col(id_col).alias("_cid"),
        us.alias("_cus"),
        F.coalesce(
            F.floor(F.col(value_col).cast("double") * 1000.0).cast("bigint"),
            F.lit(0),
        ).alias("_vm"),
    )
    tch = base.filter(
        (F.col(type_col) != conversion_type) & F.col(type_col).isNotNull()
    ).select(
        F.col(user_col).alias("_u"),
        us.alias("_tus"),
        F.col(type_col).alias("channel"),
    )
    cand = conv.join(tch, "_u").filter(
        (F.col("_tus") < F.col("_cus")) & (F.col("_tus") >= F.col("_cus") - lb_us)
    )
    # weight = 2^(lookback_days - whole_days_before): BIGINT, exact
    # (SQL shiftleft — the DataFrame F.shiftleft wants a literal bit count)
    w = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), "
        f"{int(lookback_days)} - CAST((_cus - _tus) div 86400000000 AS INT))"
    )
    # (_u, _cid), never _cid alone: conversion ids need only be unique
    # PER USER (per-user sequence numbers are a common schema) — keying
    # by id alone would merge same-id conversions across users
    per_conv = Window.partitionBy("_u", "_cid")
    credited = cand.select(
        "_u", "_cid", "_vm", "channel", w.alias("_w")
    ).select(
        "channel",
        F.expr("(_vm * _w)").alias("_num"),
        F.sum("_w").over(per_conv).alias("_tw"),
    ).select("channel", F.expr("_num div _tw").alias("_credit"))
    touched = credited.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum("_credit").cast("bigint").alias("credited_milli"),
    )
    direct = (
        conv.join(
            cand.select("_u", "_cid").distinct(), ["_u", "_cid"], "left_anti"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.coalesce(F.sum("_vm"), F.lit(0)).cast("bigint").alias("credited_milli"),
        )
        .select(F.lit("direct").alias("channel"), "n_touches", "credited_milli")
        .filter(F.col("n_touches") > 0)
    )
    return touched.unionByName(direct)


def session_dwell_summary(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Session-quality readout over :func:`sessionize`: how long do
    sessions last and how many BOUNCE (single-event sessions — the
    classic engagement-quality split web analytics keys on).  One
    aggregate over the per-session rows; every number a BIGINT
    (``avg_dwell_us`` is a truncating div; bounce rate in ppm).

    Returns one row: ``n_sessions``, ``n_bounces``, ``bounce_ppm``,
    ``total_dwell_us``, ``avg_dwell_us`` (BIGINT; avg NULL when there
    are no sessions).
    """
    s = sessionize(
        events, user_col, ts_col, order_col, gap_minutes, value_col=None
    )
    return s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bounces"),
        F.coalesce(F.sum("duration_us"), F.lit(0))
        .cast("bigint")
        .alias("total_dwell_us"),
    ).select(
        "n_sessions",
        "n_bounces",
        F.expr("(n_bounces * 1000000) div n_sessions").alias("bounce_ppm"),
        "total_dwell_us",
        F.expr("total_dwell_us div n_sessions").alias("avg_dwell_us"),
    )


def removal_effect_attribution(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    conv_type: str = "purchase",
    rounds: int = 12,
) -> DataFrame:
    """Markov removal-effect attribution (Anderl 2014) — the
    data-driven multi-touch model that replaces position heuristics
    (:func:`last_touch` etc.): build the first-order journey chain
    START → channels → {CONV, DROP}, then credit each channel by how
    much the chain's conversion probability FALLS when that channel is
    removed (transitions into it rerouted to DROP).

    The corpus-sized work is ONE aggregation (journey pairs → transition
    counts); everything after it is arithmetic on a matrix of
    O(|channel vocabulary|²) rows.  That matrix is collected once and the
    per-scenario power iteration runs exactly on the driver
    (:func:`_removal_effect_exact` — the bounded-frame rule: ``rounds``
    sequential cluster jobs over a few-hundred-row frame are pure
    scheduler overhead).  Vocabularies beyond
    ``_RE_MAX_DRIVER_TRANSITIONS`` transition rows fall back to the
    all-scenarios-at-once distributed loop
    (:func:`_removal_effect_spark_loop`, keyed by ``(removed, state)`` —
    no per-channel loop there either).  Exact integers throughout
    (truncating-ppm rows, ``Σ T(s,t)·v(t) div 1e6`` rounds) on BOTH
    routes — equivalence pinned by ``tests/test_removal_equivalence.py``;
    ``rounds`` bounds journey length (the R-step conversion probability —
    journeys are short; fixed R keeps the oracle an unrolled CTE chain).

    Journey semantics: per user, channel touches strictly before the
    FIRST ``conv_type`` event (ts, id ordered), then CONV if the user
    converted else DROP; converting users with no prior touches
    contribute START→CONV.  NULL users/timestamps are excluded; NULL
    channel types are the real channel '∅' (the
    :func:`markov_stationary` convention).

    Returns one row per channel: ``channel``, ``p_full_ppm`` (the
    intact chain's START→CONV probability — same every row),
    ``p_removed_ppm``, ``removal_effect_ppm`` (the drop, floored at 0),
    ``share_ppm`` (effect share of the summed effects; NULL when all
    effects are 0).
    """
    from pyspark.sql.window import Window

    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    PPM = 1_000_000
    base = events.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col).alias("_u"),
        F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP))").alias("_t"),
        # NULL ids coalesce to -1: NULLS-placement in (ts, id) orderings
        # differs across engines, and a deterministic sentinel beats a
        # NULLS FIRST/LAST dance in every window and struct comparison
        F.coalesce(F.col(id_col).cast("bigint"), F.lit(-1)).alias("_i"),
        F.coalesce(F.col(type_col).cast("string"), F.lit("∅")).alias("_et"),
    )
    conv = base.filter(F.col("_et") == conv_type).groupBy("_u").agg(
        F.min(F.struct("_t", "_i")).alias("_cp")
    )
    touches = (
        base.filter(F.col("_et") != conv_type)
        .join(conv, "_u", "left")
        .filter(
            F.col("_cp").isNull() | (F.struct("_t", "_i") < F.col("_cp"))
        )
        .select("_u", "_t", "_i", "_et", F.col("_cp").isNotNull().alias("_cv"))
    )
    w = Window.partitionBy("_u").orderBy("_t", "_i")
    seq = touches.select(
        "_u",
        "_et",
        "_cv",
        F.lag("_et", 1).over(w).alias("_prev"),
        F.lead("_et", 1).over(w).alias("_next"),
    )
    pairs = seq.select(
        F.coalesce("_prev", F.lit("START")).alias("fi"), F.col("_et").alias("tj")
    ).unionAll(
        seq.filter(F.col("_next").isNull()).select(
            F.col("_et").alias("fi"),
            F.when(F.col("_cv"), F.lit("CONV")).otherwise(F.lit("DROP")).alias("tj"),
        )
    ).unionAll(
        # converting users with zero prior touches: START -> CONV
        conv.join(touches.select("_u").distinct(), "_u", "left_anti").select(
            F.lit("START").alias("fi"), F.lit("CONV").alias("tj")
        )
    )
    counts = pairs.groupBy("fi", "tj").agg(F.count(F.lit(1)).alias("c"))

    # Everything below the counts aggregate is arithmetic on the transition
    # matrix, whose size is O(|channel vocabulary|^2) rows no matter how big
    # the corpus is.  Collect it ONCE and run the exact integer scenario
    # iteration on the driver (the bounded-frame rule that fixed mmr_rerank
    # in r11): ``rounds`` driver-sequential checkpoint jobs over a
    # few-hundred-row frame are pure scheduler overhead.  A pathological
    # vocabulary (beyond the cap) falls back to the all-scenarios-at-once
    # distributed loop, which is also the equivalence witness
    # (tests/test_removal_equivalence.py).
    counts = cache.checkpoint(counts)
    head = counts.limit(_RE_MAX_DRIVER_TRANSITIONS + 1).collect()
    if len(head) <= _RE_MAX_DRIVER_TRANSITIONS:
        cache.release(counts)  # the driver route never reads it again
        rows = _removal_effect_exact(
            [(r["fi"], r["tj"], int(r["c"])) for r in head], rounds, PPM
        )
        return events.sparkSession.createDataFrame(
            rows,
            "channel string, p_full_ppm long, p_removed_ppm long, "
            "removal_effect_ppm long, share_ppm long",
        )
    return _removal_effect_spark_loop(counts, rounds, PPM)


# Transition-matrix cap for the driver-exact route: ~40 channels' worth of
# (fi, tj) rows.  Above it the scenario iteration stays distributed.
_RE_MAX_DRIVER_TRANSITIONS = 2000


def _removal_effect_exact(
    transitions: list, rounds: int, ppm: int = 1_000_000
) -> list:
    """Exact integer removal-effect computation over a collected
    ``(fi, tj, c)`` transition-count list — identical, value for value,
    to :func:`_removal_effect_spark_loop` (pinned by
    ``tests/test_removal_equivalence.py``): same truncating-ppm row
    normalization, same ``sum(p·v) div ppm`` rounds, same
    missing-START/empty-scenario semantics.  Returns
    ``(channel, p_full_ppm, p_removed_ppm, removal_effect_ppm,
    share_ppm)`` tuples (unordered; ``share_ppm`` None when all effects
    are 0).  All quantities are non-negative, so Python floor division
    matches both engines' truncating ``div``/``//``.
    """
    counts: dict = {}
    for fi, tj, c in transitions:
        counts[(fi, tj)] = counts.get((fi, tj), 0) + int(c)
    special = {"START", "CONV", "DROP"}
    channels = sorted({x for ft in counts for x in ft if x not in special})
    # A real channel literally named "(none)" is harmless: the tag
    # replication it doubles in the distributed form scales c and sum(c)
    # together, and floor(m·c·ppm / (m·sum)) == floor(c·ppm / sum) — the
    # scenario computes identically, and eff excludes it either way.
    results: dict = {}
    for removed in set(channels) | {"(none)"}:
        scc: dict = {}
        for (fi, tj), c in counts.items():
            if fi == removed:
                continue
            key = (fi, "DROP" if tj == removed else tj)
            scc[key] = scc.get(key, 0) + c
        outsum: dict = {}
        for (fi, _tj), c in scc.items():
            outsum[fi] = outsum.get(fi, 0) + c
        p = {ft: (c * ppm) // outsum[ft[0]] for ft, c in scc.items()}
        states = {s for ft in p for s in ft}
        v = {s: (ppm if s == "CONV" else 0) for s in states}
        for _ in range(int(rounds)):
            stepped: dict = {}
            for (fi, tj), pp in p.items():
                stepped[fi] = stepped.get(fi, 0) + pp * v[tj]
            v = {
                s: (ppm if s == "CONV" else stepped.get(s, 0) // ppm)
                for s in states
            }
        if "START" in v:
            results[removed] = v["START"]
    if "(none)" not in results:
        return []
    p_full = results["(none)"]
    eff = [
        (ch, p_full, results[ch], max(p_full - results[ch], 0))
        for ch in channels
        if ch != "(none)" and ch in results
    ]
    tot = sum(e[3] for e in eff)
    return [
        (ch, pf, pr, re, (re * ppm) // tot if tot > 0 else None)
        for ch, pf, pr, re in eff
    ]


def _removal_effect_spark_loop(
    counts: DataFrame, rounds: int, PPM: int = 1_000_000
) -> DataFrame:
    """Pre-r11 distributed scenario iteration over the ``(fi, tj, c)``
    transition-count frame: replicate per removal tag, power-iterate all
    scenarios at once keyed by ``(removed, state)``.  Retained as the
    fallback for pathological channel vocabularies (counts beyond
    ``_RE_MAX_DRIVER_TRANSITIONS`` rows) and as the equivalence witness
    for :func:`_removal_effect_exact`."""
    channels = counts.select(F.col("fi").alias("_ch")).unionAll(
        counts.select(F.col("tj").alias("_ch"))
    ).filter(~F.col("_ch").isin("START", "CONV", "DROP")).distinct()
    tags = channels.select(F.col("_ch").alias("removed")).unionAll(
        channels.sparkSession.createDataFrame([("(none)",)], ["removed"])
    )
    # replicate counts per scenario; removal rewrites relationally:
    # drop the removed channel's outgoing row, reroute arrivals to DROP
    sc = (
        counts.crossJoin(F.broadcast(tags))
        .filter(F.col("fi") != F.col("removed"))
        .select(
            "removed",
            "fi",
            F.when(F.col("tj") == F.col("removed"), F.lit("DROP"))
            .otherwise(F.col("tj"))
            .alias("tj"),
            "c",
        )
        .groupBy("removed", "fi", "tj")
        .agg(F.sum("c").alias("c"))
    )
    p = sc.select(
        "removed",
        "fi",
        "tj",
        F.expr(f"(c * {PPM}) div sum(c) OVER (PARTITION BY removed, fi)").alias(
            "p_ppm"
        ),
    )

    p = cache.checkpoint(p)
    # v(state) = P(absorb in CONV within remaining rounds), per scenario
    v = cache.checkpoint(
        p.select("removed", F.col("tj").alias("state"))
        .unionAll(p.select("removed", F.col("fi").alias("state")))
        .distinct()
        .select(
            "removed",
            "state",
            F.when(F.col("state") == "CONV", F.lit(PPM).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            .alias("v"),
        )
    )
    for _ in range(rounds):
        stepped = (
            p.join(
                v.select("removed", F.col("state").alias("tj"), F.col("v").alias("_vt")),
                ["removed", "tj"],
            )
            .groupBy("removed", F.col("fi").alias("state"))
            .agg(F.expr(f"sum(p_ppm * _vt) div {PPM}").alias("v"))
        )
        nxt = (
            v.join(
                stepped.select("removed", "state", F.col("v").alias("_nv")),
                ["removed", "state"],
                "left",
            )
            .select(
                "removed",
                "state",
                F.when(F.col("state") == "CONV", F.lit(PPM).cast("long"))
                .otherwise(F.coalesce("_nv", F.lit(0)))
                .alias("v"),
            )
        )
        nxt = cache.checkpoint(nxt)
        cache.release(v)  # superseded round (localCheckpoint is eager)
        v = nxt
    starts = v.filter(F.col("state") == "START").select(
        "removed", F.col("v").alias("p_ppm")
    )
    full = F.broadcast(
        starts.filter(F.col("removed") == "(none)").select(
            F.col("p_ppm").alias("p_full_ppm")
        )
    )
    eff = (
        starts.filter(F.col("removed") != "(none)")
        .crossJoin(full)
        .select(
            F.col("removed").alias("channel"),
            "p_full_ppm",
            F.col("p_ppm").alias("p_removed_ppm"),
            F.greatest(
                F.col("p_full_ppm") - F.col("p_ppm"), F.lit(0).cast("long")
            ).alias("removal_effect_ppm"),
        )
    )
    tot = F.broadcast(
        eff.agg(F.sum("removal_effect_ppm").alias("_tot"))
    )
    return eff.crossJoin(tot).select(
        "channel",
        "p_full_ppm",
        "p_removed_ppm",
        "removal_effect_ppm",
        F.when(
            F.col("_tot") > 0,
            F.expr(f"(removal_effect_ppm * {PPM}) div _tot"),
        ).alias("share_ppm"),
    )


def cohort_ltv(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    qscale: int = 10_000,
    max_offset_days: int | None = None,
) -> DataFrame:
    """Cohort lifetime-value matrix — :func:`cohort_retention`'s revenue
    companion: users cohorted by first active day, and for each
    (cohort, age) cell the value booked that day plus the RUNNING
    cumulative per cohort — the curve LTV models are fit to and
    payback-period decisions read from.

    Value sums are fixed-point BIGINT (``floor(v·qscale + 0.5)``, the
    engine's q1 idiom — order-independent, cross-engine exact); the
    cumulative is one cohort-partitioned RANGE-free running window over
    the per-cell aggregate (cells per cohort = days observed, tiny).
    NULL users/timestamps are excluded; NULL values count activity but
    add no revenue (SUM semantics).

    Returns ``cohort_day`` (DATE), ``day_offset`` (BIGINT),
    ``n_active_users``, ``rev_q``, ``cum_rev_q`` (BIGINT,
    ``qscale``-scaled).
    """
    from pyspark.sql.window import Window

    if qscale < 1:
        raise ValueError("qscale must be >= 1")
    base = events.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col).alias("_uid"),
        F.to_date(F.col(ts_col)).alias("_day"),
        F.floor(F.col(value_col).cast("double") * F.lit(float(qscale)) + F.lit(0.5))
        .cast("long")
        .alias("_vq"),
    )
    cohort = base.groupBy("_uid").agg(F.min("_day").alias("cohort_day"))
    cells = (
        base.join(cohort, "_uid")
        .withColumn("day_offset", F.datediff(F.col("_day"), F.col("cohort_day")).cast("long"))
        .groupBy("cohort_day", "day_offset")
        .agg(
            F.countDistinct("_uid").cast("bigint").alias("n_active_users"),
            F.coalesce(F.sum("_vq"), F.lit(0)).cast("bigint").alias("rev_q"),
        )
    )
    if max_offset_days is not None:
        cells = cells.filter(F.col("day_offset") <= int(max_offset_days))
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("day_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cells.select(
        "cohort_day",
        "day_offset",
        "n_active_users",
        "rev_q",
        F.sum("rev_q").over(w).cast("bigint").alias("cum_rev_q"),
    )


def inter_event_histogram(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Inter-arrival-time histogram per event type on powers-of-2
    second buckets — the latency/cadence distribution ops dashboards
    key on (is this stream bursty or steady; did the cadence regime
    shift), with EXACT bucketing: ``bucket = floor(log2(gap_s + 1))``
    computed as ``length(bin(gap_s + 1)) - 1`` — pure integer string
    arithmetic, no float log, identical in any engine (bucket 0 =
    sub-second, 1 = 1s, 2 = 2-3s, ...).

    Gaps are between a user's CONSECUTIVE events of the same type
    (ordered by ``(ts, order_col)``); the first event of each (user,
    type) has no gap and contributes nothing.  NULL users/timestamps
    excluded.

    Shape: ONE (user, type)-partitioned lag window + ONE (type, bucket)
    groupBy with map-side combine.

    Returns ``event_type``, ``bucket`` (BIGINT), ``n_gaps`` (BIGINT),
    ``min_gap_s``, ``max_gap_s`` (BIGINT seconds, the bucket's observed
    range).
    """
    from pyspark.sql.window import Window

    base = events.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
        & F.col(type_col).isNotNull()
    ).select(
        F.col(user_col).alias("_u"),
        F.col(type_col).alias("event_type"),
        F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP))").alias("_us"),
        F.col(order_col).alias("_o"),
    )
    w = Window.partitionBy("_u", "event_type").orderBy("_us", "_o")
    gaps = base.select(
        "event_type",
        ((F.col("_us") - F.lag("_us").over(w)) / F.lit(1_000_000))
        .cast("bigint")
        .alias("_gap_s"),
    ).filter(F.col("_gap_s").isNotNull())
    # exact floor(log2(gap+1)) via the binary-string length — no float log
    bucket = (F.length(F.bin(F.col("_gap_s") + 1)) - 1).cast("bigint")
    return (
        gaps.select("event_type", bucket.alias("bucket"), "_gap_s")
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.min("_gap_s").cast("bigint").alias("min_gap_s"),
            F.max("_gap_s").cast("bigint").alias("max_gap_s"),
        )
    )
