"""Data-quality constraint checking (Deequ / Great Expectations-style):
declarative rules evaluated engine-side, reported as one row per rule —
the admission gate a production data pipeline runs before letting a new
batch touch training data.  Beyond-reference surface (the reference
engine has no validation operators).

Scale design: all ROW-LEVEL rules (not-null, accepted-values, range,
regex) fuse into ONE aggregate pass — a single scan with one conditional
SUM per rule, map-side combined, no matter how many rules are declared.
Uniqueness is one (key-count) aggregate; referential integrity is one
LEFT ANTI join against the (broadcastable) parent key set.  Every check
returns the same report schema so reports union/append across batches:
``check`` (STRING), ``kind`` (STRING), ``n_rows`` (BIGINT),
``n_violations`` (BIGINT), ``passed`` (BOOLEAN).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opteryx_spark import cache

__all__ = [
    "row_checks",
    "unique_check",
    "referential_check",
    "benford_audit",
    "freshness_check",
    "snapshot_drift",
    "categorical_drift",
]

_REPORT_COLS = ("check", "kind", "n_rows", "n_violations", "passed")


def row_checks(df: DataFrame, checks: list[tuple]) -> DataFrame:
    """Evaluate row-level constraints in ONE fused aggregate pass.

    ``checks`` is a list of tuples:

    - ``("not_null", col)`` — NULL values violate;
    - ``("accepted_values", col, [v1, v2, ...])`` — non-NULL values
      outside the list violate (NULL passes; add a not_null rule to
      forbid it);
    - ``("in_range", col, lo, hi)`` — non-NULL values outside
      [lo, hi] violate;
    - ``("matches_regex", col, pattern)`` — non-NULL values not fully
      matching violate.

    Returns one report row per rule (see module docstring).  The plan is
    a single scan + one aggregate regardless of rule count.
    """
    if not checks:
        raise ValueError("checks must be non-empty")
    aggs = [F.count(F.lit(1)).alias("_n")]
    names: list[tuple[str, str]] = []
    for spec in checks:
        kind, col = spec[0], spec[1]
        c = F.col(col)
        if kind == "not_null":
            bad = c.isNull()
        elif kind == "accepted_values":
            bad = c.isNotNull() & ~c.isin(list(spec[2]))
        elif kind == "in_range":
            bad = c.isNotNull() & ((c < F.lit(spec[2])) | (c > F.lit(spec[3])))
        elif kind == "matches_regex":
            bad = c.isNotNull() & ~c.rlike(str(spec[2]))
        else:
            raise ValueError(f"unknown row check kind: {kind!r}")
        alias = f"_v{len(names)}"
        names.append((f"{kind}({col})", kind))
        aggs.append(F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias(alias))
    agg = df.agg(*aggs)
    reports = []
    for i, (label, kind) in enumerate(names):
        reports.append(
            agg.select(
                F.lit(label).alias("check"),
                F.lit(kind).alias("kind"),
                F.col("_n").cast("long").alias("n_rows"),
                F.coalesce(F.col(f"_v{i}"), F.lit(0)).cast("long").alias(
                    "n_violations"
                ),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.withColumn("passed", F.col("n_violations") == 0)


def unique_check(df: DataFrame, cols: list[str], name: str | None = None) -> DataFrame:
    """Uniqueness constraint over a key: a violation is every row beyond
    the first of a duplicated (non-NULL-free) key; rows with any NULL key
    part are excluded (SQL UNIQUE semantics).  One groupBy(key) aggregate
    + one tiny reduce."""
    if not cols:
        raise ValueError("cols must be non-empty")
    cond = None
    for c in cols:
        nn = F.col(c).isNotNull()
        cond = nn if cond is None else (cond & nn)
    keyed = df.filter(cond).groupBy(*cols).agg(F.count(F.lit(1)).alias("_c"))
    rep = keyed.agg(
        F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_rows"),
        F.coalesce(F.sum(F.col("_c") - 1), F.lit(0)).cast("long").alias(
            "n_violations"
        ),
    )
    label = name or f"unique({', '.join(cols)})"
    return rep.select(
        F.lit(label).alias("check"),
        F.lit("unique").alias("kind"),
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


def referential_check(
    child: DataFrame,
    parent: DataFrame,
    fk: str,
    pk: str,
    name: str | None = None,
) -> DataFrame:
    """Referential integrity: non-NULL ``child.fk`` values missing from
    ``parent.pk`` violate (NULL FKs pass, SQL FK semantics).  One LEFT
    ANTI join against the distinct parent key set — broadcast when the
    parent side is dimension-sized, shuffle-hash otherwise (AQE
    decides)."""
    base = child.filter(F.col(fk).isNotNull())
    orphans = base.join(
        parent.select(F.col(pk).alias(fk)).distinct(), fk, "left_anti"
    )
    n = base.agg(F.count(F.lit(1)).alias("n")).withColumn("_j", F.lit(1))
    v = orphans.agg(F.count(F.lit(1)).alias("v")).withColumn("_j", F.lit(1))
    label = name or f"referential({fk} -> {pk})"
    return (
        n.join(v, "_j")
        .select(
            F.lit(label).alias("check"),
            F.lit("referential").alias("kind"),
            F.col("n").cast("long").alias("n_rows"),
            F.col("v").cast("long").alias("n_violations"),
            (F.col("v") == 0).alias("passed"),
        )
    )


def benford_audit(
    df: DataFrame,
    value_col: str,
    max_deviation_ppm: int = 30_000,
) -> DataFrame:
    """Benford's-law first-digit audit — the classic anomaly screen for
    organically-generated numeric columns (amounts, populations, counts):
    the observed share of each leading significant digit is compared to
    ``log10(1 + 1/d)``.

    Exact arithmetic: the leading digit comes from string manipulation
    (strip sign/zeros/dot — no float log in the hot path), shares and
    expectations are integer PPM (expected values are Python-quantized
    constants, identical literals in any engine), and the verdict is a
    per-digit |observed − expected| ≤ ``max_deviation_ppm`` check.
    Zero/NULL values carry no leading digit and are excluded (reported
    via ``n_total`` vs the digit-row sum).

    Scale shape: one map-only digit extraction + one 9-row aggregate
    with map-side combine; the audit frame is 9 rows at any corpus size.

    Returns one row per digit 1-9: ``digit``, ``n`` (BIGINT),
    ``observed_ppm``, ``expected_ppm`` (BIGINT), ``within_tolerance``
    (BOOLEAN).
    """
    import math

    if max_deviation_ppm < 0:
        raise ValueError("max_deviation_ppm must be >= 0")
    # leading significant digit, string-wise: abs -> drop '0.', '.', '-'
    s = F.regexp_replace(
        F.abs(F.col(value_col).cast("double")).cast("string"), "[^1-9]", ""
    )
    digit = F.when(F.length(s) > 0, F.substring(s, 1, 1).cast("int"))
    base = df.filter(F.col(value_col).isNotNull()).select(digit.alias("_d"))
    # r12 (guide §2.4): per-digit counts and the totals were SEPARATE
    # consumers of `base`, so the corpus scan + regexp digit extraction
    # executed twice.  ONE aggregate keeping the null-digit group (<= 10
    # rows at any corpus size, persisted) now feeds both: n_total is the
    # sum over every group, _n_digits the sum over real digits — exact
    # integer counts, identical values.
    counts_all = cache.persist(
        base.groupBy("_d").agg(F.count(F.lit(1)).alias("n"))
    )
    counts = counts_all.filter(F.col("_d").isNotNull())
    total = F.broadcast(
        counts_all.agg(
            F.coalesce(F.sum("n"), F.lit(0).cast("long")).alias("n_total"),
            F.coalesce(
                F.sum(F.when(F.col("_d").isNotNull(), F.col("n"))),
                F.lit(0).cast("long"),
            ).alias("_n_digits"),
        )
    )
    spark = df.sparkSession
    expected = F.broadcast(
        spark.createDataFrame(
            [
                (d, int(math.floor(math.log10(1.0 + 1.0 / d) * 1_000_000 + 0.5)))
                for d in range(1, 10)
            ],
            "digit int, expected_ppm long",
        )
    )
    obs = expected.join(
        counts.withColumnRenamed("_d", "digit"), "digit", "left"
    ).crossJoin(total)
    return obs.select(
        "digit",
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
        F.expr(
            "CAST((coalesce(n, 0) * 1000000) div _n_digits AS BIGINT)"
        ).alias("observed_ppm"),
        "expected_ppm",
    ).withColumn(
        "within_tolerance",
        F.abs(F.col("observed_ppm") - F.col("expected_ppm"))
        <= F.lit(int(max_deviation_ppm)),
    )


def freshness_check(
    df: DataFrame,
    ts_col: str,
    as_of_us: int,
    max_lag_minutes: int,
    group_col: str | None = None,
) -> DataFrame:
    """Data-freshness SLA check — the first thing an ingestion monitor
    asks: when did each partition/source last produce a row, and is the
    lag within tolerance?  ``as_of_us`` is an explicit reference instant
    (BIGINT micros) rather than now(): deterministic, replayable, and
    honest about WHEN the check ran.

    One aggregate (per ``group_col`` when given); NULL timestamps are
    ignored (they carry no recency evidence); a group with only NULL
    timestamps reports NULL ``last_ts_us``/``lag_us`` and fails.

    Returns [``group_col``,] ``n_rows``, ``last_ts_us``, ``lag_us``
    (BIGINT) and ``is_fresh`` (BOOLEAN).
    """
    if max_lag_minutes < 0:
        raise ValueError("max_lag_minutes must be >= 0")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    keys = [group_col] if group_col else []
    agg = (df.groupBy(*keys) if keys else df.groupBy()).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max(us).alias("last_ts_us"),
    )
    lag = F.lit(int(as_of_us)) - F.col("last_ts_us")
    return agg.select(
        *keys,
        "n_rows",
        "last_ts_us",
        lag.alias("lag_us"),
        F.coalesce(
            lag <= F.lit(int(max_lag_minutes) * 60 * 1_000_000), F.lit(False)
        ).alias("is_fresh"),
    )


def snapshot_drift(
    a: DataFrame,
    b: DataFrame,
    columns: list[str],
) -> DataFrame:
    """Schema/statistics drift between two snapshots of one table —
    the check a recurring ingestion runs before promoting a new batch:
    did a column's null rate or cardinality move?  (Distribution drift
    for NUMERIC columns is :func:`opteryx_spark.operators.features.psi_drift`;
    this is the cheap every-column structural screen.)

    For every named column, both sides contribute exact counts:
    ``rows``, ``nulls`` and ``n_distinct`` (exact; swap in HLL via
    ``operators/profile.py`` when columns are ultra-high-cardinality).
    Counts for ALL columns come from ONE aggregate pass per side —
    one conditional SUM + one COUNT DISTINCT per column fused into a
    single ``groupBy()`` (Spark plans multi-distinct aggregates via
    expand, still a single scan per side) — then unpivot to one row
    per column via an explode of a struct array (no per-column scans,
    no unions of subplans).

    Returns ``col_name``, ``rows_a``, ``nulls_a``, ``distinct_a``,
    ``rows_b``, ``nulls_b``, ``distinct_b``, ``null_delta_ppm``
    (BIGINT, signed b−a null-rate change in parts-per-million of each
    side's rows; 0 when either side is empty) — deterministic integer
    output, no floats.
    """
    if not columns:
        raise ValueError("columns must be non-empty")

    def _side(df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("_rows")]
        for c in columns:
            aggs.append(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("bigint").alias(f"_n_{c}")
            )
            aggs.append(F.count_distinct(F.col(c)).alias(f"_d_{c}"))
        g = df.groupBy().agg(*aggs)
        pairs = F.array(
            *[
                F.struct(
                    F.lit(c).alias("col_name"),
                    F.col(f"_n_{c}").alias("nulls"),
                    F.col(f"_d_{c}").alias("n_distinct"),
                )
                for c in columns
            ]
        )
        return g.select(F.col("_rows").alias("rows"), F.explode(pairs).alias("_p")).select(
            F.col("_p.col_name").alias("col_name"),
            F.col("rows"),
            F.col("_p.nulls").alias("nulls"),
            F.col("_p.n_distinct").alias("n_distinct"),
        )

    sa = _side(a).select(
        "col_name",
        F.col("rows").alias("rows_a"),
        F.col("nulls").alias("nulls_a"),
        F.col("n_distinct").alias("distinct_a"),
    )
    sb = _side(b).select(
        "col_name",
        F.col("rows").alias("rows_b"),
        F.col("nulls").alias("nulls_b"),
        F.col("n_distinct").alias("distinct_b"),
    )
    out = sa.join(sb, "col_name")
    # pure integer: per-side null ppm via truncating div, then the
    # signed difference — no float anywhere, trivially engine-exact
    ppm = F.when(
        (F.col("rows_a") > 0) & (F.col("rows_b") > 0),
        F.expr("(nulls_b * 1000000) div rows_b - (nulls_a * 1000000) div rows_a"),
    ).otherwise(F.lit(0))
    return out.select(
        "col_name",
        "rows_a",
        "nulls_a",
        "distinct_a",
        "rows_b",
        "nulls_b",
        "distinct_b",
        ppm.cast("bigint").alias("null_delta_ppm"),
    )


def categorical_drift(
    a: DataFrame,
    b: DataFrame,
    col: str,
) -> DataFrame:
    """Categorical-distribution drift between two snapshots: per-category
    counts and integer-ppm share deltas — the companion to
    :func:`snapshot_drift` (structural) and ``features.psi_drift``
    (numeric binned).  Half the sum of ``abs_delta_ppm`` is the total
    variation distance in ppm, the scalar most drift monitors alert on.

    A NULL category is a REAL stratum (a null-rate shift is exactly the
    drift this screen must catch), so the two count frames align on a
    null-safe equality and a category absent from one side counts 0
    there.  Shares are truncating integer ppm (``div`` — identical in
    Spark and DuckDB), so the output is float-free and engine-exact.

    Scale shape: one groupBy per side + a full outer join on the
    category key + two single-row total frames broadcast in — no
    windows, no collect.

    Returns ``category``, ``n_a``, ``n_b``, ``share_a_ppm``,
    ``share_b_ppm``, ``abs_delta_ppm`` (all counts/shares BIGINT).
    """
    ca = a.groupBy(F.col(col).alias("_cat_a")).agg(F.count(F.lit(1)).alias("n_a"))
    cb = b.groupBy(F.col(col).alias("_cat_b")).agg(F.count(F.lit(1)).alias("n_b"))
    ta = a.groupBy().agg(F.count(F.lit(1)).alias("_tot_a"))
    tb = b.groupBy().agg(F.count(F.lit(1)).alias("_tot_b"))
    joined = (
        ca.join(cb, F.col("_cat_a").eqNullSafe(F.col("_cat_b")), "full_outer")
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
    )
    n_a = F.coalesce(F.col("n_a"), F.lit(0))
    n_b = F.coalesce(F.col("n_b"), F.lit(0))
    share_a = F.when(F.col("_tot_a") > 0, F.expr("(coalesce(n_a, 0) * 1000000) div _tot_a")).otherwise(F.lit(0))
    share_b = F.when(F.col("_tot_b") > 0, F.expr("(coalesce(n_b, 0) * 1000000) div _tot_b")).otherwise(F.lit(0))
    return joined.select(
        F.coalesce(F.col("_cat_a"), F.col("_cat_b")).alias("category"),
        n_a.cast("bigint").alias("n_a"),
        n_b.cast("bigint").alias("n_b"),
        share_a.cast("bigint").alias("share_a_ppm"),
        share_b.cast("bigint").alias("share_b_ppm"),
        F.abs(share_a - share_b).cast("bigint").alias("abs_delta_ppm"),
    )


def fd_check(
    df: DataFrame,
    determinant: list[str],
    dependent: str,
    name: str | None = None,
) -> DataFrame:
    """Functional-dependency audit: does ``determinant → dependent``
    hold?  The schema-inference / data-contract primitive (candidate-key
    discovery, denormalization safety, "is this column redundant"): a
    violation is a determinant value whose rows carry more than one
    distinct non-NULL dependent value.

    Contract: rows with a NULL determinant component are excluded (a
    NULL determines nothing), and NULL dependents do not count as a
    variant (count(distinct) semantics, identical in both engines).

    ONE groupBy on the determinant + one global aggregate — no window,
    no join, no collect.

    Returns one report row: ``check``, ``kind`` ('functional'),
    ``n_groups`` (BIGINT, distinct determinant values), ``n_violating``
    (BIGINT, determinant values with ≥ 2 dependent variants),
    ``max_variants`` (BIGINT), ``passed`` (bool).
    """
    det = [F.col(c) for c in determinant]
    base = df
    for c in determinant:
        base = base.filter(F.col(c).isNotNull())
    per_group = base.groupBy(*det).agg(
        F.countDistinct(F.col(dependent)).alias("_variants")
    )
    label = name or f"fd({', '.join(determinant)} -> {dependent})"
    rep = per_group.agg(
        F.count(F.lit(1)).alias("_g"),
        F.sum(F.when(F.col("_variants") >= 2, 1).otherwise(0)).alias("_v"),
        F.max("_variants").alias("_m"),
    )
    return rep.select(
        F.lit(label).alias("check"),
        F.lit("functional").alias("kind"),
        F.col("_g").cast("long").alias("n_groups"),
        F.col("_v").cast("long").alias("n_violating"),
        F.coalesce(F.col("_m"), F.lit(0)).cast("long").alias("max_variants"),
        (F.coalesce(F.col("_v"), F.lit(0)) == 0).alias("passed"),
    )


def mad_outliers(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k_tenths: int = 30,
) -> DataFrame:
    """Robust per-group outlier screen via median absolute deviation:
    flag values with ``|x − median| > (k_tenths/10) · MAD`` — the
    heavy-tail-safe alternative to z-scores (one wild value corrupts a
    mean/stddev fence but not a median/MAD one).  ``k_tenths`` keeps the
    threshold a ratio of integers (default 3.0).

    Both the median and the MAD are EXACT interpolated percentiles
    (Spark ``percentile`` == DuckDB ``quantile_cont``, the equivalence
    the latency-percentile and quantile-bin entries already pin); the
    comparison arithmetic is the same fixed float expression in both
    engines.  NULL values are excluded (they are a completeness issue,
    not an outlier).  Groups with MAD = 0 (over half the values at the
    median) flag only values strictly different from the median when
    k > 0 — degenerate but deterministic; n < 1 groups cannot occur.

    Scale shape: two cascaded whole-partition window aggregates sharing
    ONE key-hash exchange (windows, not joins, so a NULL group is a
    real stratum with no null-safe-join machinery) + one final group
    aggregate on the same partitioning — never a global sort.

    Returns key cols + ``n`` (BIGINT), ``median`` (DOUBLE), ``mad``
    (DOUBLE), ``n_outliers`` (BIGINT).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols)
    base = df.filter(F.col(value_col).isNotNull())
    x = F.col(value_col).cast("double")
    with_med = base.select(
        *key_cols,
        x.alias("_x"),
        F.expr(f"percentile({value_col}, 0.5)").over(w).alias("_med"),
    )
    with_mad = with_med.select(
        *key_cols,
        "_x",
        "_med",
        F.expr("percentile(abs(_x - _med), 0.5)").over(w).alias("_mad"),
    )
    hit = (
        F.abs(F.col("_x") - F.col("_med"))
        > F.col("_mad") * F.lit(k_tenths) / F.lit(10.0)
    )
    return with_mad.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("_med").alias("median"),
        F.min("_mad").alias("mad"),
        F.sum(hit.cast("int")).cast("long").alias("n_outliers"),
    )


def completeness_by_partition(
    df: DataFrame,
    part_col,
    columns: list[str],
    part_alias: str = "part",
) -> DataFrame:
    """Per-partition completeness trend: for every time/ingest partition
    and every named column, exact row and null counts with a truncating
    null-rate ppm — "which day did the crawler start dropping the
    author field" (:func:`snapshot_drift` compares two snapshots; this
    profiles one table ALONG its partition axis).

    Same fused-aggregate shape as :func:`snapshot_drift`: one
    conditional SUM per column fused into ONE ``groupBy(part)`` pass,
    then a struct-array explode unpivots to (part, column) rows — a
    single scan regardless of column count, partial-aggregated
    map-side.  A NULL partition value is a real group.

    Returns ``part_alias``, ``col_name``, ``n_rows``, ``n_nulls``
    (BIGINT), ``null_ppm`` (BIGINT, truncating; NULL when the
    partition is empty — cannot happen for groupBy-produced rows).
    """
    if not columns:
        raise ValueError("columns must be non-empty")
    p = F.col(part_col) if isinstance(part_col, str) else part_col
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in columns:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"_n_{c}")
        )
    g = df.groupBy(p.alias(part_alias)).agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"), F.col(f"_n_{c}").alias("n_nulls")
            )
            for c in columns
        ]
    )
    return (
        g.select(part_alias, F.col("_rows").alias("n_rows"), F.explode(pairs).alias("_p"))
        .select(
            part_alias,
            F.col("_p.col_name").alias("col_name"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("_p.n_nulls").alias("n_nulls"),
            F.when(
                F.col("n_rows") > 0, F.expr("(_p.n_nulls * 1000000) div n_rows")
            ).cast("bigint").alias("null_ppm"),
        )
    )


def ks_drift(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    qscale: int = 10_000,
    n_range_buckets: int = 64,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic, exactly: the KS
    distance D = max |ECDF_a − ECDF_b| is a RATIONAL number —
    ``max |cum_a(v)·n_b − cum_b(v)·n_a|`` over the pooled values, scaled
    by ``n_a·n_b`` — so unlike the usual float KS this one is BIGINT
    end-to-end and cross-engine exact.  The shape-sensitive complement
    to :func:`categorical_drift` (TV distance needs bins; KS sees the
    whole continuous CDF) and PSI (which also bins): "did the value
    distribution move between these two samples", for drift gates on
    model scores and metric monitors.

    Values are quantized (``floor(v·qscale)``, BIGINT) first — the
    statistic becomes the exact KS of the discretized distributions,
    which sidesteps cross-engine float-grouping semantics and is the
    resolution any monitoring gate actually needs.  NULLs are excluded.

    Scale shape — the textbook distributed prefix sum, because a naive
    global cumulative window is a one-partition sort (a scale killer):
    per-value side counts (ONE groupBy), values range-bucketed on
    broadcast min/max bounds, per-bucket subtotals cumulated on a
    TINY n_buckets-row frame (single partition is fine there), offsets
    broadcast back, within-bucket window cumsum partitioned BY BUCKET.
    No full-data single-partition stage anywhere.

    Returns one row: ``n_a``, ``n_b``, ``d_scaled`` (BIGINT,
    ``D·n_a·n_b``), ``d_ppm`` (BIGINT, ``d_scaled·1e6 div (n_a·n_b)``).
    """
    from pyspark.sql.window import Window

    if qscale < 1 or n_range_buckets < 1:
        raise ValueError("qscale and n_range_buckets must be >= 1")
    qv = F.floor(F.col(value_col).cast("double") * F.lit(float(qscale))).cast("long")

    def _side(df: DataFrame, tag: int) -> DataFrame:
        return df.filter(F.col(value_col).isNotNull()).select(
            qv.alias("_v"), F.lit(tag).alias("_m")
        )

    tagged = _side(a, 1).unionAll(_side(b, 2))
    per_v = tagged.groupBy("_v").agg(
        F.sum(F.when(F.col("_m") == 1, 1).otherwise(0)).alias("_ca"),
        F.sum(F.when(F.col("_m") == 2, 1).otherwise(0)).alias("_cb"),
    )
    bounds = F.broadcast(
        per_v.agg(F.min("_v").alias("_lo"), F.max("_v").alias("_hi"))
    )
    nb = F.lit(int(n_range_buckets))
    bucketed = per_v.crossJoin(bounds).select(
        "_v",
        "_ca",
        "_cb",
        F.when(
            F.col("_hi") > F.col("_lo"),
            F.least(
                nb - 1,
                ((F.col("_v") - F.col("_lo")) * nb) / (F.col("_hi") - F.col("_lo") + 1),
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("_bkt"),
    )
    # per-bucket subtotals: an n_buckets-row frame — the single-partition
    # window here is over <= n_range_buckets rows, not the data
    w_b = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        bucketed.groupBy("_bkt")
        .agg(F.sum("_ca").alias("_ba"), F.sum("_cb").alias("_bb"))
        .select(
            "_bkt",
            F.coalesce(F.sum("_ba").over(w_b), F.lit(0)).alias("_offa"),
            F.coalesce(F.sum("_bb").over(w_b), F.lit(0)).alias("_offb"),
        )
    )
    w_v = (
        Window.partitionBy("_bkt")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cums = bucketed.join(F.broadcast(offsets), "_bkt").select(
        (F.col("_offa") + F.sum("_ca").over(w_v)).alias("_cuma"),
        (F.col("_offb") + F.sum("_cb").over(w_v)).alias("_cumb"),
    )
    totals = F.broadcast(
        per_v.agg(
            F.sum("_ca").cast("long").alias("n_a"),
            F.sum("_cb").cast("long").alias("n_b"),
        )
    )
    return (
        cums.crossJoin(totals)
        .select(
            "n_a",
            "n_b",
            F.abs(F.col("_cuma") * F.col("n_b") - F.col("_cumb") * F.col("n_a")).alias(
                "_d"
            ),
        )
        .groupBy("n_a", "n_b")
        .agg(F.max("_d").alias("d_scaled"))
        .select(
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("d_scaled").cast("bigint").alias("d_scaled"),
            F.expr("(d_scaled * 1000000) div (n_a * n_b)").alias("d_ppm"),
        )
    )


def w1_drift(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    qscale: int = 10_000,
    n_range_buckets: int = 64,
) -> DataFrame:
    """Exact 1-Wasserstein (earth-mover) drift between two samples:
    ``W1 = ∫|F_a − F_b| dv`` — KS's integral sibling, sensitive to HOW
    FAR mass moved where KS only sees the single worst CDF gap (a small
    shift of a whole distribution barely moves KS but moves W1 by the
    shift).  On ``qscale``-quantized values the CDF difference is a step
    function, so the integral is the exact BIGINT sum
    ``Σ_i |cum_a(v_i)·n_b − cum_b(v_i)·n_a| · (v_{i+1} − v_i)`` over the
    observed pooled values (the global max contributes 0 — both CDFs
    are complete there — so its missing gap is irrelevant).

    Same distributed shape as :func:`ks_drift` (shared rationale): ONE
    per-value groupBy, range-bucketed two-phase prefix sums, and the
    value GAPS come from a within-bucket ``lead`` plus a broadcast
    next-non-empty-bucket-start frame (n_buckets rows) for the
    boundaries — no one-partition pass over data anywhere.

    Returns one row: ``n_a``, ``n_b``, ``w1_scaled`` (BIGINT,
    ``W1·n_a·n_b`` in quantized-value units), ``w1_milli_units``
    (BIGINT, ``w1_scaled·1000 div (n_a·n_b·qscale)`` — milli original
    value units of mean displacement).
    """
    from pyspark.sql.window import Window

    if qscale < 1 or n_range_buckets < 1:
        raise ValueError("qscale and n_range_buckets must be >= 1")
    qv = F.floor(F.col(value_col).cast("double") * F.lit(float(qscale))).cast("long")

    def _side(df: DataFrame, tag: int) -> DataFrame:
        return df.filter(F.col(value_col).isNotNull()).select(
            qv.alias("_v"), F.lit(tag).alias("_m")
        )

    tagged = _side(a, 1).unionAll(_side(b, 2))
    per_v = tagged.groupBy("_v").agg(
        F.sum(F.when(F.col("_m") == 1, 1).otherwise(0)).alias("_ca"),
        F.sum(F.when(F.col("_m") == 2, 1).otherwise(0)).alias("_cb"),
    )
    bounds = F.broadcast(
        per_v.agg(F.min("_v").alias("_lo"), F.max("_v").alias("_hi"))
    )
    nb = F.lit(int(n_range_buckets))
    bucketed = per_v.crossJoin(bounds).select(
        "_v",
        "_ca",
        "_cb",
        F.when(
            F.col("_hi") > F.col("_lo"),
            F.least(
                nb - 1,
                ((F.col("_v") - F.col("_lo")) * nb) / (F.col("_hi") - F.col("_lo") + 1),
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("_bkt"),
    )
    w_b = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    w_next = Window.orderBy("_bkt")
    # tiny frame: per-bucket totals, prefix offsets AND the next
    # non-empty bucket's first value (for boundary gaps)
    offsets = (
        bucketed.groupBy("_bkt")
        .agg(
            F.sum("_ca").alias("_ba"),
            F.sum("_cb").alias("_bb"),
            F.min("_v").alias("_bstart"),
        )
        .select(
            "_bkt",
            F.coalesce(F.sum("_ba").over(w_b), F.lit(0)).alias("_offa"),
            F.coalesce(F.sum("_bb").over(w_b), F.lit(0)).alias("_offb"),
            F.lead("_bstart", 1).over(w_next).alias("_nextstart"),
        )
    )
    w_v = (
        Window.partitionBy("_bkt")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lead = Window.partitionBy("_bkt").orderBy("_v")
    cums = bucketed.join(F.broadcast(offsets), "_bkt").select(
        (F.col("_offa") + F.sum("_ca").over(w_v)).alias("_cuma"),
        (F.col("_offb") + F.sum("_cb").over(w_v)).alias("_cumb"),
        (
            F.coalesce(F.lead("_v", 1).over(w_lead), F.col("_nextstart"), F.col("_v"))
            - F.col("_v")
        ).alias("_gap"),
    )
    totals = F.broadcast(
        per_v.agg(
            F.sum("_ca").cast("long").alias("n_a"),
            F.sum("_cb").cast("long").alias("n_b"),
        )
    )
    return (
        cums.crossJoin(totals)
        .select(
            "n_a",
            "n_b",
            (
                F.abs(F.col("_cuma") * F.col("n_b") - F.col("_cumb") * F.col("n_a"))
                * F.col("_gap")
            ).alias("_t"),
        )
        .groupBy("n_a", "n_b")
        .agg(F.sum("_t").alias("w1_scaled"))
        .select(
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("w1_scaled").cast("bigint").alias("w1_scaled"),
            F.expr(f"(w1_scaled * 1000) div (n_a * n_b * {int(qscale)})").alias(
                "w1_milli_units"
            ),
        )
    )


def monotonic_check(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    strict: bool = False,
) -> DataFrame:
    """Per-key monotonicity audit: counters, cumulative totals, sequence
    numbers and watermark columns must never decrease along their order
    column — a decrease is a replay, a clock skew, or an upstream
    re-aggregation bug.  The windowed complement to
    :func:`row_checks`'s row-local rules (which cannot see ORDER).

    Per key: ``n_steps`` (adjacent ordered pairs), ``n_violations``
    (next < current, or <= when ``strict``), and the ORDER position of
    the first violation (``first_violation_at``, NULL when clean) —
    enough to alert AND to jump straight to the breakage.  Rows with
    NULL order or value are excluded (no position / nothing to
    compare); ties in ``order_col`` compare in value order (ties are
    deterministic, not engine luck).

    ONE key-partitioned window + ONE groupBy — no joins, no global
    sort.

    Returns key cols + ``n_steps``, ``n_violations`` (BIGINT),
    ``first_violation_at`` (BIGINT, the order value where the first
    violating STEP starts; NULL when monotone).
    """
    from pyspark.sql.window import Window

    if not key_cols:
        raise ValueError("key_cols must be non-empty (a global window cannot scale)")
    s = df.filter(
        F.col(order_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *key_cols,
        F.col(order_col).cast("bigint").alias("_o"),
        F.col(value_col).cast("bigint").alias("_v"),
    )
    w = Window.partitionBy(*key_cols).orderBy("_o", "_v")
    cmp_bad = (
        (F.col("_nv") <= F.col("_v")) if strict else (F.col("_nv") < F.col("_v"))
    )
    stepped = s.select(
        *key_cols,
        "_o",
        "_v",
        F.lead("_v", 1).over(w).alias("_nv"),
    ).filter(F.col("_nv").isNotNull())
    flagged = stepped.select(
        *key_cols,
        F.lit(1).alias("_one"),
        F.when(cmp_bad, 1).otherwise(0).alias("_bad"),
        F.when(cmp_bad, F.col("_o")).alias("_bad_at"),
    )
    return flagged.groupBy(*key_cols).agg(
        F.sum("_one").cast("bigint").alias("n_steps"),
        F.sum("_bad").cast("bigint").alias("n_violations"),
        F.min("_bad_at").cast("bigint").alias("first_violation_at"),
    )
