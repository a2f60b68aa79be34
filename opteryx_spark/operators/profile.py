"""Dataset profiling: one-pass per-column statistics.

The data-engineering counterpart of the reference's ``SHOW EXTENDED
COLUMNS`` surface (reference ``opteryx/operators/show_columns_node.py``
collects per-column counts/min/max), re-expressed as a single Spark
aggregate a 100 TB table can afford: every statistic for every column is
computed in ONE scan + one aggregate row, then unpivoted driver-free.

``exact_distinct=True`` uses exact ``count(DISTINCT)`` (Spark plans one
expand — rows x columns — still a single pass); the default uses
``approx_count_distinct`` (HLL, no expand), which is the 100 TB setting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opteryx_spark import cache
from opteryx_spark.operators.hashing import hash32, hll_bucket_rho, portable_hash_expr


def _render(c: Column, dtype: str) -> Column:
    """Render an aggregated min/max as a string deterministically across
    engines: finite doubles route through DECIMAL(38,6) (float repr
    differs between engines; fixed-scale decimal text does not), while
    NaN/Inf/out-of-range values fall back to the plain cast instead of
    the decimal cast's silent NULL.  Rendering happens AFTER aggregation
    so numeric columns keep numeric ordering (string min/max would be
    lexicographic — '9' > '10')."""
    if dtype in ("double", "float"):
        dec = c.cast("decimal(38,6)").cast("string")
        return F.coalesce(dec, c.cast("string"))
    return c.cast("string")


def profile_table(
    df: DataFrame,
    cols: list[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """Per-column profile: (column, n_rows, n_nonnull, n_distinct,
    min_value, max_value), one row per column, ordered by column name.

    One scan, one aggregate, no collect: the wide single-row aggregate is
    unpivoted with ``inline`` on a literal-indexed struct array — the
    plan stays a partial/final aggregate regardless of table size.
    """
    cols = sorted(cols or df.columns)
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("__n")]
    # index-keyed aliases + df[c] references: column names containing
    # dots/backticks profile correctly (F.col would parse dots as
    # struct-field access)
    for i, c in enumerate(cols):
        distinct = (
            F.countDistinct(df[c]) if exact_distinct else F.approx_count_distinct(df[c])
        )
        aggs += [
            F.count(df[c]).alias(f"__nn_{i}"),
            distinct.alias(f"__nd_{i}"),
            _render(F.min(df[c]), dtypes[c]).alias(f"__mn_{i}"),
            _render(F.max(df[c]), dtypes[c]).alias(f"__mx_{i}"),
        ]
    row = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").cast("long").alias("n_rows"),
                F.col(f"__nn_{i}").cast("long").alias("n_nonnull"),
                F.col(f"__nd_{i}").cast("long").alias("n_distinct"),
                F.col(f"__mn_{i}").alias("min_value"),
                F.col(f"__mx_{i}").alias("max_value"),
            )
            for i, c in enumerate(cols)
        ]
    )
    return row.select(F.inline(entries))


def hll_estimate_portable(
    df,
    col: str,
    p: int = 12,
):
    """HyperLogLog distinct-count estimate with a PORTABLE hash — every
    stage reproducible in plain SQL, so (unlike ``approx_count_distinct``,
    whose xxhash-based sketch internals no oracle can replay) the whole
    sketch is value-verifiable.

    Flajolet et al. 2007 exactly: 32-bit xorshift-multiply hash (the
    degski/Stafford ``hash32`` of ``operators/hashing.py``: two rounds of
    ``h = ((h>>16)^h)·0x45d9f3b mod 2^32`` then a final fold — full
    avalanche, and every product stays under 2^63 so the arithmetic is
    BIGINT-safe in any engine; a bare multiplicative hash leaves the LOW
    bits unmixed and ρ reads exactly those, which measured a 25% bias on
    sequential keys), bucket = top ``p`` bits, ρ = leading-zero rank of
    the remaining ``32−p`` bits (computed as ``length(bin(w))`` — no
    floats; ``hashing.hll_bucket_rho``), registers = per-bucket
    MAX(ρ).  The harmonic sum is kept EXACT: each
    ``2^−ρ`` term is scaled by ``2^(32−p+1)`` into a BIGINT, so the only
    float ops are the final α·m²/sum and the small-range linear-counting
    branch (``m·ln(m/zeros)``, millinat-floored — the module's standard
    ln strategy).

    Returns one row: ``m``, ``n_zero_registers``, ``sum_scaled``,
    ``estimate_milli`` (BIGINT, estimate×1000 floored), ``exact``
    (BIGINT, the true COUNT DISTINCT for error auditing — drop it at
    100 TB, it is the expensive thing the sketch replaces).

    Scale shape: one map stage computes (bucket, ρ) per row, one
    4096-register aggregate with map-side partial MAX combine, one scalar
    reduce.  Registers are mergeable across partitions/days by the same
    MAX — the property that makes HLL the 100 TB distinct-count answer.
    """
    from pyspark.sql import functions as F

    m = 1 << p
    scale_pow = 32 - p + 1  # 2^-rho * 2^(32-p+1) is integral for rho <= 32-p+1
    bucket, rho = hll_bucket_rho(F.col(col), p)
    regs = (
        df.select(bucket.alias("_b"), rho.alias("_r"))
        .filter(F.col("_b").isNotNull())
        .groupBy("_b")
        .agg(F.max("_r").alias("_mj"))
    )
    term = F.pow(F.lit(2.0), (F.lit(scale_pow) - F.col("_mj")).cast("double")).cast("long")
    alpha = 0.7213 / (1.0 + 1.079 / float(m))
    summed = regs.agg(
        F.count(F.lit(1)).alias("_present"),
        F.sum(term).alias("_sum_present"),
    )
    exact = df.agg(F.count_distinct(F.col(col)).alias("exact"))
    est_raw = (
        F.lit(alpha * float(m) * float(m))
        / (F.col("sum_scaled").cast("double") / F.lit(float(1 << scale_pow)))
    )
    lc = F.lit(float(m)) * F.log(
        F.lit(float(m)) / F.col("n_zero_registers").cast("double")
    )
    est = F.when(
        (est_raw <= F.lit(2.5 * m)) & (F.col("n_zero_registers") > 0), lc
    ).otherwise(est_raw)
    return (
        summed.crossJoin(F.broadcast(exact))
        .select(
            F.lit(m).cast("long").alias("m"),
            (F.lit(m) - F.col("_present")).cast("long").alias("n_zero_registers"),
            (
                F.col("_sum_present")
                + (F.lit(m) - F.col("_present")) * F.lit(1 << scale_pow)
            ).alias("sum_scaled"),
            F.col("exact"),
        )
        .withColumn("estimate_milli", F.floor(est * F.lit(1000.0) + F.lit(0.5)))
        .select("m", "n_zero_registers", "sum_scaled", "estimate_milli", "exact")
    )


def quantile_histogram(
    df,
    col: str,
    quantiles: list[float] | None = None,
    bins: int = 1024,
):
    """Deterministic, MERGEABLE approximate quantiles via a fixed-width
    histogram: one bounds pass, one bin-count aggregate, linear
    interpolation inside the target bin.

    The 100 TB alternative to an exact percentile (global sort) when the
    randomized sketches (`percentile_approx`'s KLL) can't be
    value-verified: bin counts are plain BIGINTs that ADD across
    partitions/days/streams, and every arithmetic step is deterministic
    IEEE, so the whole estimator is oracle-able.  Error is bounded by the
    bin width (range/bins) — tight for roughly uniform spreads, degrading
    on heavy skew (use more bins or log-scale the column first).

    Returns ``(q, est)`` per requested quantile.  NULLs are excluded (the
    percentile convention).
    """
    from pyspark.sql import Window, functions as F

    quantiles = quantiles or [0.5, 0.95, 0.99]
    spark = df.sparkSession
    bounds = df.agg(
        F.min(col).cast("double").alias("_lo"),
        F.max(col).cast("double").alias("_hi"),
        F.count(F.col(col)).alias("_n"),
    )
    x = F.col(col).cast("double")
    bin_ = F.least(
        F.lit(bins - 1),
        F.floor((x - F.col("_lo")) * F.lit(float(bins)) / (F.col("_hi") - F.col("_lo"))),
    ).cast("long")
    cnt = (
        df.filter(F.col(col).isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(bin_.alias("_bin"))
        .groupBy("_bin")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    cum = cnt.withColumn(
        "_cum", F.sum("_c").over(Window.orderBy("_bin").rowsBetween(Window.unboundedPreceding, 0))
    )
    qdf = spark.createDataFrame([(float(q),) for q in quantiles], "q double")
    t = F.col("q") * F.col("_n").cast("double")
    sel = (
        cum.crossJoin(F.broadcast(qdf))
        .crossJoin(F.broadcast(bounds))
        .filter((F.col("_cum").cast("double") >= t) & ((F.col("_cum") - F.col("_c")).cast("double") < t))
    )
    est = F.col("_lo") + (F.col("_hi") - F.col("_lo")) / F.lit(float(bins)) * (
        F.col("_bin").cast("double")
        + (t - (F.col("_cum") - F.col("_c")).cast("double")) / F.col("_c").cast("double")
    )
    return sel.select("q", est.alias("est")).orderBy("q")


def hll_estimate_by_group(
    df,
    group_cols: list[str],
    col: str,
    p: int = 12,
):
    """Per-group portable-HLL distinct counts (distinct users per domain,
    distinct docs per source — the realistic sketch deployment): same
    hash/ρ/register arithmetic as :func:`hll_estimate_portable`, with the
    register table keyed by (group, bucket).

    Returns one row per group: ``group_cols…``, ``n_zero_registers``,
    ``sum_scaled``, ``estimate_milli``, ``exact``.  Scale shape: one
    (group × ≤2^p)-keyed MAX aggregate with map-side combine, one
    group-keyed reduce — the exact column never needs a global sort, and
    per-group registers remain mergeable across days.
    """
    from pyspark.sql import functions as F

    m = 1 << p
    scale_pow = 32 - p + 1
    bucket, rho = hll_bucket_rho(F.col(col), p)
    regs = (
        df.select(*group_cols, bucket.alias("_b"), rho.alias("_r"))
        .filter(F.col("_b").isNotNull())
        .groupBy(*group_cols, "_b")
        .agg(F.max("_r").alias("_mj"))
    )
    term = F.pow(F.lit(2.0), (F.lit(scale_pow) - F.col("_mj")).cast("double")).cast("long")
    alpha = 0.7213 / (1.0 + 1.079 / float(m))
    summed = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_present"),
        F.sum(term).alias("_sum_present"),
    )
    exact = df.groupBy(*group_cols).agg(F.count_distinct(F.col(col)).alias("exact"))
    # null-safe join keys: a NULL group value is a real stratum (events
    # with a missing type) and must carry its exact count, not lose it to
    # equi-join NULL semantics
    cond = None
    for c in group_cols:
        clause = summed[c].eqNullSafe(exact[c])
        cond = clause if cond is None else (cond & clause)
    out = (
        summed.join(exact, cond, "left")
        .select(
            *[summed[c].alias(c) for c in group_cols],
            (F.lit(m) - F.col("_present")).cast("long").alias("n_zero_registers"),
            (
                F.col("_sum_present")
                + (F.lit(m) - F.col("_present")) * F.lit(1 << scale_pow)
            ).alias("sum_scaled"),
            F.col("exact"),
        )
    )
    est_raw = (
        F.lit(alpha * float(m) * float(m))
        / (F.col("sum_scaled").cast("double") / F.lit(float(1 << scale_pow)))
    )
    lc = F.lit(float(m)) * F.log(
        F.lit(float(m)) / F.col("n_zero_registers").cast("double")
    )
    est = F.when(
        (est_raw <= F.lit(2.5 * m)) & (F.col("n_zero_registers") > 0), lc
    ).otherwise(est_raw)
    return out.withColumn(
        "estimate_milli", F.floor(est * F.lit(1000.0) + F.lit(0.5))
    ).orderBy(*group_cols)


def cms_bucket(hcol, row: int, w: int):
    """Counter index for CMS hash row ``row``: member ``row`` of the
    seeded degski finisher family (``operators/hashing.py::hash32``) over
    the portable polynomial hash ``hcol`` — BIGINT-safe and
    SQL-reproducible (shared by the batch sketch and the streaming twin;
    the oracle replays it)."""
    return hash32(hcol, seed=row) % F.lit(w)


def cms_counters(df, text_col: str = "text", d: int = 4, w: int = 8192):
    """The CMS counter table itself — ``(d, b, n)`` rows, the mergeable
    state :func:`cms_token_counts` probes.  Exposed so incremental /
    streaming maintainers can build or merge the same counters: counters
    from any partition of the corpus ADD (plain SUMs), which is the
    sketch's defining property."""
    from pyspark.sql import functions as F

    from opteryx_spark.operators import text as _text

    toks = df.select(F.explode(_text.tokens(text_col)).alias("_tk"))
    # bind the polynomial hash to a named column first (r11): inlining it
    # into the d band structs re-folds the token's chars d times per row
    cells = toks.select(portable_hash_expr(F.col("_tk")).alias("_h")).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("d"), cms_bucket(F.col("_h"), r, w).alias("b")
                    )
                    for r in range(d)
                ]
            )
        ).alias("_c")
    )
    return (
        cells.select(F.col("_c.d").alias("d"), F.col("_c.b").alias("b"))
        .groupBy("d", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_token_counts(
    df,
    text_col: str = "text",
    probe_terms: list[str] | None = None,
    d: int = 4,
    w: int = 8192,
):
    """Count-min sketch over token occurrences (Cormode & Muthukrishnan
    2005): ``d`` hash rows × ``w`` counters, estimate = MIN over rows of
    the probed counter — completing the mergeable-sketch family
    (:func:`hll_estimate_portable` cardinality, :func:`quantile_histogram`
    quantiles, this one frequencies).  Counters are BIGINTs that ADD
    across partitions/days/streams; with the portable polynomial/degski
    hashes every counter and estimate is value-verifiable.

    Returns one row per probe term: ``term``, ``est`` (BIGINT, ≥ true
    count — CMS never underestimates), ``exact`` (BIGINT, for auditing —
    the vocabulary-sized aggregate the sketch replaces at scale).

    Scale shape: ONE corpus tokenize pass into a vocab-sized count
    aggregate (map-side combine), then ``d`` cells per *distinct* token
    weighted by its count into a (d × w)-bounded SUM — the heavy explode
    scales with the vocabulary, not with corpus token occurrences; probes
    touch ``d`` counters each, and the exact audit reuses the persisted
    vocab aggregate (no second corpus scan).
    """
    from pyspark.sql import functions as F

    from opteryx_spark.operators import text as _text

    probe_terms = sorted(set(probe_terms or []))
    if not probe_terms:
        raise ValueError("probe_terms must be non-empty")
    spark = df.sparkSession

    def _bucket(hcol, row: int):
        return cms_bucket(hcol, row, w)

    # vocab-sized token counts FIRST (map-side combine on the only
    # corpus-wide pass), then fan out d cells per *distinct* token with
    # the count as a weight — the d× explode touches |vocab| rows, not
    # |corpus tokens|, and the exact-audit branch reuses the same
    # persisted aggregate instead of re-tokenizing the corpus.
    tok_counts = cache.persist(
        df.select(F.explode(_text.tokens(text_col)).alias("_tk"))
        .groupBy("_tk")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    # bind the polynomial hash to a named column first (r11): inlining it
    # into the d band structs re-folds the token's chars d times per row
    cells = tok_counts.select(
        F.col("_n"), portable_hash_expr(F.col("_tk")).alias("_h")
    ).select(
        F.col("_n"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("d"), _bucket(F.col("_h"), r).alias("b"))
                    for r in range(d)
                ]
            )
        ).alias("_c"),
    )
    counters = (
        cells.select(F.col("_c.d").alias("d"), F.col("_c.b").alias("b"), "_n")
        .groupBy("d", "b")
        .agg(F.sum("_n").alias("n"))
    )

    probes = spark.createDataFrame([(t,) for t in probe_terms], "term string")
    ph = portable_hash_expr(F.col("term"))
    probe_cells = probes.select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("d"), _bucket(ph, r).alias("b"))
                    for r in range(d)
                ]
            )
        ).alias("_c"),
    ).select("term", F.col("_c.d").alias("d"), F.col("_c.b").alias("b"))

    est = (
        probe_cells.join(counters, ["d", "b"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est"))
    )
    exact = tok_counts.filter(F.col("_tk").isin(probe_terms)).select(
        F.col("_tk").alias("term"), F.col("_n").alias("exact")
    )
    return (
        est.join(exact, "term", "left")
        .select("term", "est", F.coalesce("exact", F.lit(0)).cast("long").alias("exact"))
        .orderBy("term")
    )


def correlation_matrix(
    df: DataFrame,
    cols: list[str],
    scale: int = 1000,
) -> DataFrame:
    """Pairwise Pearson correlations over numeric columns in ONE
    aggregate pass, deterministically: inputs quantize to
    ``floor(x * scale)`` and every moment (n, Σx, Σy, Σxy, Σx², Σy²) is
    an EXACT integer sum (products accumulate as DECIMAL(38,0), so no
    value or partitioning order can change them); only the final
    ``corr = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − Σx²)·(n·Σy² − (Σy)²))``
    runs in floating point — one fixed expression over exact integers,
    so it is bit-identical in any libm-grade engine.  Rows with a NULL
    in EITHER column of a pair are excluded from that pair's moments
    (pairwise deletion, the standard corr-matrix contract).

    Scale shape: a single global aggregate with map-side partials — the
    whole matrix is one reduce of ~6·|pairs| scalars regardless of row
    count; no shuffle of data rows, no per-pair pass.

    Returns one row per (col_x < col_y) pair: ``col_x``, ``col_y``,
    ``n`` (BIGINT) and ``corr`` (DOUBLE; NULL when either variance is
    zero or fewer than two paired rows survive).
    """
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    q = {
        c: F.floor(F.col(c).cast("double") * F.lit(float(scale)))
        .cast("decimal(18,0)")
        .alias(f"_q_{c}")
        for c in cols
    }
    base = df.select(*q.values())
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    aggs = []
    for a, b in pairs:
        xa, xb = F.col(f"_q_{a}"), F.col(f"_q_{b}")
        both = xa.isNotNull() & xb.isNotNull()
        x = F.when(both, xa)
        y = F.when(both, xb)
        tag = f"{a}__{b}"
        aggs += [
            F.count(F.when(both, F.lit(1))).alias(f"_n_{tag}"),
            F.sum(x).alias(f"_sx_{tag}"),
            F.sum(y).alias(f"_sy_{tag}"),
            F.sum((x * y).cast("decimal(38,0)")).alias(f"_sxy_{tag}"),
            F.sum((x * x).cast("decimal(38,0)")).alias(f"_sxx_{tag}"),
            F.sum((y * y).cast("decimal(38,0)")).alias(f"_syy_{tag}"),
        ]
    wide = base.agg(*aggs)
    structs = []
    for a, b in pairs:
        tag = f"{a}__{b}"
        n = F.col(f"_n_{tag}").cast("double")
        sx = F.col(f"_sx_{tag}").cast("double")
        sy = F.col(f"_sy_{tag}").cast("double")
        sxy = F.col(f"_sxy_{tag}").cast("double")
        sxx = F.col(f"_sxx_{tag}").cast("double")
        syy = F.col(f"_syy_{tag}").cast("double")
        num = n * sxy - sx * sy
        den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        structs.append(
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                F.col(f"_n_{tag}").alias("n"),
                F.when(den > F.lit(0.0), num / den).alias("corr"),
            )
        )
    # ONE row explodes to the |pairs| output rows — a union of per-pair
    # selects would re-run the whole aggregate scan once per pair
    return wide.select(F.explode(F.array(*structs)).alias("_p")).select(
        "_p.col_x", "_p.col_y", "_p.n", "_p.corr"
    )


def mode_by_group(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Exact per-group mode with a deterministic tie-break (highest
    count, then LOWEST value) — the categorical summary statistic
    ``profile_table`` deliberately omits (mode needs a second aggregate
    level).  NULL values are not candidates (they are a completeness
    metric, not a value); groups with only NULL values drop out.

    Two chained aggregates sharing the key hash partitioning — counts
    per (key, value), then a ``min(struct(-count, value))`` keeper (the
    engine's standard extremum idiom: map-side combinable, no rank
    window).

    Returns key cols + ``mode`` (value type), ``mode_count`` (BIGINT),
    ``n_distinct`` (BIGINT, distinct non-NULL values in the group).
    """
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*key_cols, value_col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    keeper = counts.groupBy(*key_cols).agg(
        F.min(
            F.struct((-F.col("_cnt")).alias("_neg"), F.col(value_col).alias("_v"))
        ).alias("_k"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    return keeper.select(
        *key_cols,
        F.col("_k._v").alias("mode"),
        (-F.col("_k._neg")).cast("bigint").alias("mode_count"),
        "n_distinct",
    )


def weighted_median(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Exact per-group weighted (lower) median — the aggregate Spark
    lacks natively (``percentile`` takes a frequency but pipelines carry
    arbitrary integer weights: token counts, durations, repetition
    factors).  Definition: the smallest value v whose cumulative weight
    reaches half the total (``2·cumw(v) ≥ W``) — the type-1 (no
    interpolation) estimator, chosen because it is exact integer
    arithmetic end to end.

    One value-ordered window for the running weight (tie rows share
    their run via a deterministic (value, rows) order) + one
    ``min(struct)`` keeper over qualifying rows.  NULL values and NULL
    or non-positive weights are excluded by contract.

    Returns key cols + ``total_weight`` (BIGINT), ``weighted_median``
    (value type).
    """
    from pyspark.sql.window import Window

    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(weight_col).isNotNull()
        & (F.col(weight_col) > 0)
    ).select(
        *key_cols,
        F.col(value_col).alias("_v"),
        F.col(weight_col).cast("bigint").alias("_w"),
    )
    w_ord = Window.partitionBy(*key_cols).orderBy("_v")
    # RANGE frame: all rows with value <= current value (ties included),
    # so cumw is a function of the VALUE, deterministic under any tie order
    cum = base.select(
        *key_cols,
        "_v",
        "_w",
        F.sum("_w").over(w_ord.rangeBetween(Window.unboundedPreceding, 0)).alias("_cumw"),
        F.sum("_w").over(Window.partitionBy(*key_cols)).alias("_tot"),
    )
    qual = cum.filter(2 * F.col("_cumw") >= F.col("_tot"))
    keeper = qual.groupBy(*key_cols).agg(
        F.min("_tot").cast("bigint").alias("total_weight"),
        F.min("_v").alias("weighted_median"),
    )
    return keeper


def kmv_distinct_ops(
    a: DataFrame,
    b: DataFrame,
    col: str,
    k: int = 256,
) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct sketch with SET
    OPERATIONS — the capability HLL lacks: besides per-side distinct
    estimates, the bottom-k of the union is a uniform sample of the
    union's distinct values, so membership flags on it estimate the
    INTERSECTION (and Jaccard) between two streams (Beyer et al. 2007;
    the theta-sketch idea).  "How many users did A and B share" at
    100 TB without a COUNT DISTINCT over either.

    Fully deterministic — portable hash, integer arithmetic (truncating
    ``div``), no randomness — so a SQL oracle replays every number:

    - per side / union: keep the k smallest DISTINCT hash values; with
      n ≥ k distinct, ``est = (k−1) · 2^32 div h_k`` (h_k = the k-th
      smallest); with n < k the sketch is exact (est = n).
    - intersection: among the union's bottom-k, count values present in
      BOTH sides (j) — ``est_inter = j · est_union div k``.

    Scale shape: one tagged union + one (hash → side-mask) aggregate,
    then three k-bounded TakeOrdered sorts — the only data leaving the
    aggregate is k rows per sketch.  Sketches merge by min-union
    (mergeable across partitions/days like the module's other sketches).

    NULL values are excluded (COUNT DISTINCT semantics).

    Returns one row: ``k``, ``est_a``, ``est_b``, ``est_union``,
    ``union_k_in_both``, ``est_intersection`` (all BIGINT).
    """
    tagged = (
        a.filter(F.col(col).isNotNull())
        .select(hash32(F.col(col).cast("long")).alias("_h"), F.lit(1).alias("_m"))
        .unionAll(
            b.filter(F.col(col).isNotNull()).select(
                hash32(F.col(col).cast("long")).alias("_h"), F.lit(2).alias("_m")
            )
        )
    )

    # max-flags, not a tag sum: inputs are NOT pre-distinct, so a value
    # appearing many times on one side must still flag that side exactly once
    hashes = cache.persist(
        tagged.groupBy("_h").agg(
            F.max(F.when(F.col("_m") == 1, 1).otherwise(0)).alias("_ina"),
            F.max(F.when(F.col("_m") == 2, 1).otherwise(0)).alias("_inb"),
        )
    )

    def bottom(df: DataFrame) -> DataFrame:
        return df.orderBy("_h").limit(int(k))

    def est(bk: DataFrame, extra=None) -> DataFrame:
        agg = bk.agg(
            F.count(F.lit(1)).alias("_n"),
            F.max("_h").alias("_hk"),
            *([extra] if extra is not None else []),
        )
        return agg.withColumn(
            "_est",
            F.when(F.col("_n") < k, F.col("_n")).otherwise(
                F.expr(f"({k} - 1) * 4294967296 div _hk")
            ).cast("bigint"),
        )

    ea = est(bottom(hashes.filter(F.col("_ina") == 1))).select(
        F.col("_est").alias("est_a"), F.lit(1).alias("_j")
    )
    eb = est(bottom(hashes.filter(F.col("_inb") == 1))).select(
        F.col("_est").alias("est_b"), F.lit(1).alias("_j")
    )
    eu = est(
        bottom(hashes),
        F.sum((F.col("_ina") * F.col("_inb")).cast("long")).alias("_both"),
    ).select(
        F.col("_est").alias("est_union"),
        F.col("_both").cast("bigint").alias("union_k_in_both"),
        F.col("_n").alias("_un"),
        F.lit(1).alias("_j"),
    )
    out = ea.join(eb, "_j").join(eu, "_j")
    return out.select(
        F.lit(int(k)).cast("long").alias("k"),
        "est_a",
        "est_b",
        "est_union",
        "union_k_in_both",
        # j/k of the union sample are shared => inter ~= (j/min(k,n))*union
        F.expr(
            f"(union_k_in_both * est_union)"
            f" div least(CAST(_un AS BIGINT), CAST({int(k)} AS BIGINT))"
        )
        .cast("bigint")
        .alias("est_intersection"),
    )


def null_patterns(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Co-occurring NULL-pattern mining: group rows by their exact
    missingness signature across ``cols`` and count each pattern — the
    structural-missingness profiler.  Per-column null COUNTS (what
    :func:`profile_table` reports) can't distinguish "two columns are
    each 10% null independently" from "the same 10% of rows lost both"
    — joint patterns expose instrumentation failures, schema migrations
    and upstream join bugs that marginals hide.

    One groupBy over a computed signature string (e.g. ``'1001'`` =
    first and last of four columns NULL) — map-side combinable, at most
    ``2^|cols|`` groups but in practice a handful; no scan fan-out.

    Returns ``pattern`` (STRING of 0/1 per column, in ``cols`` order),
    ``n_cols_null`` (BIGINT), ``n_rows`` (BIGINT), ordered nowhere —
    callers sort by ``n_rows``.
    """
    cols = df.columns if cols is None else list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    sig = F.concat(
        *[F.when(F.col(c).isNull(), F.lit("1")).otherwise(F.lit("0")) for c in cols]
    )
    ones = None
    for c in cols:
        flag = F.when(F.col(c).isNull(), 1).otherwise(0)
        ones = flag if ones is None else ones + flag
    return (
        df.select(sig.alias("pattern"), ones.cast("bigint").alias("n_cols_null"))
        .groupBy("pattern", "n_cols_null")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
