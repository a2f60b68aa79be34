"""ML feature-engineering operators: robust scaling, the hashing trick,
and target encoding — the tabular-feature counterpart of the text/
embedding pipeline operators (beyond-reference surface; the reference
engine stops at SQL aggregates).

Everything is exact and deterministic so the suite can value-verify it:
percentiles are Spark's exact interpolated ``percentile`` (the
cross-engine-identical form the ClickBench entries already prove out),
sums follow the DECIMAL(25,8) exact-sum convention, and hashed features
use the engine's portable 31-bit polynomial + degski xorshift hashes
(``operators/hashing.py``: ``portable_hash_expr`` / ``hash32``) so every
bucket and sign is reproducible in plain SQL.

Scale notes (100 TB):
- ``winsorize_robust_scale`` aggregates per-group stats FIRST (a
  group-cardinality-sized frame) and broadcast-joins them back — never a
  window partitioned by a low-cardinality group column (five hot
  partitions is a scale-killer).  Exact percentiles buffer per-group
  values in the aggregate; at extreme scale swap ``approx_percentile``
  into the same shape (documented trade — the suite pins the exact
  form).
- ``hash_features`` is explode → map-side hash arithmetic → one
  (id, feature-index)-keyed SUM with map-side combine.  Output is
  sparse (only non-zero buckets), bounded by ``n_features`` per id.
- ``target_encode`` is one map-side-combining aggregate over the
  category key plus a broadcast of the global mean — the smoothed-mean
  encoder (micro-averaging with an ``m``-strength prior) used for
  high-cardinality categoricals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from opteryx_spark import cache
from opteryx_spark.operators.hashing import hash32, portable_hash_expr

__all__ = [
    "winsorize_robust_scale",
    "hash_features",
    "target_encode",
    "psi_drift",
    "quantile_bin",
    "market_basket_rules",
    "one_hot_top_k",
    "lag_features",
]


def winsorize_robust_scale(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Per-group winsorization + robust scaling: clip ``value_col`` to
    the group's [``lower``, ``upper``] percentiles, then scale as
    ``(clipped - median) / IQR`` (NULL when the IQR is 0 — a degenerate
    group has no scale).  The standard outlier-robust normalization for
    numeric features feeding a model.

    A NULL group is a real stratum (null-safe join back); NULL values
    pass through as NULL clipped/scaled.  Returns all input columns +
    ``clipped`` (DOUBLE), ``scaled`` (DOUBLE).
    """
    if not (0.0 <= lower < upper <= 1.0):
        raise ValueError("need 0 <= lower < upper <= 1")
    v = F.col(value_col)
    # ONE array-argument percentile per group (r11): five scalar
    # percentile aggregates each buffered the group's full value
    # multiset independently; the array form sorts one shared buffer and
    # interpolates every requested point from it — identical values
    # (same aggregate, same interpolation), 1/5th the aggregation state
    stats = df.groupBy(group_col).agg(
        F.expr(
            f"percentile({value_col}, array({lower}, {upper}, 0.5, 0.75, 0.25))"
        ).alias("_ps")
    ).select(
        group_col,
        F.element_at("_ps", 1).alias("_plo"),
        F.element_at("_ps", 2).alias("_phi"),
        F.element_at("_ps", 3).alias("_med"),
        (F.element_at("_ps", 4) - F.element_at("_ps", 5)).alias("_iqr"),
    )
    joined = df.join(
        F.broadcast(stats.withColumnRenamed(group_col, "_g")),
        F.col(group_col).eqNullSafe(F.col("_g")),
        "left",
    )
    # explicit NULL guard: least/greatest SKIP nulls (both engines), so an
    # unguarded clip would turn a NULL value into the lower fence
    clipped = F.when(
        v.isNotNull(), F.least(F.greatest(v, F.col("_plo")), F.col("_phi"))
    )
    return (
        joined.withColumn("clipped", clipped)
        .withColumn(
            "scaled",
            F.when(
                F.col("_iqr") != 0.0, (clipped - F.col("_med")) / F.col("_iqr")
            ),
        )
        .drop("_g", "_plo", "_phi", "_med", "_iqr")
    )


def hash_features(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_features: int = 64,
) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009; sklearn's
    ``HashingVectorizer`` with ``alternate_sign``): each token lands in
    bucket ``h mod n_features`` contributing ±1 by a second hash bit, so
    arbitrary vocabularies become fixed-width feature vectors with no
    dictionary to build, ship, or keep consistent across days — the
    property that makes it THE featurizer for streaming/incremental
    training data.

    Hashes are the engine's portable family (31-bit polynomial → degski
    xorshift-multiply), so every bucket index and sign is reproducible
    in SQL.  Output is sparse: one row per (id, non-zero bucket):
    ``id_col``, ``feature_idx`` (BIGINT), ``feature_val`` (BIGINT —
    signed count; buckets whose signs cancel to 0 still appear, with 0).
    """
    if n_features < 1:
        raise ValueError("n_features must be >= 1")
    h = hash32(portable_hash_expr(F.col("_tk")))
    return (
        df.select(F.col(id_col), F.explode(F.col(tokens_col)).alias("_tk"))
        .select(
            id_col,
            (h % F.lit(n_features)).alias("feature_idx"),
            F.when((F.shiftright(h, 7) % 2) == 0, F.lit(1).cast("long"))
            .otherwise(F.lit(-1).cast("long"))
            .alias("_sign"),
        )
        .groupBy(id_col, "feature_idx")
        .agg(F.sum("_sign").alias("feature_val"))
    )


def target_encode(
    df: DataFrame,
    cat_col: str = "event_type",
    target_col: str = "value",
    m: float = 10.0,
) -> DataFrame:
    """Smoothed target (mean) encoding for categorical features:
    ``enc = (sum_cat + m * global_mean) / (n_cat + m)`` — the
    m-strength-prior shrinkage that keeps rare categories from memorizing
    their few targets.  Sums are exact (DECIMAL(25,8)) and the division
    order is fixed, so encodings are bit-deterministic.

    NULL categories form a real stratum; NULL targets are excluded from
    both the numerator and the count (standard mean semantics).
    Returns one row per category: ``cat_col``, ``n`` (BIGINT non-NULL
    targets), ``enc`` (DOUBLE).
    """
    if m < 0:
        raise ValueError("m must be >= 0")

    tgt = F.col(target_col).cast("decimal(25,8)")
    # ONE corpus pass: the global mean is derived from the per-category
    # aggregate (DECIMAL sums are exact, so Σ of category sums == the
    # global sum bit-for-bit), not from a second scan
    per = cache.persist(
        df.groupBy(cat_col).agg(
            F.count(target_col).alias("n"),
            F.coalesce(F.sum(tgt), F.lit(0).cast("decimal(25,8)")).alias("_sd"),
        )
    )
    glob = F.broadcast(
        per.agg(
            (
                F.sum("_sd").cast("double")
                / F.sum("n").cast("double")
            ).alias("_gm")
        )
    )
    return per.crossJoin(glob).select(
        cat_col,
        "n",
        (
            (F.col("_sd").cast("double") + F.lit(float(m)) * F.col("_gm"))
            / (F.col("n").cast("double") + F.lit(float(m)))
        ).alias("enc"),
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
    bin_edges: list[float] | None = None,
) -> DataFrame:
    """Population Stability Index between a reference batch and a current
    batch — the standard production drift monitor for a numeric feature:
    ``PSI = Σ_bins (p_cur − p_ref) · ln(p_cur / p_ref)`` (PSI < 0.1
    stable, 0.1–0.25 drifting, > 0.25 shifted).

    Determinism: bin shares are Laplace-smoothed exact rationals
    ``(n_b + 1)/(N + B)`` (smoothing also makes empty bins well-defined),
    the log-ratio is quantized to integer millinats (the engine's
    `unigram_perplexity` strategy), and the total is the DECIMAL(25,8)
    exact sum of per-bin contributions — bit-identical on any
    partitioning or engine.  NULL values are excluded.

    Scale shape: one pass per side — a CASE-expression bin id + one
    bin-keyed COUNT with map-side combine (bin tables are
    ``len(edges)+1`` rows); everything downstream is bounded-size.

    Returns one row per bin: ``bin`` (BIGINT), ``n_ref``, ``n_cur``
    (BIGINT), ``p_ref``, ``p_cur`` (DOUBLE), ``contrib`` (DOUBLE) and
    ``psi_total`` (DOUBLE, repeated on every row).
    """
    edges = sorted(bin_edges or [])
    if not edges:
        raise ValueError("bin_edges must be non-empty")
    n_bins = len(edges) + 1
    spark = ref.sparkSession

    def bin_of(c):
        expr = F.lit(n_bins - 1)
        for i in range(len(edges) - 1, -1, -1):
            expr = F.when(c <= F.lit(float(edges[i])), F.lit(i)).otherwise(expr)
        return expr.cast("long")

    def side(df, out):
        return (
            df.filter(F.col(value_col).isNotNull())
            .select(bin_of(F.col(value_col)).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(out))
        )

    bins = spark.range(n_bins).select(F.col("id").alias("bin"))
    # bins-sized; persisted because both the totals and the share
    # computation read it — without this each branch replays the two
    # corpus-side scans
    counts = cache.persist(
        bins.join(side(ref, "_nr"), "bin", "left")
        .join(side(cur, "_nc"), "bin", "left")
        .select(
            "bin",
            F.coalesce("_nr", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("_nc", F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    tot = F.broadcast(
        counts.agg(
            F.sum("n_ref").alias("_tr"), F.sum("n_cur").alias("_tc")
        )
    )
    b = float(n_bins)
    withp = counts.crossJoin(tot).select(
        "bin",
        "n_ref",
        "n_cur",
        (
            (F.col("n_ref") + F.lit(1)).cast("double")
            / (F.col("_tr") + F.lit(b)).cast("double")
        ).alias("p_ref"),
        (
            (F.col("n_cur") + F.lit(1)).cast("double")
            / (F.col("_tc") + F.lit(b)).cast("double")
        ).alias("p_cur"),
    )
    lnm = F.floor(
        F.log(F.col("p_cur") / F.col("p_ref")) * F.lit(1000.0) + F.lit(0.5)
    ).cast("long")
    from pyspark.sql import Window

    w = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    contrib = (F.col("p_cur") - F.col("p_ref")) * (
        lnm.cast("double") / F.lit(1000.0)
    )
    return (
        withp.withColumn("contrib", contrib)
        .withColumn(
            "psi_total",
            F.sum(F.col("contrib").cast("decimal(25,8)")).over(w).cast("double"),
        )
        .orderBy("bin")
    )


def quantile_bin(
    df: DataFrame,
    value_col: str,
    k: int = 10,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Equal-frequency (quantile) discretization: assign each row the
    bin index of its ``value_col`` among ``k`` quantile buckets — the
    feature-binning step before monotonic encoders / WoE / gradient
    models, over the full dataset in one pass.

    Boundaries are Spark's exact interpolated ``percentile`` at
    ``i/k`` (i = 1..k-1), computed in ONE aggregate and broadcast; the
    bin is then a map-side count of boundaries strictly below the value
    (``bin = Σ (value > b_i)``, 0-based, so ties collapse into the lower
    bin deterministically — no rank window, no global sort).  NULL
    values get a NULL bin.  Cross-engine exact: DuckDB ``quantile_cont``
    computes the identical interpolation (proven by the winsorize /
    ClickBench entries).

    Scale shape: one exact-percentile aggregate (swap in
    ``approx_percentile`` at extreme scale — same plan shape) plus a
    broadcast cross join; zero data shuffles beyond the aggregate's.

    Returns ``keep_cols`` (default: all input columns) plus ``bin``
    (INT, 0..k-1).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    keep = keep_cols if keep_cols is not None else list(df.columns)
    probs = [repr(i / k) for i in range(1, k)]
    # ONE array-argument percentile (r11): k-1 scalar percentile
    # aggregates each buffered the full 600k-value multiset
    # independently (measured 14.8 s at sf0.1 for k=10); the array form
    # sorts one shared buffer and interpolates all k-1 points from it —
    # identical boundary values, measured ~4x faster
    bounds = df.agg(
        F.expr(f"percentile({value_col}, array({', '.join(probs)}))").alias("_ba")
    )
    v = F.col(value_col).cast("double")
    bin_expr = None
    for i in range(1, k):
        term = F.when(v > F.element_at("_ba", i), F.lit(1)).otherwise(F.lit(0))
        bin_expr = term if bin_expr is None else bin_expr + term
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("bin", F.when(v.isNotNull(), bin_expr.cast("int")))
        .select(*keep, "bin")
    )


def market_basket_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support_ppm: int = 100,
) -> DataFrame:
    """Pairwise association rules (support / confidence / lift) — the
    market-basket reduction: for every ordered item pair (a → b) that
    co-occurs in at least ``min_support_ppm`` parts-per-million of
    baskets, the classic rule metrics.

    Exact arithmetic end to end: co-occurrence and item counts are
    BIGINTs from two aggregates; support/confidence/lift surface as ppm
    BIGINTs (truncating integer division), so results are identical on
    any partitioning and engine — no float thresholds.

    Scale shape: dedup to distinct (basket, item) (one aggregate — the
    frame that bounds everything), self equi-join on the basket key to
    enumerate co-occurring pairs (baskets are small — the join fans out
    per-basket |items|², never cross-basket), then one pair aggregate
    joined to the broadcast-sized item-count frame.  Support pruning
    happens on the aggregated pair frame, not per row.

    Returns ``item_a``, ``item_b`` (a ≠ b, both directions),
    ``n_pairs``, ``n_a``, ``n_b`` (BIGINT), ``support_ppm``,
    ``confidence_ppm``, ``lift_ppm`` (BIGINT, truncating):
    ``lift = confidence(a→b) / support(b)`` =
    ``(n_pairs·N·10^6) div (n_a·n_b)``.
    """
    if min_support_ppm < 0:
        raise ValueError("min_support_ppm must be >= 0")

    bi = cache.persist(
        df.filter(F.col(basket_col).isNotNull() & F.col(item_col).isNotNull())
        .select(F.col(basket_col).alias("_b"), F.col(item_col).alias("_i"))
        .distinct()
    )
    n_baskets = F.broadcast(bi.agg(F.count_distinct("_b").alias("_nb")))
    item_counts = bi.groupBy(F.col("_i").alias("item")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    l = bi.select(F.col("_b"), F.col("_i").alias("item_a"))
    r = bi.select(F.col("_b"), F.col("_i").alias("item_b"))
    pairs = (
        l.join(r, "_b")
        .filter(F.col("item_a") != F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    ia = item_counts.select(F.col("item").alias("item_a"), F.col("_n").alias("n_a"))
    ib = item_counts.select(F.col("item").alias("item_b"), F.col("_n").alias("n_b"))
    out = (
        pairs.join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .crossJoin(n_baskets)
        .select(
            "item_a",
            "item_b",
            "n_pairs",
            "n_a",
            "n_b",
            F.expr("CAST((n_pairs * 1000000) div _nb AS BIGINT)").alias(
                "support_ppm"
            ),
            F.expr("CAST((n_pairs * 1000000) div n_a AS BIGINT)").alias(
                "confidence_ppm"
            ),
            F.expr(
                "CAST((n_pairs * _nb * 1000000) div (n_a * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    return out.filter(F.col("support_ppm") >= F.lit(int(min_support_ppm)))


def one_hot_top_k(
    df: DataFrame,
    cat_col: str,
    k: int = 8,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """One-hot encode the top-``k`` categories of ``cat_col`` (by count,
    ties to the lexically smaller value) plus an ``oh_other`` bucket —
    the bounded-width categorical featurization that never lets a
    high-cardinality column explode the schema (everything outside the
    top-k folds into OTHER; NULL category is NULL across all
    indicators, the standard missing-value contract).

    Deterministic: the vocabulary is one exact count aggregate ordered
    ``(count desc, value)`` — a bounded top-k, broadcast back as literal
    comparisons after one driver probe of k rows (the kmeans-centroid
    pattern; the encode itself is pure map-side codegen).

    Returns ``id_cols`` (default all input columns) + ``oh_<value>``
    INT columns in vocabulary order + ``oh_other``.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    keep = id_cols if id_cols is not None else list(df.columns)
    vocab_rows = (
        df.filter(F.col(cat_col).isNotNull())
        .groupBy(cat_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), F.col(cat_col).asc())
        .limit(int(k))
        .collect()
    )
    vocab = [r[cat_col] for r in vocab_rows]
    c = F.col(cat_col)
    cols = [
        F.when(c.isNull(), F.lit(None))
        .when(c == F.lit(v), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias(f"oh_{v}")
        for v in vocab
    ]
    other = (
        F.when(c.isNull(), F.lit(None))
        .when(c.isin([str(v) for v in vocab]) if vocab else F.lit(False), F.lit(0))
        .otherwise(F.lit(1))
        .cast("int")
        .alias("oh_other")
    )
    return df.select(*keep, *cols, other)


def lag_features(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    lags: list[int] = (1, 7),
    order_col: str | None = None,
) -> DataFrame:
    """Forecasting lag features: per entity, the value ``k`` observations
    back for each ``k`` in ``lags`` plus the delta from it — the
    supervised-learning frame every demand/metric forecaster trains on
    (lag-1 for momentum, lag-7 for weekly seasonality on daily series).

    One window sort per entity serves ALL the lag taps (the EWMA
    lesson); rows too early for a lag get NULL (never zero — a real
    observation of zero means something).  Order is ``(ts, order_col)``
    when a tiebreaker is given, else ``ts`` (callers must ensure
    uniqueness for full determinism).

    Returns the input columns plus ``lag_<k>`` and ``delta_<k>`` per
    requested lag.
    """
    if not lags or any(int(k) < 1 for k in lags):
        raise ValueError("lags must be >= 1 and non-empty")
    order = [F.col(ts_col).asc()] + (
        [F.col(order_col).asc()] if order_col else []
    )
    w = Window.partitionBy(entity_col).orderBy(*order)
    out = df
    for k in lags:
        tap = F.lag(value_col, int(k)).over(w)
        out = out.withColumn(f"lag_{k}", tap).withColumn(
            f"delta_{k}", F.col(value_col) - tap
        )
    return out


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    fold_col: str,
    m: int = 10,
) -> DataFrame:
    """Leakage-safe (leave-fold-out) smoothed target encoding: each
    row's category encoding is computed from the OTHER folds' rows
    only — the cross-validated variant of :func:`target_encode` that a
    training pipeline must use (same-fold target leakage inflates
    feature importance and overfits high-cardinality categories):

        enc = (S_cat − S_cat,fold + m·prior) / (N_cat − N_cat,fold + m)

    with ``prior`` the global target mean.  Determinism: target sums
    are fixed-point BIGINTs (``floor(x·1e4 + 0.5)``, the engine's q1
    idiom — order-independent, engine-exact); prior and encoding are
    fixed float expressions over those exact integers.

    Scale shape: ONE groupBy on (category, fold) with the per-category
    totals recovered by a window SUM over the same partitioning, one
    single-row global aggregate broadcast back, one map-side join of
    the per-(cat, fold) stats onto the rows.  NULL categories and NULL
    folds get a NULL encoding (no group to borrow from); NULL targets
    are excluded from the statistics but still receive an encoding.

    Returns the input columns + ``enc`` (DOUBLE).
    """
    from pyspark.sql.window import Window

    fp = F.floor(F.col(target_col).cast("double") * 10000.0 + 0.5)
    stats = (
        df.filter(F.col(cat_col).isNotNull() & F.col(fold_col).isNotNull())
        .groupBy(cat_col, fold_col)
        .agg(
            F.sum(fp).alias("_s_cf"),
            F.count(F.col(target_col)).alias("_n_cf"),
        )
    )
    wc = Window.partitionBy(cat_col)
    stats = stats.select(
        cat_col,
        fold_col,
        "_s_cf",
        "_n_cf",
        F.sum("_s_cf").over(wc).alias("_s_c"),
        F.sum("_n_cf").over(wc).alias("_n_c"),
    )
    g = df.agg(
        F.sum(fp).alias("_s_all"), F.count(F.col(target_col)).alias("_n_all")
    )
    joined = df.join(stats, [cat_col, fold_col], "left").crossJoin(F.broadcast(g))
    prior = F.col("_s_all").cast("double") / 10000.0 / F.col("_n_all").cast("double")
    enc = (
        (F.col("_s_c") - F.col("_s_cf")).cast("double") / 10000.0
        + F.lit(float(m)) * prior
    ) / ((F.col("_n_c") - F.col("_n_cf")) + F.lit(m)).cast("double")
    return joined.select(
        *df.columns,
        F.when(
            F.col(cat_col).isNotNull() & F.col(fold_col).isNotNull()
            & F.col("_n_c").isNotNull(),
            enc,
        ).alias("enc"),
    )


def chi2_screen(
    df: DataFrame,
    tokens_col: str = "tokens",
    label_col: str = "label",
    min_df: int = 2,
    top_k: int = 20,
) -> DataFrame:
    """Chi-square feature screening of token presence against a binary
    label (the sklearn ``chi2``/``SelectKBest`` step of building a
    quality/toxicity/domain classifier over corpus text): which tokens'
    document frequency differs most from independence with the label.
    Doc-level PRESENCE, not counts — the standard formulation, robust to
    length.

    Per token the 2x2 table is ``a`` (label-1 docs containing it), ``b``
    (label-0 docs containing it), ``c = n1 - a``, ``d = n0 - b``, and

        ``chi2 = n * (a*d - b*c)^2 / ((a+b) * (c+d) * (a+c) * (b+d))``

    computed as ONE fixed float expression over the exact BIGINT counts
    (the ab_test_z / ACF convention: IEEE *, -, /, are correctly
    rounded, so the double is bit-identical in any engine; a BIGINT
    formulation overflows at (ad-bc)^2).  Degenerate margins (token in
    every doc, single-label corpus) yield NULL.  ``assoc`` gives the
    direction ('pos' when the token is enriched in label-1 docs).

    Shape: one explode -> (doc, token) distinct -> ONE token groupBy
    with map-side combine; the label totals ride along as a broadcast
    1-row frame; top-k is a TakeOrdered (chi2 DESC, token) — no windows,
    no driver collect.  NULL labels/token arrays excluded.

    Returns ``token``, ``n_docs``, ``pos_docs``, ``neg_docs`` (BIGINT),
    ``chi2`` (DOUBLE), ``assoc`` (STRING).
    """
    if min_df < 1 or top_k < 1:
        raise ValueError("min_df and top_k must be >= 1")
    base = df.filter(
        F.col(label_col).isNotNull() & F.col(tokens_col).isNotNull()
    ).select(
        F.monotonically_increasing_id().alias("_doc"),
        F.col(label_col).cast("bigint").alias("_y"),
        F.col(tokens_col).alias("_tks"),
    )
    totals = F.broadcast(
        base.agg(
            F.sum("_y").cast("bigint").alias("_n1"),
            (F.count(F.lit(1)) - F.sum("_y")).cast("bigint").alias("_n0"),
        )
    )
    present = (
        base.select("_doc", "_y", F.explode("_tks").alias("token"))
        .groupBy("_doc", "token")
        .agg(F.max("_y").alias("_y"))
    )
    counts = present.groupBy("token").agg(
        F.sum("_y").cast("bigint").alias("pos_docs"),
        (F.count(F.lit(1)) - F.sum("_y")).cast("bigint").alias("neg_docs"),
    )
    chi2 = (
        "CASE WHEN (pos_docs + neg_docs) > 0 AND (_c + _d) > 0 "
        "AND (pos_docs + _c) > 0 AND (neg_docs + _d) > 0 THEN "
        "(CAST(_n1 + _n0 AS DOUBLE) * "
        " (CAST(pos_docs AS DOUBLE) * CAST(_d AS DOUBLE)"
        "  - CAST(neg_docs AS DOUBLE) * CAST(_c AS DOUBLE)) * "
        " (CAST(pos_docs AS DOUBLE) * CAST(_d AS DOUBLE)"
        "  - CAST(neg_docs AS DOUBLE) * CAST(_c AS DOUBLE))) / "
        "(CAST(pos_docs + neg_docs AS DOUBLE) * CAST(_c + _d AS DOUBLE)"
        " * CAST(pos_docs + _c AS DOUBLE) * CAST(neg_docs + _d AS DOUBLE)) END"
    )
    return (
        counts.crossJoin(totals)
        .filter((F.col("pos_docs") + F.col("neg_docs")) >= min_df)
        .select(
            "token",
            (F.col("pos_docs") + F.col("neg_docs")).alias("n_docs"),
            "pos_docs",
            "neg_docs",
            (F.col("_n1") - F.col("pos_docs")).alias("_c"),
            (F.col("_n0") - F.col("neg_docs")).alias("_d"),
            F.col("_n1"),
            F.col("_n0"),
        )
        .select(
            "token",
            "n_docs",
            "pos_docs",
            "neg_docs",
            F.expr(chi2).alias("chi2"),
            F.when(
                F.col("pos_docs") * F.col("_d") > F.col("neg_docs") * F.col("_c"),
                "pos",
            )
            .otherwise("neg")
            .alias("assoc"),
        )
        .orderBy(F.col("chi2").desc_nulls_last(), "token")
        .limit(int(top_k))
    )


def calibration_bins(
    df: DataFrame,
    score_ppm_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins for a probabilistic scorer — the
    calibration eval (Guo 2017's ECE decomposition) a filtering /
    quality-scoring pipeline runs before trusting model scores as
    probabilities: bucket predictions into ``n_bins`` equal-width
    confidence bins and compare mean predicted confidence against the
    observed positive rate in each.

    Inputs are already exact: ``score_ppm_col`` is a BIGINT confidence
    in [0, 1e6] ppm (quantize upstream — the suite's standing idiom
    keeps float policy OUT of the operator), ``label_col`` is 0/1.
    Bin = ``least(n_bins-1, score*n_bins div 1e6)`` (the 1.0 edge case
    folds into the top bin).  Per bin: n, mean confidence and positive
    rate as truncating-div ppm, and the absolute gap — the per-bin term
    of ECE, which recomposes as ``sum(n*gap)/N``.  Rows with a NULL
    score or label are excluded (unscored/unlabeled rows have no place
    in a reliability curve).

    ONE groupBy over at most ``n_bins`` groups; map-side combinable.

    Returns ``bin`` (BIGINT), ``n`` (BIGINT), ``conf_ppm``, ``acc_ppm``,
    ``gap_ppm`` (BIGINT).
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    b = df.filter(
        F.col(score_ppm_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.least(
            F.lit(int(n_bins) - 1).cast("bigint"),
            F.expr(f"({score_ppm_col} * {int(n_bins)}) div 1000000"),
        ).alias("bin"),
        F.col(score_ppm_col).cast("bigint").alias("_s"),
        F.col(label_col).cast("bigint").alias("_y"),
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("_s").alias("_ss"),
            F.sum("_y").alias("_sy"),
        )
        .select(
            "bin",
            "n",
            F.expr("_ss div n").alias("conf_ppm"),
            F.expr("(_sy * 1000000) div n").alias("acc_ppm"),
            F.abs(F.expr("_ss div n") - F.expr("(_sy * 1000000) div n")).alias(
                "gap_ppm"
            ),
        )
    )
