"""Second expression battery: intervals, subqueries, CTEs, lateral unnest,
ANY/ALL array comparisons, and generated (FAKE/random) sources.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from opteryx_spark.operators.hashing import hash32
from opteryx_spark.suite import register
from opteryx_spark.suite._util import dsum, osum, t


@register(
    "interval_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS quarter_later,
           CAST(o_orderdate - INTERVAL 1 YEAR AS DATE) AS year_before,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS age_days,
           CAST(last_day(o_orderdate) AS DATE) AS month_end
    FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey
    """,
)
def interval_arithmetic(spark, sf_dir):
    """INTERVAL model (reference ``datatypes/intervals.py`` month/second
    kernels) via Spark's native interval arithmetic."""
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 300)
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        (d + F.expr("INTERVAL 30 DAYS")).cast("date").alias("due_date"),
        F.add_months(d, 3).cast("date").alias("quarter_later"),
        F.add_months(d, -12).cast("date").alias("year_before"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("age_days"),
        F.last_day(d).cast("date").alias("month_end"),
    ).orderBy("o_orderkey")


@register(
    "subquery_scalar_correlated",
    oracle="""
    SELECT n_name,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier WHERE s_nationkey = n_nationkey) AS n_supp,
           (SELECT CAST(MAX(s_acctbal) AS DOUBLE) FROM supplier WHERE s_nationkey = n_nationkey) AS top_bal
    FROM nation ORDER BY n_name
    """,
)
def subquery_scalar_correlated(spark, sf_dir):
    """Correlated scalar subqueries — Catalyst de-correlates these into a
    left outer aggregate join (the scalable plan)."""
    nation = t(spark, sf_dir, "nation")
    supp = t(spark, sf_dir, "supplier")
    nation.createOrReplaceTempView("nation")
    supp.createOrReplaceTempView("supplier")
    return spark.sql(
        """
        SELECT n_name,
               (SELECT COUNT(*) FROM supplier WHERE s_nationkey = n_nationkey) AS n_supp,
               (SELECT MAX(s_acctbal) FROM supplier WHERE s_nationkey = n_nationkey) AS top_bal
        FROM nation ORDER BY n_name
        """
    )


@register(
    "cte_with_chain",
    oracle=f"""
    WITH seg_rev AS (
      SELECT c_mktsegment, o_custkey, {osum('o_totalprice')} AS spend
      FROM customer JOIN orders ON c_custkey = o_custkey
      GROUP BY c_mktsegment, o_custkey
    ), seg_stats AS (
      SELECT c_mktsegment, {osum('spend')} AS total_spend,
             CAST(COUNT(*) AS BIGINT) AS n_cust
      FROM seg_rev GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, total_spend, n_cust
    FROM seg_stats ORDER BY c_mktsegment
    """,
)
def cte_with_chain(spark, sf_dir):
    cust, orders = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    seg_rev = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(dsum(F.col("o_totalprice")).alias("spend"))
    )
    return (
        seg_rev.groupBy("c_mktsegment")
        .agg(dsum(F.col("spend")).alias("total_spend"), F.count(F.lit(1)).alias("n_cust"))
        .orderBy("c_mktsegment")
    )


@register(
    "unnest_lateral_filtered_distinct",
    oracle=f"""
    SELECT token, CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM (
      SELECT lang, unnest(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS token
      FROM documents
    ) u
    WHERE length(token) >= 6
    GROUP BY token ORDER BY token
    """,
)
def unnest_lateral_filtered_distinct(spark, sf_dir):
    """CROSS JOIN UNNEST with pushed filter + DISTINCT (reference
    ``unnest_join_node.py:37-269`` supports filters/distinct pushed into
    the unnest)."""
    docs = t(spark, sf_dir, "documents")
    toks = F.array_distinct(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    return (
        docs.select("lang", F.explode(toks).alias("token"))
        .filter(F.length("token") >= 6)
        .groupBy("token")
        .agg(F.countDistinct("lang").alias("n_langs"))
        .orderBy("token")
    )


@register(
    "any_all_array_ops",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS tk
      FROM documents
    )
    SELECT
      CAST(SUM(CASE WHEN list_has_any(tk, ['spark', 'window']) THEN 1 ELSE 0 END) AS BIGINT) AS n_any,
      CAST(SUM(CASE WHEN list_has_all(tk, ['spark', 'window']) THEN 1 ELSE 0 END) AS BIGINT) AS n_all,
      CAST(SUM(CASE WHEN NOT list_has_any(tk, ['spark', 'window']) THEN 1 ELSE 0 END) AS BIGINT) AS n_none,
      CAST(SUM(CASE WHEN len(list_filter(tk, x -> x > 'w')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_any_gt
    FROM toks
    """,
)
def any_all_array_ops(spark, sf_dir):
    """Reference ANY/ALL comparison operators over arrays
    (``ops.py:291-379``: ``@>`` overlap, ``@>>`` contains-all,
    AnyOpGt) via arrays_overlap / forall / exists."""
    docs = t(spark, sf_dir, "documents")
    tk = F.array_distinct(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    needles = F.array(F.lit("spark"), F.lit("window"))
    one_if = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    return docs.select(tk.alias("tk")).agg(
        one_if(F.arrays_overlap(F.col("tk"), needles)).alias("n_any"),
        one_if(F.forall(needles, lambda x: F.array_contains(F.col("tk"), x))).alias("n_all"),
        one_if(~F.arrays_overlap(F.col("tk"), needles)).alias("n_none"),
        one_if(F.exists(F.col("tk"), lambda x: x > "w")).alias("n_any_gt"),
    )


@register(
    "count_null_semantics",
    oracle=f"""
    WITH x AS (
      SELECT CASE WHEN c_acctbal > 2500.0 THEN c_acctbal END AS maybe_bal, c_custkey
      FROM customer
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_star,
           CAST(COUNT(maybe_bal) AS BIGINT) AS n_col,
           CAST(COUNT(DISTINCT maybe_bal) AS BIGINT) AS n_distinct,
           {osum('maybe_bal')} AS sum_nonnull,
           CAST(SUM(CASE WHEN maybe_bal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
    FROM x
    """,
)
def count_null_semantics(spark, sf_dir):
    """COUNT(*) vs COUNT(col) vs COUNT(DISTINCT col) with NULLs — the
    aggregate-null battery (reference ``aggregate_node.py``)."""
    cust = t(spark, sf_dir, "customer")
    maybe = F.when(F.col("c_acctbal") > 2500.0, F.col("c_acctbal"))
    return cust.select(maybe.alias("maybe_bal")).agg(
        F.count(F.lit(1)).alias("n_star"),
        F.count("maybe_bal").alias("n_col"),
        F.countDistinct("maybe_bal").alias("n_distinct"),
        dsum(F.col("maybe_bal")).alias("sum_nonnull"),
        F.sum(F.when(F.col("maybe_bal").isNull(), 1).otherwise(0)).alias("n_null"),
    )


@register(
    "having_post_aggregation",
    oracle="""
    SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 400 AND COUNT(DISTINCT l_returnflag) = 3
    ORDER BY l_suppkey
    """,
)
def having_post_aggregation(spark, sf_dir):
    """HAVING = post-aggregation filter (reference plans it exactly so,
    ``logical_planner.py:440-446``)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("l_returnflag").alias("_nrf"),
        )
        .filter((F.col("n_items") > 400) & (F.col("_nrf") == 3))
        .select("l_suppkey", "n_items")
        .orderBy("l_suppkey")
    )


@register(
    "tvf_fake_table",
    oracle="""
    WITH h0 AS (SELECT range AS row_id, range % 4294967296 AS h FROM range(1000)),
    h1 AS (SELECT row_id, (xor(h >> 16, h) * 73244475) % 4294967296 AS h FROM h0),
    h2 AS (SELECT row_id, (xor(h >> 16, h) * 73244475) % 4294967296 AS h FROM h1),
    hf AS (SELECT row_id, xor(h >> 16, h) AS h FROM h2)
    SELECT row_id,
           'user_' || CAST(h % 500 AS VARCHAR) AS name,
           CAST(h % 10000 AS DOUBLE) / 100.0 AS amount,
           CASE WHEN h % 3 = 0 THEN 'bronze'
                WHEN h % 3 = 1 THEN 'silver'
                ELSE 'gold' END AS tier
    FROM hf ORDER BY row_id
    """,
)
def tvf_fake_table(spark, sf_dir):
    """Reference FAKE table function (``function_dataset_node.py:70-139``):
    deterministic synthetic rows, generated distributed via spark.range
    (never a driver-side list).  Values derive from the engine's portable
    degski xorshift-multiply hash of the row id, so the generator is an
    engine-independent specification — the oracle replays every value in
    SQL (the minhash-portable-twin recipe); IEEE double division by 100.0
    is correctly rounded in both engines, so ``amount`` is bit-identical."""
    n = 1000
    base = spark.range(n)
    h = hash32(F.col("id"))
    return base.select(
        F.col("id").alias("row_id"),
        F.concat(F.lit("user_"), (h % F.lit(500)).cast("string")).alias("name"),
        ((h % F.lit(10000)).cast("double") / 100.0).alias("amount"),
        F.when(h % 3 == 0, "bronze")
        .when(h % 3 == 1, "silver")
        .otherwise("gold")
        .alias("tier"),
    ).orderBy("row_id")


@register(
    "sample_order_by_rand",
    oracle="""
    WITH h0 AS (SELECT c_custkey, c_name, c_custkey % 4294967296 AS h FROM customer),
    h1 AS (SELECT c_custkey, c_name, (xor(h >> 16, h) * 73244475) % 4294967296 AS h FROM h0),
    h2 AS (SELECT c_custkey, c_name, (xor(h >> 16, h) * 73244475) % 4294967296 AS h FROM h1),
    hf AS (SELECT c_custkey, c_name, xor(h >> 16, h) AS h FROM h2)
    SELECT c_custkey, c_name FROM hf
    ORDER BY h, c_custkey LIMIT 25
    """,
)
def sample_order_by_rand(spark, sf_dir):
    """ORDER BY RAND() LIMIT n (reference ``sort_node.py:60-90``) — a
    distributed shuffle-sample.  The reproducible twin orders by the
    portable degski hash of the key rather than ``rand(seed)``: Spark's
    seeded rand depends on the partition layout (the same seed yields a
    DIFFERENT sample after a repartition), so a hash order is the only
    shuffle-sample a distributed pipeline can actually replay — and the
    only one an external oracle can verify.  The cursor dialect still
    accepts literal ``ORDER BY RAND()``."""
    cust = t(spark, sf_dir, "customer")
    h = hash32(F.col("c_custkey"))
    return (
        cust.select("c_custkey", "c_name", h.alias("_h"))
        .orderBy("_h", "c_custkey")
        .limit(25)
        .select("c_custkey", "c_name")
    )
