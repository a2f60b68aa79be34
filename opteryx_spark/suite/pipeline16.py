"""Suite wave 37, imported by ``load_all`` like every other suite module;
the oracle twins compare-verify through ``tools/window_preflight.py
--only <names>``.

Surface: common-neighbor Jaccard link prediction and the cohort
lifetime-value matrix."""

from __future__ import annotations

from pyspark.sql import functions as F

from opteryx_spark.operators import events as _events
from opteryx_spark.operators import web as _web
from opteryx_spark.suite import register
from opteryx_spark.suite._util import t
from opteryx_spark.suite.pipeline8 import _O_KC_EDGES
from opteryx_spark.suite.pipeline9 import _kc_edges

# --- link prediction --------------------------------------------------------------

_LP_K = 40
_LP_MAXDEG = 1000


@register(
    "graph_link_prediction",
    oracle=f"""
    WITH e AS MATERIALIZED ({_O_KC_EDGES}),
    nb AS MATERIALIZED (
      SELECT a AS node, b AS nbr FROM e UNION ALL SELECT b AS node, a AS nbr FROM e
    ),
    deg AS MATERIALIZED (
      SELECT node, CAST(count(*) AS BIGINT) AS deg FROM nb GROUP BY node
    ),
    ctr AS MATERIALIZED (
      SELECT nb.nbr AS ctr, nb.node AS leaf FROM nb
      WHERE nb.nbr NOT IN (SELECT node FROM deg WHERE deg > {_LP_MAXDEG})
    ),
    cand AS MATERIALIZED (
      SELECT l.leaf AS a, r.leaf AS b, CAST(count(*) AS BIGINT) AS n_common
      FROM ctr l JOIN ctr r ON l.ctr = r.ctr AND l.leaf < r.leaf
      GROUP BY 1, 2
    ),
    nc AS MATERIALIZED (
      SELECT c.* FROM cand c ANTI JOIN e ON e.a = c.a AND e.b = c.b
    ),
    s AS (
      SELECT nc.a, nc.b, nc.n_common, da.deg AS deg_a, db.deg AS deg_b,
             (nc.n_common * 1000000) // (da.deg + db.deg - nc.n_common)
               AS jaccard_ppm
      FROM nc JOIN deg da ON da.node = nc.a JOIN deg db ON db.node = nc.b
    )
    SELECT * FROM s ORDER BY jaccard_ppm DESC, a, b LIMIT {_LP_K}
    """,
)
def graph_link_prediction(spark, sf_dir):
    """Common-neighbor Jaccard link prediction (Liben-Nowell 2003;
    ``operators/web.py::link_prediction_jaccard``) over the shared
    doc-id graph: non-adjacent 2-hop pairs scored by exact
    |N(a)∩N(b)| / |N(a)∪N(b)| in truncating ppm — the wedge join is the
    triangle-counting shape with the hot-hub wedge-center cap; existing
    edges removed by anti-join; deterministic top-{k}."""
    return _web.link_prediction_jaccard(
        _kc_edges(spark, sf_dir), top_k=_LP_K, max_degree=_LP_MAXDEG
    )


graph_link_prediction.__doc__ = graph_link_prediction.__doc__.format(k=_LP_K)

# --- cohort LTV matrix ---------------------------------------------------------------


@register(
    "events_cohort_ltv",
    oracle="""
    WITH b AS (
      SELECT user_id AS u, CAST(ts AS DATE) AS d,
             CAST(floor(CAST(value AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS vq
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    co AS (SELECT u, min(d) AS cohort_day FROM b GROUP BY u),
    cells AS (
      SELECT co.cohort_day,
             CAST(date_diff('day', co.cohort_day, b.d) AS BIGINT) AS day_offset,
             CAST(count(DISTINCT b.u) AS BIGINT) AS n_active_users,
             CAST(coalesce(sum(b.vq), 0) AS BIGINT) AS rev_q
      FROM b JOIN co ON co.u = b.u GROUP BY 1, 2
    )
    SELECT cohort_day, day_offset, n_active_users, rev_q,
           CAST(sum(rev_q) OVER (
             PARTITION BY cohort_day ORDER BY day_offset) AS BIGINT) AS cum_rev_q
    FROM cells ORDER BY cohort_day, day_offset
    """,
)
def events_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value matrix (``operators/events.py::
    cohort_ltv``) — the revenue companion to `events_cohort_retention`:
    per (first-active-day cohort, age) the booked value and the running
    cumulative, fixed-point BIGINT sums (the q1 idiom), one
    cohort-partitioned running window over tiny per-cohort cell
    counts — the curve LTV models fit and payback decisions read."""
    ev = t(spark, sf_dir, "events")
    return _events.cohort_ltv(ev).orderBy("cohort_day", "day_offset")


# --- monotonicity audit ---------------------------------------------------------------


@register(
    "quality_monotonic_ts",
    oracle="""
    WITH s AS (
      SELECT user_id AS u, CAST(event_id AS BIGINT) AS o, epoch_us(ts) AS v
      FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
    ),
    st AS (
      SELECT u, o, v, lead(v) OVER (PARTITION BY u ORDER BY o, v) AS nv FROM s
    ),
    f AS (
      SELECT u, 1 AS one, CASE WHEN nv < v THEN 1 ELSE 0 END AS bad,
             CASE WHEN nv < v THEN o END AS bad_at
      FROM st WHERE nv IS NOT NULL
    )
    SELECT u AS user_id, CAST(sum(one) AS BIGINT) AS n_steps,
           CAST(sum(bad) AS BIGINT) AS n_violations,
           CAST(min(bad_at) AS BIGINT) AS first_violation_at
    FROM f GROUP BY u ORDER BY user_id
    """,
)
def quality_monotonic_ts(spark, sf_dir):
    """Per-user id-vs-time monotonicity audit
    (``operators/quality.py::monotonic_check``): do event ids arrive in
    timestamp order?  A decrease is a replay, clock skew or a
    backfill — the windowed data-quality check `quality_constraint_
    report`'s row-local rules cannot express; per user the step count,
    violation count and the id where the FIRST violation starts; ONE
    key-partitioned window + ONE groupBy."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("ts_us"),
    )
    from opteryx_spark.operators import quality as _quality

    return _quality.monotonic_check(
        ev, ["user_id"], "event_id", "ts_us"
    ).orderBy("user_id")
