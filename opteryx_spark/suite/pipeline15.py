"""Suite wave 36, imported by ``load_all`` like every other suite module;
the oracle twins compare-verify through ``tools/window_preflight.py
--only <names>``.

Surface: exact two-sample KS drift, classical additive decomposition,
semi-hard triplet mining, cross-batch term trends, and the A/B
conversion z readout."""

from __future__ import annotations

from pyspark.sql import functions as F

from opteryx_spark.operators import events as _events
from opteryx_spark.operators import quality as _quality
from opteryx_spark.operators import similarity as _similarity
from opteryx_spark.operators import text as _text
from opteryx_spark.operators import timeseries as _ts
from opteryx_spark.suite import register
from opteryx_spark.suite._util import t
from opteryx_spark.suite.pipeline8 import _O_DAILY, _daily_counts

# --- exact two-sample KS drift ------------------------------------------------------


@register(
    "quality_ks_drift",
    oracle="""
    WITH av AS (
      SELECT CAST(floor(CAST(value AS DOUBLE) * 10000.0) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND event_type = 'click'
    ),
    bv AS (
      SELECT CAST(floor(CAST(value AS DOUBLE) * 10000.0) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND event_type = 'purchase'
    ),
    pv AS (
      SELECT v, CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM (SELECT v, 1 AS m FROM av UNION ALL SELECT v, 2 AS m FROM bv)
      GROUP BY v
    ),
    c AS (
      SELECT sum(ca) OVER (ORDER BY v) AS cuma,
             sum(cb) OVER (ORDER BY v) AS cumb
      FROM pv
    ),
    tt AS (
      SELECT CAST((SELECT count(*) FROM av) AS BIGINT) AS na,
             CAST((SELECT count(*) FROM bv) AS BIGINT) AS nb
    )
    SELECT tt.na AS n_a, tt.nb AS n_b,
           CAST(max(abs(c.cuma * tt.nb - c.cumb * tt.na)) AS BIGINT) AS d_scaled,
           (CAST(max(abs(c.cuma * tt.nb - c.cumb * tt.na)) AS BIGINT) * 1000000)
             // (tt.na * tt.nb) AS d_ppm
    FROM c, tt GROUP BY tt.na, tt.nb
    """,
)
def quality_ks_drift(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov distance between the click
    and purchase value distributions (``operators/quality.py::
    ks_drift``): D is rational, so ``max |cum_a·n_b − cum_b·n_a|`` is
    BIGINT end-to-end; the Spark side computes the cumulative by the
    distributed two-phase prefix sum (range buckets + broadcast
    offsets — no one-partition sort), the oracle by a plain window.
    The unbinned complement to PSI/TV drift."""
    ev = t(spark, sf_dir, "events")
    return _quality.ks_drift(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
    )


# --- classical decomposition ---------------------------------------------------------

_CD_HW = 3
_CD_P = 7


@register(
    "ts_classical_decompose",
    oracle=f"""
    WITH daily AS ({_O_DAILY}),
    tr AS (
      SELECT event_type, d, cnt,
             (CAST(sum(cnt) OVER w AS BIGINT) * 1000)
               // CAST(count(*) OVER w AS BIGINT) AS trend_q
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN {_CD_HW} PRECEDING AND {_CD_HW} FOLLOWING)
    ),
    de AS (
      SELECT event_type, d, cnt, trend_q, cnt * 1000 - trend_q AS detr,
             d % {_CD_P} AS ph
      FROM tr
    )
    SELECT event_type, d, cnt,
           trend_q,
           CAST(sum(detr) OVER p AS BIGINT)
             // CAST(count(*) OVER p AS BIGINT) AS seasonal_q,
           detr - (CAST(sum(detr) OVER p AS BIGINT)
                   // CAST(count(*) OVER p AS BIGINT)) AS resid_q
    FROM de
    WINDOW p AS (PARTITION BY event_type, ph)
    ORDER BY event_type, d
    """,
)
def ts_classical_decompose(spark, sf_dir):
    """Classical additive decomposition of the per-type daily series
    (``operators/timeseries.py::classical_decompose``): centered-MA
    trend (SUM·1000 div frame COUNT — edges get their true frame size),
    per-(key, weekday-phase) seasonal means of the detrended values,
    BIGINT residuals; two key-partitioned windows, zero joins — the
    split every anomaly screen should run on instead of raw values."""
    return _ts.classical_decompose(
        _daily_counts(spark, sf_dir),
        key_cols=["event_type"],
        t_col="d",
        value_col="cnt",
        period=_CD_P,
        half_window=_CD_HW,
    ).orderBy("event_type", "d")


# --- semi-hard triplet mining ----------------------------------------------------------

_TM_DIM = 64
_TM_QMOD = 100


def _triplet_oracle() -> str:
    d2 = " + ".join(
        f"(a.qv[{d + 1}] - c.qv[{d + 1}]) * (a.qv[{d + 1}] - c.qv[{d + 1}])"
        for d in range(_TM_DIM)
    )
    return f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
      FROM embeddings
      WHERE vec_id IS NOT NULL AND label IS NOT NULL AND embedding IS NOT NULL
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS a_id, a.label AS a_l, c.vec_id AS c_id, c.label AS c_l,
             {d2} AS d2
      FROM q a, q c
      WHERE a.vec_id % {_TM_QMOD} = 0 AND c.vec_id <> a.vec_id
    ),
    pos AS (
      SELECT a_id, c_id AS pos_id, d2 AS pos_d2_q FROM (
        SELECT a_id, c_id, d2,
               row_number() OVER (PARTITION BY a_id ORDER BY d2, c_id) AS rn
        FROM pairs WHERE c_l = a_l
      ) WHERE rn = 1
    ),
    neg AS (
      SELECT a_id, c_id AS neg_id, d2 AS neg_d2_q FROM (
        SELECT p.a_id, p.c_id, p.d2,
               row_number() OVER (PARTITION BY p.a_id ORDER BY p.d2, p.c_id) AS rn
        FROM pairs p JOIN pos ON pos.a_id = p.a_id
        WHERE p.c_l <> p.a_l AND p.d2 > pos.pos_d2_q
      ) WHERE rn = 1
    )
    SELECT pos.a_id AS anchor_id, pos.pos_id, pos.pos_d2_q,
           neg.neg_id, neg.neg_d2_q
    FROM pos LEFT JOIN neg ON neg.a_id = pos.a_id
    ORDER BY anchor_id
    """


@register("emb_triplet_mining", oracle=_triplet_oracle())
def emb_triplet_mining(spark, sf_dir):
    """Semi-hard triplet selection (Schroff 2015;
    ``operators/similarity.py::triplet_mining``) for the
    ``vec_id % {m} = 0`` anchor panel: nearest same-label positive,
    nearest different-label negative STILL FARTHER than the positive —
    the stable metric-learning band; broadcast panel, one map pass,
    two struct-keeper aggregates, exact BIGINT distances."""
    emb = t(spark, sf_dir, "embeddings")
    return _similarity.triplet_mining(
        emb.filter(F.col("vec_id") % _TM_QMOD == 0), emb
    ).orderBy("anchor_id")


emb_triplet_mining.__doc__ = emb_triplet_mining.__doc__.format(m=_TM_QMOD)

# --- cross-batch term trends --------------------------------------------------------------

_TT_TOKENS = "list_filter(string_split(text, ' '), x -> x <> '')"
_TT_MIN = 20
_TT_K = 40


@register(
    "text_term_trends",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id % 4 AS b, unnest({_TT_TOKENS}) AS tok
      FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ),
    batches AS (SELECT DISTINCT b FROM toks),
    counts AS (SELECT tok, b, CAST(count(*) AS BIGINT) AS y FROM toks GROUP BY tok, b),
    grid AS (
      SELECT tk.tok, ba.b
      FROM (SELECT DISTINCT tok FROM counts) tk CROSS JOIN batches ba
    ),
    dense AS (
      SELECT g.tok, g.b, coalesce(c.y, 0) AS y
      FROM grid g LEFT JOIN counts c ON c.tok = g.tok AND c.b = g.b
    ),
    ag AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n, CAST(sum(b) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS total,
             CAST(sum(b * b) AS BIGINT) AS sxx, CAST(sum(b * y) AS BIGINT) AS sxy
      FROM dense GROUP BY tok HAVING CAST(sum(y) AS BIGINT) >= {_TT_MIN}
    ),
    sc AS (
      SELECT tok AS token, n AS n_batches, total,
             n * sxy - sx * total AS slope_num,
             n * sxx - sx * sx AS slope_den,
             ((n * sxy - sx * total) * 1000000) // (n * sxx - sx * sx) AS slope_ppm
      FROM ag WHERE n * sxx - sx * sx > 0
    ),
    rising AS MATERIALIZED (
      SELECT *, 'rising' AS direction FROM sc
      ORDER BY slope_ppm DESC, token LIMIT {_TT_K}
    )
    SELECT * FROM rising
    UNION ALL
    SELECT * FROM (
      -- anti-join vs the rising set: a token must not appear both ways
      SELECT *, 'falling' AS direction FROM sc
      WHERE token NOT IN (SELECT token FROM rising)
      ORDER BY slope_ppm ASC, token LIMIT {_TT_K}
    )
    ORDER BY direction, slope_ppm, token
    """,
)
def text_term_trends(spark, sf_dir):
    """Emerging/declining vocabulary across crawl batches
    (``operators/text.py::term_trends``; batch = doc_id mod 4): per-token
    OLS slope over DENSIFIED per-batch counts (absent = 0, not missing —
    skipping biases toward survivors), BIGINT sufficient statistics,
    truncating-ppm slopes, top-{k} movers each way — the screen for
    "what vocabulary is the new crawl injecting"."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    return _text.term_trends(
        docs.withColumn("batch", F.col("doc_id") % 4),
        "batch",
        min_total=_TT_MIN,
        top_k=_TT_K,
    ).orderBy("direction", "slope_ppm", "token")


text_term_trends.__doc__ = text_term_trends.__doc__.format(k=_TT_K)

# --- A/B conversion z ------------------------------------------------------------------------


@register(
    "events_ab_test_z",
    oracle="""
    WITH pu AS (
      SELECT ((user_id % 2) + 2) % 2 AS v,  -- pmod: DuckDB % keeps sign, mirror Spark-side F.pmod
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    bv AS (SELECT v, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS conv
           FROM pu GROUP BY v),
    a AS (SELECT n AS n_a, conv AS conv_a FROM bv WHERE v = 0),
    b AS (SELECT n AS n_b, conv AS conv_b FROM bv WHERE v = 1)
    SELECT n_a, conv_a, (conv_a * 1000000) // n_a AS rate_a_ppm,
           n_b, conv_b, (conv_b * 1000000) // n_b AS rate_b_ppm,
           (conv_b * 1000000) // n_b - (conv_a * 1000000) // n_a AS lift_ppm,
           CASE WHEN n_a > 0 AND n_b > 0
                 AND (conv_a + conv_b) > 0 AND (conv_a + conv_b) < (n_a + n_b) THEN
             (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
              - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)) /
             sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                  * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                  * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
           END AS z
    FROM a, b
    """,
)
def events_ab_test_z(spark, sf_dir):
    """User-level two-variant conversion readout
    (``operators/events.py::ab_test_conversion``; variant = user_id
    mod 2, conversion = any purchase): exact BIGINT counts and
    truncating-ppm rates/lift, the pooled two-proportion z as ONE fixed
    float expression over the exact integers (+,−,×,÷,sqrt are all
    IEEE-correctly-rounded — the ACF/OLS convention; no erf/p-value,
    consumers threshold |z|)."""
    ev = t(spark, sf_dir, "events")
    return _events.ab_test_conversion(ev)


# --- NULL-pattern mining -----------------------------------------------------------------


@register(
    "profile_null_patterns",
    oracle="""
    SELECT concat(
             CASE WHEN ts IS NULL THEN '1' ELSE '0' END,
             CASE WHEN user_id IS NULL THEN '1' ELSE '0' END,
             CASE WHEN event_type IS NULL THEN '1' ELSE '0' END,
             CASE WHEN value IS NULL THEN '1' ELSE '0' END,
             CASE WHEN props IS NULL THEN '1' ELSE '0' END
           ) AS pattern,
           CAST((CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
              + (CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
              + (CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
              + (CASE WHEN value IS NULL THEN 1 ELSE 0 END)
              + (CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cols_null,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events GROUP BY 1, 2 ORDER BY pattern
    """,
)
def profile_null_patterns(spark, sf_dir):
    """Joint NULL-pattern mining over the events table
    (``operators/profile.py::null_patterns``): rows grouped by their
    exact missingness signature — the structural-missingness view
    per-column null counts cannot give (same-rows-lost-both vs
    independent losses); ONE map-side-combinable groupBy."""
    ev = t(spark, sf_dir, "events")
    from opteryx_spark.operators import profile as _profile

    return _profile.null_patterns(
        ev, ["ts", "user_id", "event_type", "value", "props"]
    ).orderBy("pattern")


# --- class-balanced downsample ----------------------------------------------------------------


@register(
    "sample_balanced_classes",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang FROM documents
      WHERE lang IS NOT NULL AND doc_id IS NOT NULL
    ),
    nm AS (
      SELECT CAST(min(n) AS BIGINT) AS n_min
      FROM (SELECT count(*) AS n FROM base GROUP BY lang)
    ),
    ranked AS (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('bal' || ':' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS BIGINT) AS _keep_rank
      FROM base
    )
    SELECT r.lang, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(r.doc_id) AS BIGINT) AS sum_ids
    FROM ranked r, nm WHERE r._keep_rank <= nm.n_min
    GROUP BY r.lang ORDER BY r.lang
    """,
)
def sample_balanced_classes(spark, sf_dir):
    """Deterministic class-balanced downsampling by language
    (``operators/scale.py::balanced_downsample``): every class kept at
    exactly the minority size, members chosen by md5 order (rerun
    anywhere → same subset); label-partitioned window + broadcast
    1-row minimum, no global sort.  Aggregated per class (count +
    id-sum) so the oracle value-checks the exact kept SET."""
    from opteryx_spark.operators import scale as _scale

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    kept = _scale.balanced_downsample(docs, "lang", "doc_id", seed="bal")
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("lang")
    )


# --- exact Wasserstein-1 drift ------------------------------------------------------------


@register(
    "quality_w1_drift",
    oracle="""
    WITH av AS (
      SELECT CAST(floor(CAST(value AS DOUBLE) * 10000.0) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND event_type = 'click'
    ),
    bv AS (
      SELECT CAST(floor(CAST(value AS DOUBLE) * 10000.0) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND event_type = 'purchase'
    ),
    pv AS (
      SELECT v, CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM (SELECT v, 1 AS m FROM av UNION ALL SELECT v, 2 AS m FROM bv)
      GROUP BY v
    ),
    c AS (
      SELECT CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
             CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cumb,
             coalesce(lead(v, 1) OVER (ORDER BY v), v) - v AS gap
      FROM pv
    ),
    tt AS (
      SELECT CAST((SELECT count(*) FROM av) AS BIGINT) AS na,
             CAST((SELECT count(*) FROM bv) AS BIGINT) AS nb
    )
    SELECT tt.na AS n_a, tt.nb AS n_b,
           CAST(sum(abs(c.cuma * tt.nb - c.cumb * tt.na) * c.gap) AS BIGINT)
             AS w1_scaled,
           (CAST(sum(abs(c.cuma * tt.nb - c.cumb * tt.na) * c.gap) AS BIGINT) * 1000)
             // (tt.na * tt.nb * 10000) AS w1_milli_units
    FROM c, tt GROUP BY tt.na, tt.nb
    """,
)
def quality_w1_drift(spark, sf_dir):
    """Exact 1-Wasserstein (earth-mover) distance between the click and
    purchase value distributions (``operators/quality.py::w1_drift``):
    KS's integral sibling — the gap-weighted BIGINT sum of the CDF
    difference, sensitive to how FAR mass moved; same two-phase
    distributed prefix sum as the KS entry, boundary gaps from a
    broadcast next-non-empty-bucket frame."""
    ev = t(spark, sf_dir, "events")
    return _quality.w1_drift(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
    )


# --- Markov removal-effect attribution -------------------------------------------------------

_RA_ROUNDS = 12


def _removal_oracle() -> str:
    parts = [
        """WITH b AS MATERIALIZED (
      SELECT user_id AS u, epoch_us(ts) AS t,
             coalesce(CAST(event_id AS BIGINT), -1) AS i,
             coalesce(CAST(event_type AS VARCHAR), '∅') AS et
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    cp AS MATERIALIZED (
      SELECT u, t AS pt, i AS pi FROM (
        SELECT u, t, i, row_number() OVER (PARTITION BY u ORDER BY t, i) AS rn
        FROM b WHERE et = 'purchase'
      ) WHERE rn = 1
    ),
    tou AS MATERIALIZED (
      SELECT b.u, b.t, b.i, b.et, cp.u IS NOT NULL AS cvf
      FROM b LEFT JOIN cp ON cp.u = b.u
      WHERE b.et <> 'purchase'
        AND (cp.u IS NULL OR b.t < cp.pt OR (b.t = cp.pt AND b.i < cp.pi))
    ),
    seq AS MATERIALIZED (
      SELECT u, et, cvf, lag(et) OVER w AS prev, lead(et) OVER w AS nxt
      FROM tou WINDOW w AS (PARTITION BY u ORDER BY t, i)
    ),
    pairs AS MATERIALIZED (
      SELECT coalesce(prev, 'START') AS fi, et AS tj FROM seq
      UNION ALL
      SELECT et, CASE WHEN cvf THEN 'CONV' ELSE 'DROP' END FROM seq WHERE nxt IS NULL
      UNION ALL
      SELECT 'START', 'CONV'
      FROM cp ANTI JOIN (SELECT DISTINCT u FROM tou) tu USING (u)
    ),
    counts AS MATERIALIZED (
      SELECT fi, tj, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY fi, tj
    ),
    tags AS MATERIALIZED (
      SELECT DISTINCT ch AS removed FROM (
        SELECT fi AS ch FROM counts UNION ALL SELECT tj FROM counts
      ) WHERE ch NOT IN ('START', 'CONV', 'DROP')
      UNION ALL SELECT '(none)'
    ),
    sc AS MATERIALIZED (
      SELECT tg.removed, c.fi,
             CASE WHEN c.tj = tg.removed THEN 'DROP' ELSE c.tj END AS tj,
             CAST(sum(c.c) AS BIGINT) AS c
      FROM counts c CROSS JOIN tags tg WHERE c.fi <> tg.removed
      GROUP BY 1, 2, 3
    ),
    p AS MATERIALIZED (
      SELECT removed, fi, tj,
             (c * 1000000) // CAST(sum(c) OVER (PARTITION BY removed, fi) AS BIGINT)
               AS p_ppm
      FROM sc
    ),
    st AS MATERIALIZED (
      SELECT DISTINCT removed, state FROM (
        SELECT removed, tj AS state FROM p UNION ALL SELECT removed, fi FROM p
      )
    ),
    v0 AS MATERIALIZED (
      SELECT removed, state,
             CAST(CASE WHEN state = 'CONV' THEN 1000000 ELSE 0 END AS BIGINT) AS v
      FROM st
    )"""
    ]
    for r in range(1, _RA_ROUNDS + 1):
        parts.append(
            f""",
    s{r} AS MATERIALIZED (
      SELECT p.removed, p.fi AS state,
             CAST(sum(p.p_ppm * v.v) AS BIGINT) // 1000000 AS v
      FROM p JOIN v{r - 1} v ON v.removed = p.removed AND v.state = p.tj
      GROUP BY p.removed, p.fi
    ),
    v{r} AS MATERIALIZED (
      SELECT st.removed, st.state,
             CAST(CASE WHEN st.state = 'CONV' THEN 1000000
                       ELSE coalesce(s.v, 0) END AS BIGINT) AS v
      FROM st LEFT JOIN s{r} s ON s.removed = st.removed AND s.state = st.state
    )"""
        )
    parts.append(
        f""",
    starts AS (SELECT removed, v AS pr FROM v{_RA_ROUNDS} WHERE state = 'START'),
    fu AS (SELECT pr AS p_full FROM starts WHERE removed = '(none)'),
    eff AS (
      SELECT removed AS channel, fu.p_full AS p_full_ppm, pr AS p_removed_ppm,
             greatest(fu.p_full - pr, 0) AS removal_effect_ppm
      FROM starts, fu WHERE removed <> '(none)'
    ),
    tot AS (SELECT CAST(sum(removal_effect_ppm) AS BIGINT) AS tot FROM eff)
    SELECT channel, p_full_ppm, p_removed_ppm, removal_effect_ppm,
           CASE WHEN tot.tot > 0
                THEN (removal_effect_ppm * 1000000) // tot.tot END AS share_ppm
    FROM eff, tot ORDER BY channel"""
    )
    return "".join(parts)


@register("events_attribution_removal", oracle=_removal_oracle())
def events_attribution_removal(spark, sf_dir):
    """Markov removal-effect attribution (Anderl 2014;
    ``operators/events.py::removal_effect_attribution``): journey chain
    START → channels → CONV/DROP from first-purchase-truncated paths,
    then every channel's credit = the drop in the chain's {r}-step
    conversion probability when transitions into it reroute to DROP —
    computed for ALL removal scenarios AT ONCE over a (removed, state)
    key (no per-channel loop), truncating-ppm integers throughout; the
    data-driven replacement for position heuristics."""
    ev = t(spark, sf_dir, "events")
    return _events.removal_effect_attribution(ev, rounds=_RA_ROUNDS).orderBy(
        "channel"
    )


events_attribution_removal.__doc__ = events_attribution_removal.__doc__.format(
    r=_RA_ROUNDS
)
