"""Suite wave 35, imported by ``load_all`` like every other suite module.
Unit tests live in ``tests/test_wave35.py``; the oracle twins
compare-verify through ``tools/window_preflight.py --only <names>``.

Surface: HITS hubs/authorities, greedy k-center coreset selection,
funnel time-to-convert, weekday-ANOVA seasonal strength, shingle
CONTAINMENT near-dup pairs, and PCA top-direction power iteration."""

from __future__ import annotations

from pyspark.sql import functions as F

from opteryx_spark.operators import dedup as _dedup
from opteryx_spark.operators import events as _events
from opteryx_spark.operators import similarity as _similarity
from opteryx_spark.operators import timeseries as _ts
from opteryx_spark.operators import web as _web
from opteryx_spark.suite import register
from opteryx_spark.suite._util import t
from opteryx_spark.suite.pipeline8 import _KC_N, _O_DAILY, _daily_counts
from opteryx_spark.suite.pipeline9 import _kc_edges

# --- HITS hubs/authorities --------------------------------------------------------

_HITS_ROUNDS = 4

_O_KC_DIRECTED = f"""
      SELECT DISTINCT s, d FROM (
        SELECT doc_id % {_KC_N} AS s, (doc_id * 31 + 7) % {_KC_N} AS d FROM documents
        UNION ALL SELECT doc_id % {_KC_N}, (doc_id * 17 + 3) % {_KC_N} FROM documents
        UNION ALL SELECT (doc_id * 13 + 5) % {_KC_N}, (doc_id * 41 + 11) % {_KC_N} FROM documents
      ) t(s, d) WHERE s <> d
"""


def _hits_oracle() -> str:
    parts = [
        f"""WITH e AS MATERIALIZED ({_O_KC_DIRECTED}),
    n0 AS MATERIALIZED (
      SELECT DISTINCT node FROM (SELECT s AS node FROM e UNION ALL SELECT d FROM e)
    ),
    h0 AS MATERIALIZED (SELECT node, CAST(1000000 AS BIGINT) AS score FROM n0)"""
    ]
    for r in range(1, _HITS_ROUNDS + 1):
        parts.append(
            f""",
    ar{r} AS MATERIALIZED (
      SELECT e.d AS node, CAST(sum(h.score) AS BIGINT) AS w
      FROM e JOIN h{r - 1} h ON h.node = e.s GROUP BY e.d
    ),
    a{r} AS MATERIALIZED (
      SELECT n.node, coalesce((r.w * 1000000) // t.t, 0) AS score
      FROM n0 n LEFT JOIN ar{r} r ON r.node = n.node,
           (SELECT CAST(sum(w) AS BIGINT) AS t FROM ar{r}) t
    ),
    hr{r} AS MATERIALIZED (
      SELECT e.s AS node, CAST(sum(a.score) AS BIGINT) AS w
      FROM e JOIN a{r} a ON a.node = e.d GROUP BY e.s
    ),
    h{r} AS MATERIALIZED (
      SELECT n.node, coalesce((r.w * 1000000) // t.t, 0) AS score
      FROM n0 n LEFT JOIN hr{r} r ON r.node = n.node,
           (SELECT CAST(sum(w) AS BIGINT) AS t FROM hr{r}) t
    )"""
        )
    parts.append(
        f"""
    SELECT h.node, h.score AS hub_ppm, a.score AS auth_ppm
    FROM h{_HITS_ROUNDS} h JOIN a{_HITS_ROUNDS} a USING (node) ORDER BY node"""
    )
    return "".join(parts)


@register("graph_hits_scores", oracle=_hits_oracle())
def graph_hits_scores(spark, sf_dir):
    """HITS hubs and authorities (Kleinberg 1999;
    ``operators/web.py::hits_scores``) over the DIRECTED doc-id graph:
    per half-round one node-keyed join + one node-keyed SUM, L1
    normalization in truncating ppm with the normalizer as a broadcast
    1-row frame, lineage re-rooted with eager superseded release — the
    directed-role complement to PageRank, every intermediate a
    BIGINT."""
    return _web.hits_scores(_kc_edges(spark, sf_dir), rounds=_HITS_ROUNDS).orderBy(
        "node"
    )


# --- greedy k-center coreset -------------------------------------------------------

_KC_K = 6
_KC_DIM = 64


def _kcenter_oracle() -> str:
    dims = range(_KC_DIM)

    def d2(a: str, b: str) -> str:
        return " + ".join(
            f"({a}.qv[{i + 1}] - {b}.qv[{i + 1}]) * ({a}.qv[{i + 1}] - {b}.qv[{i + 1}])"
            for i in dims
        )

    parts = [
        """WITH q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    ),
    c1 AS MATERIALIZED (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1),
    d1 AS MATERIALIZED (
      SELECT q.vec_id, q.qv, {d2} AS dmin FROM q, c1 c
    )""".format(d2=d2("q", "c"))
    ]
    for r in range(2, _KC_K + 1):
        parts.append(
            f""",
    c{r} AS MATERIALIZED (
      SELECT vec_id, qv, dmin FROM d{r - 1} ORDER BY dmin DESC, vec_id LIMIT 1
    ),
    d{r} AS MATERIALIZED (
      SELECT d.vec_id, d.qv, least(d.dmin, {d2("d", "c")}) AS dmin
      FROM d{r - 1} d, c{r} c
    )"""
        )
    sel = [
        "SELECT CAST(1 AS BIGINT) AS sel_idx, vec_id, CAST(NULL AS BIGINT) AS radius2_q FROM c1"
    ]
    for r in range(2, _KC_K + 1):
        sel.append(f"SELECT CAST({r} AS BIGINT), vec_id, dmin FROM c{r}")
    parts.append("\n    " + "\n    UNION ALL ".join(sel) + "\n    ORDER BY sel_idx")
    return "".join(parts)


@register("emb_kcenter_coreset", oracle=_kcenter_oracle())
def emb_kcenter_coreset(spark, sf_dir):
    """Greedy k-center coreset (Gonzalez 1985;
    ``operators/similarity.py::kcenter_coreset``): {k} maximally-spread
    exemplars by farthest-point greedy — nearest-center distances
    maintained INCREMENTALLY (one map pass vs the single newest center
    per round + one 1-row struct-keeper collect, the bounded kmeans/MMR
    driver loop), exact BIGINT distances, smallest-id ties; the
    diversity-first data-selection primitive."""
    emb = t(spark, sf_dir, "embeddings")
    return _similarity.kcenter_coreset(emb, k=_KC_K).orderBy("sel_idx")


emb_kcenter_coreset.__doc__ = emb_kcenter_coreset.__doc__.format(k=_KC_K)

# --- funnel time-to-convert ----------------------------------------------------------


@register(
    "events_funnel_ttc",
    oracle="""
    WITH b AS (
      SELECT user_id AS u, epoch_us(ts) AS us, event_type AS t FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    ta AS (SELECT u, min(us) AS ta FROM b WHERE t = 'view' GROUP BY u),
    tb AS (
      SELECT b.u, min(b.us) AS tb
      FROM b JOIN ta ON ta.u = b.u
      WHERE b.t = 'purchase' AND b.us >= ta.ta GROUP BY b.u
    )
    SELECT ta.u AS user_id, ta.ta AS t_a_us, tb.tb AS t_b_us,
           tb.tb - ta.ta AS delta_us
    FROM ta LEFT JOIN tb ON tb.u = ta.u ORDER BY user_id
    """,
)
def events_funnel_ttc(spark, sf_dir):
    """Per-user first-view → first-purchase-at-or-after latency
    (``operators/events.py::funnel_time_to_convert``): one groupBy for
    the anchors, one user-keyed join + min for the conversions —
    at-same-instant converts, purchase-before-view does not, unix-micro
    BIGINTs; the *how long* companion to the funnel counters."""
    ev = t(spark, sf_dir, "events")
    return _events.funnel_time_to_convert(
        ev, stage_a="view", stage_b="purchase"
    ).orderBy("user_id")


# --- weekday ANOVA seasonal strength ---------------------------------------------------


@register(
    "ts_weekday_anova",
    oracle=f"""
    WITH daily AS ({_O_DAILY}),
    pp AS (
      SELECT event_type, d % 7 AS ph, CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(cnt) AS BIGINT) AS sg, CAST(sum(cnt * cnt) AS BIGINT) AS sqg
      FROM daily GROUP BY event_type, d % 7
    ),
    ag AS (
      SELECT event_type, CAST(sum(ng) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_phases,
             CAST(sum(sg) AS BIGINT) AS s, CAST(sum(sqg) AS BIGINT) AS sq,
             CAST(sum((sg * sg) // ng) AS BIGINT) AS sb
      FROM pp GROUP BY event_type
    )
    SELECT event_type, n AS n_points, n_phases,
           -- floored at 0: truncating per-phase div can dip a hair negative
           greatest(n * sb - s * s, 0) AS ssb_n, n * sq - s * s AS sst_n,
           CASE WHEN n * sq - s * s > 0
                THEN (greatest(n * sb - s * s, 0) * 1000000) // (n * sq - s * s)
           END AS eta2_ppm
    FROM ag ORDER BY event_type
    """,
)
def ts_weekday_anova(spark, sf_dir):
    """Day-of-week seasonal strength of the per-type daily series
    (``operators/timeseries.py::weekday_anova``): one-way ANOVA over the
    7 phase groups, eta² = SS_between/SS_total in truncating ppm with
    n-scaled BIGINT sums of squares — "does this metric need weekday
    adjustment" BEFORE any model; ONE (key, phase) + ONE key groupBy,
    map-side combinable."""
    return _ts.weekday_anova(
        _daily_counts(spark, sf_dir),
        key_cols=["event_type"],
        t_col="d",
        value_col="cnt",
        period=7,
    ).orderBy("event_type")


# --- shingle containment pairs ----------------------------------------------------------

_O_TOKENS14 = "list_filter(string_split(text, ' '), x -> x <> '')"
_O_TRIGRAMS14 = (
    "list_distinct(list_transform(range(1, len({tk}) - 1),"
    " i -> concat_ws(' ', {tk}[i], {tk}[i+1], {tk}[i+2])))"
).format(tk=_O_TOKENS14)

_CT_MIN_PPM = 500_000
_CT_MAX_DF = 1000


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH sh0 AS MATERIALIZED (
      SELECT doc_id, unnest({_O_TRIGRAMS14}) AS sh FROM documents
    ),
    sizes AS MATERIALIZED (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh0 GROUP BY doc_id
    ),
    hot AS MATERIALIZED (
      SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > {_CT_MAX_DF}
    ),
    sh AS MATERIALIZED (SELECT sh0.doc_id, sh0.sh FROM sh0 ANTI JOIN hot USING (sh)),
    inter AS MATERIALIZED (
      SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(count(*) AS BIGINT) AS ns
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2
    ),
    c AS (
      SELECT id1, id2, ns, sa.n AS na, sb.n AS nb,
             (ns * 1000000) // sa.n AS ca, (ns * 1000000) // sb.n AS cb
      FROM inter JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
    )
    SELECT id1, id2, ns AS n_shared, na AS n_a, nb AS n_b,
           ca AS c_a_in_b_ppm, cb AS c_b_in_a_ppm
    FROM c WHERE ca >= {_CT_MIN_PPM} OR cb >= {_CT_MIN_PPM}
    ORDER BY id1, id2
    """,
)
def dedup_containment_pairs(spark, sf_dir):
    """Asymmetric near-dup pairs by trigram-shingle CONTAINMENT
    (Broder 1997; ``operators/dedup.py::containment_pairs``): the
    doc-in-doc signal Jaccard structurally misses (a fully-quoted short
    doc has tiny Jaccard but containment ≈ 1) — exact inverted-index
    self-join with the winnow-style document-frequency cap, truncating
    ppm in BOTH directions, pairs clearing {thr} ppm either way."""
    docs = t(spark, sf_dir, "documents")
    return _dedup.containment_pairs(
        docs, k=3, min_containment_ppm=_CT_MIN_PPM, max_df=_CT_MAX_DF
    ).orderBy("id1", "id2")


dedup_containment_pairs.__doc__ = dedup_containment_pairs.__doc__.format(
    thr=_CT_MIN_PPM
)

# --- PCA top-direction power iteration ------------------------------------------------------

_PCA_DIM = 64
_PCA_ROUNDS = 3


def _pca_oracle() -> str:
    dims = range(_PCA_DIM)
    v0 = ", ".join(f"CAST(1000 AS BIGINT) AS c{d}" for d in dims)
    parts = [
        f"""WITH q AS MATERIALIZED (
      SELECT list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    v0 AS MATERIALIZED (SELECT {v0})"""
    ]
    for r in range(1, _PCA_ROUNDS + 1):
        u = " + ".join(f"q.qv[{d + 1}] * v.c{d}" for d in dims)
        w = ", ".join(f"CAST(sum(qv[{d + 1}] * u) AS BIGINT) AS w{d}" for d in dims)
        mx = "greatest(" + ", ".join(f"abs(coalesce(w{d}, 0))" for d in dims) + ")"
        vc = ", ".join(
            f"CASE WHEN mx = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE (abs(coalesce(w{d}, 0)) * 1000 // mx)"
            f" * (CASE WHEN coalesce(w{d}, 0) >= 0 THEN 1 ELSE -1 END) END AS c{d}"
            for d in dims
        )
        parts.append(
            f""",
    u{r} AS MATERIALIZED (SELECT q.qv, {u} AS u FROM q, v{r - 1} v),
    w{r} AS MATERIALIZED (SELECT {w} FROM u{r}),
    v{r} AS MATERIALIZED (SELECT {vc} FROM (SELECT *, {mx} AS mx FROM w{r}))"""
        )
    sel = "\n    UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS dim_idx, c{d} AS component_milli FROM v{_PCA_ROUNDS}"
        for d in dims
    )
    parts.append(f"\n    {sel}\n    ORDER BY dim_idx")
    return "".join(parts)


@register("emb_pca_power", oracle=_pca_oracle())
def emb_pca_power(spark, sf_dir):
    """Top principal direction by fixed-round integer power iteration
    (``operators/similarity.py::pca_power_portable``): per round one
    map pass (the projection) + ONE aggregate with {d} fused BIGINT
    sums (the kmeans update shape) + a 1-row normalizer collect —
    distributed Xᵀ(Xv) with milli renormalization; the bit-reproducible
    PCA twin (MLlib SVD is the float fast path)."""
    emb = t(spark, sf_dir, "embeddings")
    return _similarity.pca_power_portable(
        emb, dim=_PCA_DIM, rounds=_PCA_ROUNDS
    ).orderBy("dim_idx")


emb_pca_power.__doc__ = emb_pca_power.__doc__.format(d=_PCA_DIM)
