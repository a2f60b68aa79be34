"""Round-6 second-wave suite entries: batch event sessionization, cohort
retention, BM25 ranked retrieval, and acting fuzzy dedup (MinHash
clusters → one keeper).  Every entry carries a bit-exact DuckDB oracle.

Determinism notes specific to these entries:
- session/window sums in DuckDB return HUGEINT → every windowed or plain
  SUM over integers is CAST AS BIGINT (NOTES_r5 pitfall);
- the sessionize window orders by ``(ts, event_id)`` on BOTH sides — the
  unique tiebreaker makes equal timestamps deterministic, and rows with a
  NULL user/ts are excluded by operator contract (Spark orders NULLs
  FIRST, DuckDB LAST — excluded rows can't diverge);
- BM25's only transcendental (idf) is quantized to integer millinats and
  the cross-term sum is a fixed-point BIGINT sum, the
  ``unigram_perplexity`` strategy;
- float constants in the oracles are written as the SAME expressions the
  Spark side evaluates (``(1.2 + 1.0)``, not ``2.2``) so IEEE constant
  folding yields bit-identical values.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from opteryx_spark import cache
from opteryx_spark.operators import dedup, events, retrieval, similarity
from opteryx_spark.suite import register
from opteryx_spark.suite._util import t
from opteryx_spark.suite.pipeline import _O_TOKENS, _PERM_VALUES

# --- batch sessionization ----------------------------------------------------

_GAP_US = 30 * 60 * 1_000_000


@register(
    "events_sessionize",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_id, value, epoch_us(ts) AS us
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), f AS (
      SELECT *,
             CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w > {_GAP_US} THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT *,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM f
    )
    SELECT user_id, session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,8))) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def events_sessionize(spark, sf_dir):
    """Gap-based sessionization that re-sessionizes the whole history in
    one window pass (``operators/events.py::sessionize`` — the batch twin
    of ``streaming.sessionize``'s ``session_window``): new session when
    the gap to the previous event exceeds 30 minutes; one row per session
    with bounds, duration, event count and exact value sum."""
    ev = t(spark, sf_dir, "events")
    return events.sessionize(ev, gap_minutes=30).orderBy("user_id", "session_id")


@register(
    "events_cohort_retention",
    oracle="""
    WITH a AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), c AS (
      SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY user_id
    )
    SELECT c.cohort_day,
           CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM a JOIN c USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_cohort_retention(spark, sf_dir):
    """Cohort-retention matrix (``operators/events.py::cohort_retention``):
    users cohorted by first active day; (cohort_day, day_offset) cells
    count cohort members active that many days later.  offset-0 cells are
    the cohort sizes."""
    ev = t(spark, sf_dir, "events")
    return events.cohort_retention(ev)


# --- BM25 ranked retrieval ----------------------------------------------------

_BM25_TERMS = ["join", "query", "vector"]
_O_TERMS = ", ".join(f"'{q}'" for q in _BM25_TERMS)

_O_BM25_BODY = f"""
    WITH base AS (
      SELECT doc_id, COALESCE(len({_O_TOKENS}), 0) AS dl FROM documents
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS N, CAST(SUM(dl) AS BIGINT) AS sumdl
      FROM base
    ), post AS (
      SELECT doc_id, tk, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest({_O_TOKENS}) AS tk FROM documents)
      WHERE tk IN ({_O_TERMS})
      GROUP BY doc_id, tk
    ), dfq AS (
      SELECT tk, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY tk
    ), idf AS (
      SELECT tk,
             CAST(FLOOR(LN((CAST(N AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                           / (CAST(df AS DOUBLE) + 0.5) + 1.0)
                        * 1000.0 + 0.5) AS BIGINT) AS idfm,
             CAST(sumdl AS DOUBLE) / CAST(N AS DOUBLE) AS avgdl
      FROM dfq, stats
    ), part AS (
      SELECT p.doc_id,
             CAST(FLOOR(
               ((CAST(idfm AS DOUBLE) / 1000.0)
                * (CAST(tf AS DOUBLE) * (1.2 + 1.0)
                   / (CAST(tf AS DOUBLE)
                      + 1.2 * (1.0 - 0.75
                               + 0.75 * CAST(b.dl AS DOUBLE) / avgdl))))
               * 10000.0 + 0.5) AS BIGINT) AS p
      FROM post p JOIN base b USING (doc_id) JOIN idf USING (tk)
    ), scores AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched,
             (SUM(p) / 10000.0) AS bm25
      FROM part GROUP BY doc_id
    )
"""


@register(
    "text_bm25_scores",
    oracle=_O_BM25_BODY + "SELECT * FROM scores ORDER BY doc_id",
)
def text_bm25_scores(spark, sf_dir):
    """BM25 lexical ranking (``operators/retrieval.py::bm25_scores``) for
    the probe query 'join query vector': per-matching-doc score with
    millinat idf and fixed-point cross-term sums — the full Robertson
    k1/b formula value-verified end to end."""
    docs = t(spark, sf_dir, "documents")
    return retrieval.bm25_scores(docs, _BM25_TERMS).orderBy("doc_id")


@register(
    "text_bm25_topk",
    oracle=_O_BM25_BODY
    + "SELECT * FROM scores ORDER BY bm25 DESC, doc_id LIMIT 20",
)
def text_bm25_topk(spark, sf_dir):
    """Top-20 BM25 retrieval with deterministic id tiebreak
    (``operators/retrieval.py::bm25_topk``)."""
    docs = t(spark, sf_dir, "documents")
    return retrieval.bm25_topk(docs, _BM25_TERMS, k=20)


# --- acting fuzzy dedup -------------------------------------------------------


@register(
    "dedup_fuzzy_keepers",
    oracle=f"""
    WITH RECURSIVE grp AS (
      SELECT MIN(doc_id) AS gid, COUNT(*) AS n_copies, text
      FROM documents GROUP BY text
    ), sh AS (
      SELECT gid, unnest(list_distinct(list_transform(range(1, len({_O_TOKENS})),
        i -> concat_ws(' ', {_O_TOKENS}[i], {_O_TOKENS}[i+1])))) AS s
      FROM grp
    ), hs AS (
      SELECT gid, list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(s)+1),
                              i -> CAST(ascii(s[i]) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 2147483647) AS h
      FROM sh
    ), perms(idx, a, b) AS (VALUES {_PERM_VALUES}),
    mins AS (
      SELECT gid, idx, MIN((a * h + b) % 2147483647) AS mh
      FROM hs CROSS JOIN perms GROUP BY gid, idx
    ), sigs AS (
      SELECT gid, list(mh ORDER BY idx) AS sig FROM mins GROUP BY gid
    ), bnd AS (
      SELECT gid, band,
             list_reduce(list_prepend(CAST(0 AS BIGINT), comps),
                         (acc, c) -> (acc * 1000003 + c) % 2147483647) AS bh
      FROM (
        SELECT gid, idx // 4 AS band, list(mh ORDER BY idx) AS comps
        FROM mins GROUP BY gid, idx // 4
      )
    ), ok AS (
      SELECT band, bh FROM bnd GROUP BY band, bh HAVING COUNT(*) <= 1000
    ), pairs AS (
      SELECT DISTINCT a.gid AS id1, b.gid AS id2
      FROM bnd a JOIN bnd b ON a.band = b.band AND a.bh = b.bh
                           AND a.gid < b.gid
      JOIN ok ON ok.band = a.band AND ok.bh = a.bh
    ), strong AS (
      SELECT id1, id2
      FROM pairs JOIN sigs sa ON sa.gid = id1 JOIN sigs sb ON sb.gid = id2
      WHERE len(list_filter(range(1, 65), i -> sa.sig[i] = sb.sig[i])) >= 32
    ), edges AS (
      SELECT id1 AS a, id2 AS b FROM strong
      UNION SELECT id2, id1 FROM strong
    ), walk(node, comp) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
      UNION
      SELECT e.a, w.comp FROM edges e JOIN walk w ON w.node = e.b
    ), labels AS (
      SELECT node, MIN(comp) AS comp FROM walk GROUP BY node
    ), glab AS (
      SELECT node, comp FROM labels
      UNION ALL
      SELECT gid, gid FROM grp
      WHERE n_copies > 1 AND gid IN (SELECT DISTINCT gid FROM sh)
        AND gid NOT IN (SELECT node FROM labels)
    )
    SELECT d.doc_id, l.comp,
           (l.comp IS NULL OR l.comp = d.doc_id) AS kept
    FROM documents d
    JOIN grp g ON g.text IS NOT DISTINCT FROM d.text
    LEFT JOIN glab l ON l.node = g.gid
    ORDER BY d.doc_id
    """,
)
def dedup_fuzzy_keepers(spark, sf_dir):
    """Fuzzy dedup that ACTS (``operators/dedup.py::fuzzy_dedup``): the
    GPT-3/RefinedWeb recipe — portable-hash MinHash LSH pairs gated at
    est_jaccard ≥ 0.5 (≥32 of 64 matching components) → connected
    components → one keeper per cluster (the min member id = the
    component label).  r11 re-pin (VERDICT r10 #4): the ORACLE now
    replays the EXEMPLAR-LEVEL semantics — grouping by text, signatures /
    banding / bucket cap / recursive-CTE closure all over DISTINCT texts
    (exemplar id = min member id), byte-identical copy groups clustering
    unconditionally, members relabeled through their group — and the
    Spark side runs the LIBRARY DEFAULT ``unique_texts="auto"`` routing:
    member-level on mostly-unique corpora (this sf0.1 corpus is 0.16%
    dups, where forcing the exemplar route measured 2.2× pure overhead),
    exemplar-level on dup-heavy corpora (sf5's 98% dups, where
    member-level pair expansion is O(copies²) and was r10's one
    super-linear heavy line — r11 heavy log: ratio 0.18).  The two routes
    produce identical results away from the ``max_bucket`` edge (the
    documented divergence needs a >1000-member bucket; the compare
    corpora top out at copy groups of 2), so the one oracle gates both —
    and the route equivalence itself is pinned by the randomized tests in
    ``tests/test_events_retrieval.py``."""
    docs = t(spark, sf_dir, "documents")
    return dedup.fuzzy_dedup(
        docs,
        "doc_id",
        "text",
        min_est_jaccard=0.5,
        k=2,
        unique_texts="auto",
        portable_hash=True,
    ).orderBy("doc_id")


# --- incremental fuzzy dedup (index artifact) ---------------------------------


@register(
    "dedup_minhash_incremental",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(range(1, len({_O_TOKENS})),
        i -> concat_ws(' ', {_O_TOKENS}[i], {_O_TOKENS}[i+1])))) AS s
      FROM documents
    ), hs AS (
      SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(s)+1),
                              i -> CAST(ascii(s[i]) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 2147483647) AS h
      FROM sh
    ), perms(idx, a, b) AS (VALUES {_PERM_VALUES}),
    mins AS (
      SELECT doc_id, idx, MIN((a * h + b) % 2147483647) AS mh
      FROM hs CROSS JOIN perms GROUP BY doc_id, idx
    ), sigs AS (
      SELECT doc_id, list(mh ORDER BY idx) AS sig FROM mins GROUP BY doc_id
    ), bnd AS (
      SELECT doc_id, band,
             list_reduce(list_prepend(CAST(0 AS BIGINT), comps),
                         (acc, c) -> (acc * 1000003 + c) % 2147483647) AS bh
      FROM (
        SELECT doc_id, idx // 4 AS band, list(mh ORDER BY idx) AS comps
        FROM mins GROUP BY doc_id, idx // 4
      )
    ), cok AS (
      SELECT band, bh FROM bnd WHERE doc_id < 250
      GROUP BY band, bh HAVING COUNT(*) <= 1000
    ), cand AS (
      SELECT DISTINCT n.doc_id AS nid, c.doc_id AS cid
      FROM bnd n JOIN bnd c ON n.band = c.band AND n.bh = c.bh
      JOIN cok ON cok.band = n.band AND cok.bh = n.bh
      WHERE n.doc_id >= 250 AND c.doc_id < 250
    ), scored AS (
      SELECT nid, cid,
             CAST(len(list_filter(range(1, 65), i -> sa.sig[i] = sb.sig[i]))
                  AS DOUBLE) / 64.0 AS est
      FROM cand JOIN sigs sa ON sa.doc_id = nid JOIN sigs sb ON sb.doc_id = cid
    ), best AS (
      SELECT nid, cid AS best_match_id, est AS est_jaccard,
             row_number() OVER (PARTITION BY nid ORDER BY est DESC, cid) AS rn
      FROM scored WHERE est >= 0.5
    )
    SELECT d.doc_id, b.best_match_id, b.est_jaccard,
           (b.best_match_id IS NOT NULL) AS in_corpus_near_dup
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.nid = d.doc_id
    WHERE d.doc_id >= 250
    ORDER BY d.doc_id
    """,
)
def dedup_minhash_incremental(spark, sf_dir):
    """Incremental fuzzy dedup against the persisted LSH index
    (``dedup.minhash_index`` + ``minhash_dedup_against_index``): docs
    < 250 are the accepted corpus (indexed offline), docs >= 250 the new
    crawl; each new doc gets its best corpus near-match (max est, min id
    tiebreak) at est ≥ 0.5.  Completes the incremental trio —
    byte-exact (``dedup_incremental_exact``), window-level
    (``dedup_remove_corpus_chunks``), and now near-dup — all
    membership-is-the-verdict, one join against an offline artifact."""
    from opteryx_spark.operators import dedup as D

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    idx = D.minhash_index(corpus, portable_hash=True)
    return (
        D.minhash_dedup_against_index(new, idx, threshold=0.5, portable_hash=True)
        .select("doc_id", "best_match_id", "est_jaccard", "in_corpus_near_dup")
        .orderBy("doc_id")
    )


# --- sessionized funnel --------------------------------------------------------


@register(
    "events_session_funnel",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type, epoch_us(ts) AS us
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), f AS (
      SELECT *,
             CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w > {_GAP_US} THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT *,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM f
    ), per AS (
      SELECT user_id, session_id,
             MIN(CASE WHEN event_type = 'view' THEN us END) AS t0,
             MIN(CASE WHEN event_type = 'click' THEN us END) AS t1,
             MIN(CASE WHEN event_type = 'purchase' THEN us END) AS t2
      FROM s GROUP BY user_id, session_id
    )
    SELECT CASE
             WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
                  AND t2 IS NOT NULL AND t2 > t1 THEN 'purchase'
             WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0 THEN 'click'
             WHEN t0 IS NOT NULL THEN 'view'
             ELSE 'none' END AS funnel_stage,
           CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM per GROUP BY 1 ORDER BY 1
    """,
)
def events_session_funnel(spark, sf_dir):
    """First-touch ordered funnel within 30-minute sessions
    (``operators/events.py::session_funnel``): each session counted once
    at its deepest strictly-time-ordered view → click → purchase prefix.
    The sessionized, order-aware upgrade of ``events_sessionless_funnel``."""
    ev = t(spark, sf_dir, "events")
    return events.session_funnel(ev, gap_minutes=30)


# --- PMI collocations ----------------------------------------------------------


@register(
    "text_pmi_collocations",
    oracle=f"""
    WITH tokl AS (
      SELECT {_O_TOKENS} AS tl FROM documents
    ), uni AS (
      SELECT tk, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(tl) AS tk FROM tokl) GROUP BY tk
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS U FROM uni
    ), bic AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS cxy
      FROM (SELECT unnest(list_transform(range(1, len(tl)),
                     i -> concat_ws(' ', tl[i], tl[i+1]))) AS s
            FROM tokl)
      GROUP BY s
    ), btot AS (
      SELECT CAST(SUM(cxy) AS BIGINT) AS T FROM bic
    ), j AS (
      SELECT string_split(s, ' ')[1] AS w1, string_split(s, ' ')[2] AS w2, cxy
      FROM bic WHERE cxy >= 5
    ), scored AS (
      SELECT w1, w2, cxy,
             CAST(FLOOR(LN((CAST(cxy AS DOUBLE) / CAST(T AS DOUBLE))
                 / ((CAST(a.c AS DOUBLE) / CAST(U AS DOUBLE))
                    * (CAST(b.c AS DOUBLE) / CAST(U AS DOUBLE))))
               * 1000.0 + 0.5) AS BIGINT) AS pmi_millinats
      FROM j JOIN uni a ON a.tk = w1 JOIN uni b ON b.tk = w2, tot, btot
    )
    SELECT * FROM scored ORDER BY pmi_millinats DESC, w1, w2 LIMIT 50
    """,
)
def text_pmi_collocations(spark, sf_dir):
    """PMI collocation mining (``operators/retrieval.py::collocations``):
    top-50 adjacent word pairs by pointwise mutual information (millinat
    quantized, ≥5 occurrences), the phrase-vocabulary builder's workhorse."""
    docs = t(spark, sf_dir, "documents")
    return retrieval.collocations(docs, min_count=5, top_k=50)


# --- Markov type transitions ----------------------------------------------------


@register(
    "events_type_transitions",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type, epoch_us(ts) AS us
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), f AS (
      SELECT *,
             CASE WHEN lag(us) OVER w IS NULL
                    OR us - lag(us) OVER w > {_GAP_US} THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT *,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM f
    ), tr AS (
      SELECT lag(event_type) OVER w2 AS prev_type,
             event_type AS next_type,
             lag(1) OVER w2 AS started
      FROM s WINDOW w2 AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
    ), cnt AS (
      SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM tr WHERE started IS NOT NULL
      GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n,
           CAST(n AS DOUBLE)
             / CAST(CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS DOUBLE)
             AS p
    FROM cnt ORDER BY prev_type, next_type
    """,
)
def events_type_transitions(spark, sf_dir):
    """First-order Markov transition matrix of event types within
    30-minute sessions (``operators/events.py::type_transitions``):
    (prev, next) counts and exact-ratio probabilities; session starts
    carry no transition.  The behavioural-model input."""
    ev = t(spark, sf_dir, "events")
    return events.type_transitions(ev, gap_minutes=30)


# --- batch retrieval over the inverted-index artifact ---------------------------

_SEARCH_QUERIES = [("q1", ["join", "vector"]), ("q2", ["customer", "query"]), ("q3", ["window"])]
_O_QVALUES = ", ".join(
    f"('{qid}', '{term}')" for qid, terms in _SEARCH_QUERIES for term in sorted(set(terms))
)


@register(
    "text_bm25_search_index",
    oracle=f"""
    WITH postings AS (
      SELECT tk AS term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf, dl
      FROM (SELECT doc_id, COALESCE(len({_O_TOKENS}), 0) AS dl,
                   unnest({_O_TOKENS}) AS tk
            FROM documents)
      GROUP BY tk, doc_id, dl
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS N, CAST(SUM(dl) AS BIGINT) AS sumdl
      FROM (SELECT doc_id, MIN(dl) AS dl FROM postings GROUP BY doc_id)
    ), q(query_id, term) AS (VALUES {_O_QVALUES}),
    dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings
      WHERE term IN (SELECT term FROM q) GROUP BY term
    ), idf AS (
      SELECT term,
             CAST(FLOOR(LN((CAST(N AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                           / (CAST(df AS DOUBLE) + 0.5) + 1.0)
                        * 1000.0 + 0.5) AS BIGINT) AS idfm,
             CAST(sumdl AS DOUBLE) / CAST(N AS DOUBLE) AS avgdl
      FROM dfreq, stats
    ), part AS (
      SELECT q.query_id, p.doc_id,
             CAST(FLOOR(
               ((CAST(idfm AS DOUBLE) / 1000.0)
                * (CAST(tf AS DOUBLE) * (1.2 + 1.0)
                   / (CAST(tf AS DOUBLE)
                      + 1.2 * (1.0 - 0.75
                               + 0.75 * CAST(p.dl AS DOUBLE) / avgdl))))
               * 10000.0 + 0.5) AS BIGINT) AS pp
      FROM postings p JOIN q ON q.term = p.term JOIN idf ON idf.term = p.term
    ), sc AS (
      SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched,
             (SUM(pp) / 10000.0) AS bm25
      FROM part GROUP BY 1, 2
    ), rk AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
      FROM sc
    )
    SELECT query_id, rank, doc_id, n_matched, bm25
    FROM rk WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def text_bm25_search_index(spark, sf_dir):
    """Batch retrieval over the persisted inverted index
    (``retrieval.postings_index`` + ``bm25_search``): three queries
    answered in one pass — term stats broadcast, per-(query, doc)
    fixed-point reduce, one bounded window for per-query top-5.  The
    index-once/query-many shape the single-query ``text_bm25_scores``
    entry scales into."""
    docs = t(spark, sf_dir, "documents")
    idx = retrieval.postings_index(docs)
    return retrieval.bm25_search(
        idx, _SEARCH_QUERIES, k=5, stats=retrieval.index_stats(docs)
    )


# --- random projection (pre-ANN compression) ------------------------------------


@register(
    "emb_random_projection",
    oracle="""
    WITH pl AS (
      SELECT j.range AS dim,
             list_transform(range(0, 64), d ->
               CAST((((j.range * 64 + d) * 2654435761) % 4294967296)
                    % 2001 - 1000 AS DOUBLE)) AS w
      FROM range(16) j
    )
    SELECT e.vec_id, CAST(pl.dim AS BIGINT) AS dim,
           list_reduce(list_transform(range(1, 65),
             i -> CAST(e.embedding[i] AS DOUBLE) * pl.w[i]),
             (x, y) -> x + y) * (1.0 / sqrt(16.0)) AS component
    FROM embeddings e, pl
    ORDER BY vec_id, dim
    """,
)
def emb_random_projection(spark, sf_dir):
    """Johnson–Lindenstrauss 64→16 projection
    (``similarity.random_projection``) on the deterministic integer plane
    matrix (same Knuth mix as ``emb_lsh_near_dup_pairs``), so the oracle
    regenerates the planes and the sequential-fold dots bit-exactly.  The
    pre-ANN compression stage: 4× cheaper distance arithmetic downstream."""
    from opteryx_spark.suite.pipeline import _det_planes

    emb = t(spark, sf_dir, "embeddings")
    return similarity.random_projection(
        emb, out_dim=16, planes=_det_planes(4, 4, 64)
    ).orderBy("vec_id", "dim")


# --- portable HyperLogLog (value-verifiable sketch) -----------------------------


@register(
    "agg_hll_portable",
    oracle="""
    WITH h0 AS (
      SELECT CAST(o_custkey AS BIGINT) % 4294967296 AS h
      FROM orders WHERE o_custkey IS NOT NULL
    ), h1 AS (
      SELECT (xor(h >> 16, h) * 73244475) % 4294967296 AS h FROM h0
    ), h2 AS (
      SELECT (xor(h >> 16, h) * 73244475) % 4294967296 AS h FROM h1
    ), h AS (
      SELECT xor(h >> 16, h) AS h FROM h2
    ), br AS (
      SELECT h // 1048576 AS b, h % 1048576 AS w FROM h
    ), regs AS (
      SELECT b, MAX(CASE WHEN w = 0 THEN 21
                         ELSE 20 - length(bin(w)) + 1 END) AS mj
      FROM br GROUP BY b
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS present,
             CAST(SUM(CAST(POWER(2.0, 21 - mj) AS BIGINT)) AS BIGINT)
               AS sum_present
      FROM regs
    ), x AS (
      SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact FROM orders
    )
    SELECT CAST(4096 AS BIGINT) AS m,
           CAST(4096 - present AS BIGINT) AS n_zero_registers,
           CAST(sum_present + (4096 - present) * 2097152 AS BIGINT) AS sum_scaled,
           CAST(FLOOR((CASE
             WHEN ((0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0) * 4096.0
                    / (CAST(sum_present + (4096 - present) * 2097152 AS DOUBLE)
                       / 2097152.0) <= 10240.0
                  AND 4096 - present > 0
             THEN 4096.0 * LN(4096.0 / CAST(4096 - present AS DOUBLE))
             ELSE ((0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0) * 4096.0
                    / (CAST(sum_present + (4096 - present) * 2097152 AS DOUBLE)
                       / 2097152.0)
             END) * 1000.0 + 0.5) AS BIGINT) AS estimate_milli,
           exact
    FROM s, x
    """,
)
def agg_hll_portable(spark, sf_dir):
    """HyperLogLog with a portable hash, every stage value-verified
    (``operators/profile.py::hll_estimate_portable``): Knuth-mix 32-bit
    hash, top-12-bit buckets, ρ via binary length (no floats), EXACT
    scaled harmonic sum in BIGINT, millinat-floored estimate with the
    linear-counting branch.  The oracled counterpart of the rows-only
    ``agg_approx_sketches`` (whose xxhash internals no SQL can replay)."""
    from opteryx_spark.operators import profile

    orders = t(spark, sf_dir, "orders")
    return profile.hll_estimate_portable(orders, "o_custkey", p=12)


@register(
    "agg_quantile_histogram",
    oracle="""
    WITH b AS (
      SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS lo,
             CAST(MAX(l_extendedprice) AS DOUBLE) AS hi,
             CAST(COUNT(l_extendedprice) AS BIGINT) AS n
      FROM lineitem
    ), binned AS (
      SELECT LEAST(1023, CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - lo)
               * 1024.0 / (hi - lo)) AS BIGINT)) AS bin
      FROM lineitem, b WHERE l_extendedprice IS NOT NULL
    ), cnt AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS c FROM binned GROUP BY bin
    ), cum AS (
      SELECT bin, c, CAST(SUM(c) OVER (ORDER BY bin
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM cnt
    ), q(q) AS (VALUES (0.5), (0.95), (0.99))
    SELECT q,
           lo + (hi - lo) / 1024.0 * (CAST(bin AS DOUBLE)
             + (q * CAST(n AS DOUBLE) - CAST(cum - c AS DOUBLE))
               / CAST(c AS DOUBLE)) AS est
    FROM q, cum, b
    WHERE CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE)
      AND CAST(cum - c AS DOUBLE) < q * CAST(n AS DOUBLE)
    ORDER BY q
    """,
)
def agg_quantile_histogram(spark, sf_dir):
    """Deterministic mergeable quantile estimator
    (``operators/profile.py::quantile_histogram``): fixed-width bin
    counts (BIGINTs that add across partitions/streams) + in-bin linear
    interpolation — the value-verifiable counterpart of the KLL-based
    ``percentile_approx`` in ``agg_approx_sketches``."""
    from opteryx_spark.operators import profile

    li = t(spark, sf_dir, "lineitem")
    return profile.quantile_histogram(li, "l_extendedprice")


@register(
    "agg_hll_by_group",
    oracle="""
    WITH h0 AS (
      SELECT event_type, CAST(user_id AS BIGINT) % 4294967296 AS h, user_id
      FROM events WHERE user_id IS NOT NULL
    ), h1 AS (
      SELECT event_type, (xor(h >> 16, h) * 73244475) % 4294967296 AS h, user_id FROM h0
    ), h2 AS (
      SELECT event_type, (xor(h >> 16, h) * 73244475) % 4294967296 AS h, user_id FROM h1
    ), hh AS (
      SELECT event_type, xor(h >> 16, h) AS h, user_id FROM h2
    ), regs AS (
      SELECT event_type, h // 1048576 AS b,
             MAX(CASE WHEN h % 1048576 = 0 THEN 21
                      ELSE 20 - length(bin(h % 1048576)) + 1 END) AS mj
      FROM hh GROUP BY event_type, b
    ), s AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS present,
             CAST(SUM(CAST(POWER(2.0, 21 - mj) AS BIGINT)) AS BIGINT)
               AS sum_present
      FROM regs GROUP BY event_type
    ), x AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact
      FROM events WHERE user_id IS NOT NULL GROUP BY event_type
    )
    SELECT s.event_type,
           CAST(4096 - present AS BIGINT) AS n_zero_registers,
           CAST(sum_present + (4096 - present) * 2097152 AS BIGINT) AS sum_scaled,
           CAST(FLOOR((CASE
             WHEN ((0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0) * 4096.0
                    / (CAST(sum_present + (4096 - present) * 2097152 AS DOUBLE)
                       / 2097152.0) <= 10240.0
                  AND 4096 - present > 0
             THEN 4096.0 * LN(4096.0 / CAST(4096 - present AS DOUBLE))
             ELSE ((0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0) * 4096.0
                    / (CAST(sum_present + (4096 - present) * 2097152 AS DOUBLE)
                       / 2097152.0)
             END) * 1000.0 + 0.5) AS BIGINT) AS estimate_milli,
           exact
    FROM s LEFT JOIN x ON s.event_type IS NOT DISTINCT FROM x.event_type
    ORDER BY s.event_type
    """,
)
def agg_hll_by_group(spark, sf_dir):
    """Per-group portable HLL (``profile.hll_estimate_by_group``):
    distinct users per event type — the realistic sketch deployment
    (register tables keyed by group, mergeable across days), value-
    verified end to end like its global sibling."""
    from opteryx_spark.operators import profile

    ev = t(spark, sf_dir, "events")
    return profile.hll_estimate_by_group(ev, ["event_type"], "user_id")


# --- count-min sketch (frequency estimation) ------------------------------------

_CMS_TERMS = ["join", "query", "vector", "the", "zzz_absent"]
_O_CMS_PROBES = ", ".join(f"('{t}')" for t in sorted(set(_CMS_TERMS)))
_O_POLY31 = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(range(1, length({v})+1),"
    " i -> CAST(ascii({v}[i]) AS BIGINT))),"
    " (acc, c) -> (acc * 31 + c) % 2147483647)"
)


@register(
    "agg_cms_token_counts",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_O_TOKENS}) AS tk FROM documents
    ), hb AS (
      SELECT tk, {_O_POLY31.format(v='tk')} AS h0 FROM tok
    ), c0 AS (
      SELECT r.range AS d, (h0 + r.range * 2654435761) % 4294967296 AS h
      FROM hb, range(4) r
    ), c1 AS (
      SELECT d, (xor(h >> 16, h) * 73244475) % 4294967296 AS h FROM c0
    ), c2 AS (
      SELECT d, (xor(h >> 16, h) * 73244475) % 4294967296 AS h FROM c1
    ), cells AS (
      SELECT d, xor(h >> 16, h) % 8192 AS b FROM c2
    ), counters AS (
      SELECT d, b, CAST(COUNT(*) AS BIGINT) AS n FROM cells GROUP BY d, b
    ), probes(term) AS (VALUES {_O_CMS_PROBES}),
    p0 AS (
      SELECT term, {_O_POLY31.format(v='term')} AS h0 FROM probes
    ), q0 AS (
      SELECT term, r.range AS d, (h0 + r.range * 2654435761) % 4294967296 AS h
      FROM p0, range(4) r
    ), q1 AS (
      SELECT term, d, (xor(h >> 16, h) * 73244475) % 4294967296 AS h FROM q0
    ), q2 AS (
      SELECT term, d, (xor(h >> 16, h) * 73244475) % 4294967296 AS h FROM q1
    ), pcells AS (
      SELECT term, d, xor(h >> 16, h) % 8192 AS b FROM q2
    ), est AS (
      SELECT term, MIN(COALESCE(n, CAST(0 AS BIGINT))) AS est
      FROM pcells LEFT JOIN counters USING (d, b) GROUP BY term
    ), ex AS (
      SELECT tk AS term, CAST(COUNT(*) AS BIGINT) AS exact FROM tok
      WHERE tk IN (SELECT term FROM probes) GROUP BY tk
    )
    SELECT term, CAST(est AS BIGINT) AS est,
           CAST(COALESCE(exact, 0) AS BIGINT) AS exact
    FROM est LEFT JOIN ex USING (term) ORDER BY term
    """,
)
def agg_cms_token_counts(spark, sf_dir):
    """Count-min sketch frequency estimates
    (``operators/profile.py::cms_token_counts``): 4×8192 BIGINT counters
    (mergeable by addition), probe estimate = MIN over hash rows — the
    frequency member of the value-verified sketch family (HLL =
    cardinality, histogram = quantiles).  Includes an absent probe term
    (CMS never underestimates; est ≥ exact always)."""
    from opteryx_spark.operators import profile

    docs = t(spark, sf_dir, "documents")
    return profile.cms_token_counts(docs, "text", _CMS_TERMS)


# --- bloom prefilter (membership structure) -------------------------------------

_O_POLY31_K = "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(key)+1), i -> CAST(ascii(key[i]) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 2147483647)"
_O_NORM_KEY = "md5(trim(regexp_replace(lower(text), '[ \\t\\r\\n]+', ' ', 'g')))"


@register(
    "dedup_bloom_prefilter",
    oracle=f"""
    WITH key AS (
      SELECT doc_id,
             CASE WHEN text IS NOT NULL THEN {_O_NORM_KEY} END AS key
      FROM documents
    ), corpus AS (
      SELECT DISTINCT key FROM key WHERE doc_id < 250 AND key IS NOT NULL
    ), cp0 AS (
      SELECT ({_O_POLY31_K} + r.range * 2654435761) % 4294967296 AS h
      FROM corpus, range(5) r
    ), cp1 AS (
      SELECT (xor(h >> 16, h) * 73244475) % 4294967296 AS h FROM cp0
    ), cp2 AS (
      SELECT (xor(h >> 16, h) * 73244475) % 4294967296 AS h FROM cp1
    ), positions AS (
      SELECT DISTINCT xor(h >> 16, h) % 65536 AS pos FROM cp2
    ), newk AS (
      SELECT doc_id, key FROM key WHERE doc_id >= 250
    ), np0 AS (
      SELECT doc_id, ({_O_POLY31_K} + r.range * 2654435761) % 4294967296 AS h
      FROM newk, range(5) r WHERE key IS NOT NULL
    ), np1 AS (
      SELECT doc_id, (xor(h >> 16, h) * 73244475) % 4294967296 AS h FROM np0
    ), np2 AS (
      SELECT doc_id, (xor(h >> 16, h) * 73244475) % 4294967296 AS h FROM np1
    ), npf AS (
      SELECT doc_id, xor(h >> 16, h) % 65536 AS pos FROM np2
    ), hit AS (
      SELECT doc_id, CAST(COUNT(inb) AS BIGINT) = 5 AS bloom_hit
      FROM npf LEFT JOIN (SELECT pos, TRUE AS inb FROM positions) p USING (pos)
      GROUP BY doc_id
    )
    SELECT n.doc_id, COALESCE(h.bloom_hit, FALSE) AS bloom_hit,
           (c.key IS NOT NULL) AS exact_dup
    FROM newk n
    LEFT JOIN hit h USING (doc_id)
    LEFT JOIN corpus c ON c.key = n.key
    ORDER BY n.doc_id
    """,
)
def dedup_bloom_prefilter(spark, sf_dir):
    """Bloom-filter membership prefilter
    (``dedup.bloom_positions`` + ``bloom_prefilter``): corpus digests
    collapse to a distinct-position artifact (mergeable by UNION); each
    new doc's 5 positions are probed — a miss is DEFINITIVE (no false
    negatives), a hit gates the exact stage.  The scale form of the
    broadcast digest set every incremental/decontamination operator uses;
    ``exact_dup`` rides along so the driver verifies the no-false-negative
    guarantee row by row."""
    from opteryx_spark.operators import dedup as D
    from opteryx_spark.operators import text as T

    # r11 (guide §2.4): the (doc_id, key) frame feeds FOUR plan branches
    # (corpus keys -> positions, the exact-dup join, the new-doc side and
    # its bloom probe) and each branch re-ran the regexp_replace+md5 scan
    # of the full corpus.  Persist the 40-byte-per-row key frame once.
    docs = cache.persist(
        t(spark, sf_dir, "documents").select(
            "doc_id", F.md5(T.normalize_text("text")).alias("key")
        )
    )
    corpus_keys = (
        docs.filter((F.col("doc_id") < 250) & F.col("key").isNotNull())
        .select("key")
        .distinct()
    )
    positions = D.bloom_positions(corpus_keys, "key", m_bits=65536, k=5)
    newd = docs.filter(F.col("doc_id") >= 250)
    flagged = D.bloom_prefilter(newd, positions, "key", m_bits=65536, k=5)
    exact = corpus_keys.withColumn("_dup", F.lit(True))
    return (
        flagged.join(exact, "key", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce("_dup", F.lit(False)).alias("exact_dup"),
        )
        .orderBy("doc_id")
    )
