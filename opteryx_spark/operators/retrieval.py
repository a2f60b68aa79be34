"""Full-text retrieval scoring over the document corpus: BM25.

The reference engine exposes boolean full-text matching
(``MATCH (col) AGAINST (...)`` — /root/reference/opteryx/managers/expression/
formatter.py surface, mirrored by ``functions.match_against`` here) but no
RANKED retrieval.  A training-data pipeline needs ranking — "find the
documents most like this probe query" is the workhorse for targeted
decontamination audits, seed-document expansion, and eyeballing what a
filter kept.  BM25 (Robertson/Spärck Jones; the SQLite FTS5 / Lucene
default) is the standard lexical ranker.

Determinism strategy (same as ``filtering.unigram_perplexity``): the only
transcendental is the per-term IDF, quantized once to integer millinats
(``floor(idf·1000 + 0.5)``); per-document accumulation across query terms
is a fixed-point BIGINT sum (``suite/_util.fsum`` trick), so scores are
bit-identical in any engine whose ``ln`` agrees to ~1e-13.

Scale shape (100 TB): the exploded corpus is filtered to the query's terms
BEFORE any aggregation, so the postings frame carries only matching
(doc, term) rows; per-term document frequencies reduce that tiny frame; the
term-stats side of the final join is bounded by |query| rows and always
broadcast.  Document lengths are one map-side projection aggregated by id.
No corpus-sized shuffle carries anything wider than (id, term).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opteryx_spark import cache
from opteryx_spark.operators import text

__all__ = ["bm25_scores", "bm25_topk", "mmr_rerank"]

_FP = 10000.0  # fixed-point scale for the cross-term score sum


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document BM25 score for ``query_terms`` (whitespace tokens).

    Returns one row per document that matches ≥1 query term: ``id_col``,
    ``n_matched`` (BIGINT, distinct query terms present), ``bm25``
    (double; fixed-point sum of per-term partial scores).  Documents with
    NULL text or no matching terms are absent — the standard sparse
    postings contract.

    Per term t:  idf_millinats = floor(ln((N − df + 0.5)/(df + 0.5) + 1)·1000 + 0.5)
    partial(d,t) = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with N = |corpus| (all docs), dl = token count (NULL text → 0),
    avgdl = Σdl/N.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted(set(query_terms))

    toks = text.tokens(text_col)
    base = df.select(
        F.col(id_col).alias("_id"),
        F.coalesce(text._nsize(toks), F.lit(0)).cast("long").alias("_dl"),
        toks.alias("_toks"),
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("_N"), F.sum("_dl").alias("_sumdl")
    )

    # persisted: the query-filtered postings are tiny but feed TWO branches
    # (dfreq and the scoring join) — without the persist each branch
    # re-tokenizes the whole corpus (Catalyst does not reuse exchanges
    # across them; the minhash_lsh_pairs precedent).  Lifetime: the
    # caller's ``cache_scope()``.
    postings = cache.persist(
        base.select("_id", "_dl", F.explode("_toks").alias("_tk"))
        .filter(F.col("_tk").isin(terms))
        .groupBy("_id", "_dl", "_tk")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )

    dfreq = postings.groupBy("_tk").agg(F.count(F.lit(1)).alias("_df"))
    # |terms| rows — always broadcastable, independent of corpus size
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "_tk",
        F.floor(
            F.log(
                (F.col("_N").cast("double") - F.col("_df").cast("double") + F.lit(0.5))
                / (F.col("_df").cast("double") + F.lit(0.5))
                + F.lit(1.0)
            )
            * F.lit(1000.0)
            + F.lit(0.5)
        ).alias("_idf_milli"),
        (F.col("_sumdl").cast("double") / F.col("_N").cast("double")).alias("_avgdl"),
    )

    k1c, bc = F.lit(float(k1)), F.lit(float(b))
    tf = F.col("_tf").cast("double")
    norm = tf + k1c * (F.lit(1.0) - bc + bc * F.col("_dl").cast("double") / F.col("_avgdl"))
    partial = (F.col("_idf_milli").cast("double") / F.lit(1000.0)) * (
        tf * (k1c + F.lit(1.0)) / norm
    )

    return (
        postings.join(F.broadcast(idf), "_tk")
        .select("_id", F.floor(partial * F.lit(_FP) + F.lit(0.5)).alias("_p"))
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            (F.sum("_p") / F.lit(_FP)).alias("bm25"),
        )
        .withColumnRenamed("_id", id_col)
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents by BM25, deterministic tiebreak on the id."""
    scores = bm25_scores(df, query_terms, id_col=id_col, text_col=text_col, k1=k1, b=b)
    return scores.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(k)


def collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Corpus-level PMI collocation mining (Church & Hanks 1990): the
    word pairs that co-occur far more than chance — the standard tool for
    building phrase vocabularies (word2vec-style phrase joining) and for
    auditing boilerplate n-grams a filter should target.

    PMI(x, y) = ln( p(xy) / (p(x)·p(y)) ) with p(xy) = c_xy/T over
    adjacent-bigram occurrences and p(x) = c_x/U over token occurrences,
    quantized to integer millinats (the module's ln strategy).  Pairs
    below ``min_count`` occurrences are dropped (PMI's low-frequency
    pathology); top-``top_k`` by PMI with (w1, w2) tiebreak.

    Scale shape: two word-count aggregates (bigrams, unigrams) — the
    classic map-side-combine shape; the unigram table is vocabulary-sized,
    so AQE broadcasts both probability joins; totals ride along as
    1-row broadcast products.  Nothing corpus-sized shuffles after the
    counts.
    """
    toks = df.select(text.ngram_occurrences(text_col, 2).alias("_grams"))
    # both count tables are vocabulary-sized and feed 2-3 branches each
    # (totals + probability joins) — persisted so the corpus explodes run
    # once, not per branch; lifetime: the caller's ``cache_scope()``
    bic = cache.persist(
        toks.select(F.explode("_grams").alias("_s"))
        .groupBy("_s")
        .agg(F.count(F.lit(1)).alias("cxy"))
    )
    uni = cache.persist(
        df.select(F.explode(text.tokens(text_col)).alias("_tk"))
        .groupBy("_tk")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    tot_u = uni.agg(F.sum("_c").alias("_U"))
    tot_b = bic.agg(F.sum("cxy").alias("_T"))
    split = F.split(F.col("_s"), " ")
    j = bic.filter(F.col("cxy") >= int(min_count)).select(
        F.element_at(split, 1).alias("w1"),
        F.element_at(split, 2).alias("w2"),
        "cxy",
    )
    a = uni.select(F.col("_tk").alias("w1"), F.col("_c").alias("_cx"))
    b = uni.select(F.col("_tk").alias("w2"), F.col("_c").alias("_cy"))
    pmi = F.floor(
        F.log(
            (F.col("cxy").cast("double") / F.col("_T").cast("double"))
            / (
                (F.col("_cx").cast("double") / F.col("_U").cast("double"))
                * (F.col("_cy").cast("double") / F.col("_U").cast("double"))
            )
        )
        * F.lit(1000.0)
        + F.lit(0.5)
    ).alias("pmi_millinats")
    return (
        j.join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(tot_u))
        .crossJoin(F.broadcast(tot_b))
        .select("w1", "w2", "cxy", pmi)
        .orderBy(F.col("pmi_millinats").desc(), "w1", "w2")
        .limit(int(top_k))
    )


def postings_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Offline inverted-index artifact: one row per (term, document) —
    ``term``, ``id_col``, ``tf`` (BIGINT), ``dl`` (BIGINT doc length).

    The retrieval member of the persisted-artifact family
    (:func:`opteryx_spark.operators.dedup.minhash_index` for near-dup,
    ``window_digests`` for exact-substring): build once per corpus
    change, partition by ``term`` on write, and serve every query batch
    from it via :func:`bm25_search` without re-tokenizing the corpus.
    Documents with no tokens (including NULL text) have no postings and
    are invisible to index-based search — the sparse-index contract.
    """
    toks = text.tokens(text_col)
    # two-step select (r11, guide §1.2/§4): with dl and explode(toks) in
    # ONE select, the analyzer extracts the Generate and leaves the dl
    # token-count expression in a Project ABOVE it — re-tokenizing the
    # document once per POSTING row instead of once per document
    # (measured 3.0 s -> 0.3 s on the sf0.1 corpus).  Materializing the
    # token array as a named column first keeps dl below the Generate.
    return (
        df.select(
            F.col(id_col),
            F.coalesce(text._nsize(toks), F.lit(0)).cast("long").alias("dl"),
            toks.alias("_toks"),
        )
        .select(F.col(id_col), "dl", F.explode("_toks").alias("term"))
        .groupBy("term", id_col, "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("term", id_col, "tf", "dl")
    )


def index_stats(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """1-row ``(n_docs, sumdl)`` over the INDEXED documents (≥1 token) —
    the statistics :func:`bm25_search` needs, computed map-only from the
    raw corpus at index-build time.  Store alongside the postings
    artifact: deriving them from the index later costs a full postings
    aggregate per query batch.
    """
    toks = text.tokens(text_col)
    dl = F.coalesce(text._nsize(toks), F.lit(0)).cast("long")
    return (
        df.select(dl.alias("_dl"))
        .filter(F.col("_dl") > 0)
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("_dl").alias("sumdl"))
    )


def bm25_search(
    index: DataFrame,
    queries: list[tuple],
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Batch BM25 search over a :func:`postings_index`: every query in
    ``queries`` (``[(query_id, [terms...]), ...]``) retrieves its top-``k``
    documents in ONE pass over the index.

    Returns ``(query_id, rank, id_col, n_matched, bm25)`` — rank 1-based
    per query, ties broken by the document id.  Corpus statistics count
    INDEXED documents (≥1 token) — the sparse-index contract, unlike
    :func:`bm25_scores` whose N spans the raw corpus.  Pass the stored
    :func:`index_stats` frame as ``stats`` (identical values); deriving
    them from the index (the default) costs an extra full postings
    aggregate per batch.

    Scale shape: the query batch is bounded (a literal term list), so the
    term→idf table broadcasts; the only index-sized work is the term-keyed
    semi-filter of the postings (which partition pruning serves for free
    when the artifact is written partitioned by term) and the
    (query, doc)-keyed fixed-point reduce; per-query top-k is one bounded
    window.  Scoring arithmetic is identical to :func:`bm25_scores`.
    """
    if not queries:
        raise ValueError("queries must be non-empty")
    spark = index.sparkSession
    qrows = [
        (str(qid), term) for qid, terms in queries for term in sorted(set(terms))
    ]
    qterms = spark.createDataFrame(qrows, "query_id string, term string")

    if stats is not None:
        # the stored artifact (index_stats): skips a full postings pass
        stats = stats.select(F.col("n_docs").alias("_N"), F.col("sumdl").alias("_sumdl"))
    else:
        stats = (
            index.groupBy(id_col)
            .agg(F.first("dl").alias("_dl"))
            .agg(F.count(F.lit(1)).alias("_N"), F.sum("_dl").alias("_sumdl"))
        )

    # the index is filtered to the query's terms ONCE and persisted (tiny:
    # |matching postings|); dfreq and the scoring join both read the cache
    # instead of each re-scanning the full index.  Lifetime: the caller's
    # ``cache_scope()``.
    filtered = cache.persist(
        index.join(F.broadcast(qterms.select("term").distinct()), "term")
    )
    dfreq = filtered.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        F.floor(
            F.log(
                (F.col("_N").cast("double") - F.col("_df").cast("double") + F.lit(0.5))
                / (F.col("_df").cast("double") + F.lit(0.5))
                + F.lit(1.0)
            )
            * F.lit(1000.0)
            + F.lit(0.5)
        ).alias("_idf_milli"),
        (F.col("_sumdl").cast("double") / F.col("_N").cast("double")).alias("_avgdl"),
    )

    k1c, bc = F.lit(float(k1)), F.lit(float(b))
    tf = F.col("tf").cast("double")
    norm = tf + k1c * (F.lit(1.0) - bc + bc * F.col("dl").cast("double") / F.col("_avgdl"))
    partial = (F.col("_idf_milli").cast("double") / F.lit(1000.0)) * (
        tf * (k1c + F.lit(1.0)) / norm
    )

    from pyspark.sql import Window

    wq = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), F.col(id_col).asc())
    return (
        filtered.join(F.broadcast(qterms), "term")
        .join(F.broadcast(idf), "term")
        .select("query_id", id_col, F.floor(partial * F.lit(_FP) + F.lit(0.5)).alias("_p"))
        .groupBy("query_id", id_col)
        .agg(F.count(F.lit(1)).alias("n_matched"), (F.sum("_p") / F.lit(_FP)).alias("bm25"))
        .withColumn("rank", F.row_number().over(wq).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "rank", id_col, "n_matched", "bm25")
        .orderBy("query_id", "rank")
    )


def rrf_fuse(
    ranked: list[tuple[DataFrame, str, str]],
    id_col: str = "doc_id",
    k: int = 10,
    rrf_k: int = 60,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) — the
    standard hybrid-search combiner: each input system contributes
    ``scale div (rrf_k + rank)`` per document and the fused score is the
    BIGINT sum, so ranking quality from incomparable scorers (BM25
    floats, cosine floats, recency...) combines without calibration.
    Modern RAG retrieval stacks ship exactly this (lexical + vector →
    RRF); beyond-reference surface.

    ``ranked``: one ``(df, score_col, id_tiebreak_direction)`` triple per
    system, where each ``df`` is that system's candidate list (top-k,
    already truncated) and ranks are assigned here as
    ``row_number() OVER (ORDER BY score_col DESC, id_col ASC)`` — the
    deterministic tiebreak every suite top-k uses.  The third element is
    reserved ("asc" today).

    Fixed-point contributions make the fused score order-independent and
    bit-reproducible; ties in the fused ranking break on ``id_col``.

    Scale shape: candidate lists are top-k-bounded (hundreds of rows), so
    the per-system rank window and the final fuse run on frames that are
    *outputs of* corpus-scale retrieval, never the corpus itself — a
    single-partition window over ≤ Σk rows is the right plan.  Returns
    ``id_col``, ``rrf_score`` (BIGINT), ``n_systems``.
    """
    if not ranked:
        raise ValueError("ranked must be non-empty")
    from pyspark.sql import Window

    contribs = []
    for df, score_col, _direction in ranked:
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        contribs.append(
            df.select(id_col, F.row_number().over(w).alias("_r")).select(
                id_col,
                F.expr(f"CAST({scale} AS BIGINT) div ({rrf_k} + _r)").alias("_c"),
            )
        )
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)
    return (
        allc.groupBy(id_col)
        .agg(
            F.sum("_c").alias("rrf_score"),
            F.count(F.lit(1)).alias("n_systems"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def mmr_rerank(
    df: "DataFrame",
    query_vec: list[float],
    k: int = 5,
    candidates: int = 15,
    lambda_pct: int = 70,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qscale: int = 1000,
) -> "DataFrame":
    """Maximal Marginal Relevance re-ranking, bit-reproducible: pick
    ``k`` results that balance query relevance against redundancy with
    what is already selected — the diversity re-ranker RAG stacks run
    after dense retrieval (Carbonell & Goldstein 1998).

    All scores are integer: vectors quantize to ``floor(v·qscale)``
    (the same milli-unit contract as ``similarity.kmeans_portable``),
    relevance is the BIGINT dot with the quantized query, and the MMR
    objective is ``lambda_pct·rel − (100−lambda_pct)·max_sim_to_selected``
    — no floats, so selection order is identical on any partitioning and
    in any engine.  Ties break toward the smaller id.  Stage 1 takes the
    top-``candidates`` by ``(rel desc, id)`` (bounded, deterministic);
    stage 2 greedily selects ``k``.

    Scale shape: relevance is a map-only fold over the corpus; the
    candidate cut is a bounded top-k sort (``TakeOrderedAndProject``),
    so the ONLY driver-side materialization is that ≤ ``candidates``-row
    frame, collected ONCE.  The greedy stage is pure integer arithmetic
    over that bounded set — O(k·candidates·dim) on the driver, no Spark
    jobs — because MMR's sequential pick-by-pick dependency makes k
    round-trips through the scheduler pure overhead when the candidate
    set already fits in one hand (BENCH r10: the per-pick ``.first()``
    formulation cost 17 s at sf0.1; this one costs one top-k job).

    Returns ``rank`` (1-based pick order), ``id_col``, ``rel`` and
    ``mmr_score`` (BIGINT, in quantized-dot units).
    """
    if k < 1 or candidates < k:
        raise ValueError("need candidates >= k >= 1")
    if not (0 <= lambda_pct <= 100):
        raise ValueError("lambda_pct in [0, 100]")
    qq = [int(__import__("math").floor(float(x) * qscale)) for x in query_vec]
    qv = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * F.lit(float(qscale)))
    )

    cand = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), qv.alias("_qv"))
        .withColumn("_rel", _const_dot(F.col("_qv"), qq))
        .orderBy(F.col("_rel").desc(), F.col("_id").asc())
        .limit(int(candidates))
    )
    # ONE job: the candidate frame is bounded by `candidates` and already
    # integer-quantized, so the greedy stage needs no cluster.
    pool = [(r["_id"], int(r["_rel"]), [int(x) for x in r["_qv"]]) for r in cand.collect()]
    picked = _mmr_greedy(pool, int(lambda_pct), int(k))
    spark = df.sparkSession
    rows = [
        (rank + 1, pid, rel, score)
        for rank, (pid, rel, score) in enumerate(picked)
    ]
    out = spark.createDataFrame(
        rows, f"rank long, {id_col} long, rel long, mmr_score long"
    )
    return out


def _const_dot(vec_expr, const_ints):
    """BIGINT dot product of an array column with a constant int vector."""
    return F.aggregate(
        F.zip_with(
            vec_expr,
            F.array(*[F.lit(int(c)).cast("long") for c in const_ints]),
            lambda a, b: a * b,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _mmr_greedy(
    pool: list[tuple], lambda_pct: int, k: int
) -> list[tuple]:
    """Exact integer MMR selection over a collected candidate pool.

    ``pool``: (id, rel, quantized-vec) triples.  Pick order maximizes
    ``lambda_pct·rel − (100−lambda_pct)·max_dot_to_selected`` with ties
    toward the smaller id — identical, pick for pick, to the pre-r11
    per-pick Spark-job formulation (``_mmr_select_spark_loop``; the
    equivalence is pinned by ``tests/test_mmr_equivalence.py``).
    Returns (id, rel, mmr_score) triples in pick order.
    """
    lam, mu = int(lambda_pct), 100 - int(lambda_pct)
    remaining = list(pool)
    # max dot-to-selected so far, per remaining candidate (incrementally
    # maintained: one new-pick pass per round, O(candidates·dim)).  No
    # floor at 0: before anything is selected the penalty term is 0, but
    # afterwards it is the TRUE max dot, which can be negative — matching
    # the Spark-loop formulation's F.greatest over actual dots.
    max_sim: dict = {pid: None for pid, _r, _v in remaining}
    picked: list[tuple] = []
    for _ in range(int(k)):
        if not remaining:
            break

        def _score(c):
            ms = max_sim[c[0]]
            return lam * c[1] - mu * (0 if ms is None else ms)

        best = min(remaining, key=lambda c: (-_score(c), c[0]))
        pid, rel, pvec = best
        picked.append((pid, rel, _score(best)))
        remaining = [c for c in remaining if c[0] != pid]
        for cid, _r, cvec in remaining:
            d = sum(a * b for a, b in zip(cvec, pvec))
            if max_sim[cid] is None or d > max_sim[cid]:
                max_sim[cid] = d
    return picked


def _mmr_select_spark_loop(cand: "DataFrame", lambda_pct: int, k: int) -> list[tuple]:
    """Pre-r11 greedy stage: one Spark job per pick over the candidate
    frame.  Retained ONLY as the equivalence witness for ``_mmr_greedy``
    (BENCH r10 flagged the k sequential ``.first()`` jobs at 17 s/sf0.1);
    not called by ``mmr_rerank``.  Returns (id, rel, mmr_score) triples."""
    lam, mu = int(lambda_pct), 100 - int(lambda_pct)

    def dot(vec_expr, const_ints):
        return _const_dot(vec_expr, const_ints)

    picked: list[tuple] = []  # (id, rel, score, qv list)
    for _ in range(int(k)):
        remaining = cand
        for pid, _r, _s, _pqv in picked:
            remaining = remaining.filter(F.col("_id") != F.lit(pid))
        if picked:
            sims = [dot(F.col("_qv"), pqv) for _, _, _, pqv in picked]
            max_sim = F.greatest(*sims) if len(sims) > 1 else sims[0]
        else:
            max_sim = F.lit(0).cast("long")
        scored = remaining.withColumn(
            "_score", F.lit(lam) * F.col("_rel") - F.lit(mu) * max_sim
        )
        best = scored.select(
            F.min(
                F.struct(
                    (-F.col("_score")).alias("ns"),
                    F.col("_id").alias("i"),
                    F.col("_rel").alias("r"),
                    F.col("_qv").alias("q"),
                )
            ).alias("b")
        ).first()["b"]
        if best is None:
            break
        picked.append((best["i"], best["r"], -best["ns"], [int(x) for x in best["q"]]))
    return [(pid, rel, score) for pid, rel, score, _q in picked]


def rank_metrics(
    results: DataFrame,
    qrels: DataFrame,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    k: int = 10,
) -> DataFrame:
    """Ranked-retrieval evaluation: per-query MRR and nDCG@k — the
    metrics a retrieval stack (BM25 / ANN / hybrid RRF, all implemented
    in this module and ``operators/similarity.py``) is tuned against.

    ``results`` holds ranked lists (one row per (query, doc) with a
    1-based ``rank_col``); ``qrels`` holds graded relevance (BIGINT
    ``rel_col`` ≥ 0; missing pairs are irrelevant).  Determinism: the
    discount weights 1/log2(rank+1) are PYTHON-quantized ppm constants
    (identical literals in any engine — no runtime log), so every
    metric is integer arithmetic end to end:

    - ``rr_ppm``      = 1e6 div (first rank with rel > 0); 0 if no hit
    - ``dcg_micro``   = Σ_{rank ≤ k} rel · w_ppm[rank]
    - ``idcg_micro``  = the same sum over the query's relevant docs
      sorted rel DESC (doc id tiebreak), top k — the ideal ordering
    - ``ndcg_ppm``    = dcg_micro·1e6 div idcg_micro; 0 when idcg = 0

    Scale shape: one equi join on (query, doc), one query-partitioned
    window for the ideal ordering, two key-partitioned aggregates — no
    global window, no collect; macro-average by summing the ppm columns
    over queries downstream (exact).

    Returns one row per query in ``results``: query col + ``n_retrieved``,
    ``n_relevant``, ``rr_ppm``, ``dcg_micro``, ``idcg_micro``,
    ``ndcg_ppm`` (all BIGINT).
    """
    import math

    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    w_ppm = {r: int(math.floor(1_000_000 / math.log2(r + 1) + 0.5)) for r in range(1, k + 1)}

    # qrels may carry duplicate (query, doc) judgments (multi-assessor
    # dumps); a duplicate would fan out the left join and inflate
    # n_retrieved / dcg / rr silently (ADVICE r7).  Collapse to the MAX
    # grade per pair — the standard union-of-assessors convention — so
    # one result row matches exactly one judgment.
    qrels = qrels.groupBy(query_col, doc_col).agg(
        F.max(F.col(rel_col).cast("bigint")).alias(rel_col)
    )

    hits = results.join(
        qrels.select(
            F.col(query_col), F.col(doc_col), F.col(rel_col).cast("bigint").alias("_rel")
        ),
        [query_col, doc_col],
        "left",
    ).select(
        F.col(query_col),
        F.col(rank_col).cast("bigint").alias("_rank"),
        F.coalesce(F.col("_rel"), F.lit(0)).alias("_rel"),
    )
    per_q = hits.groupBy(query_col).agg(
        F.count(F.lit(1)).alias("n_retrieved"),
        F.min(F.when(F.col("_rel") > 0, F.col("_rank"))).alias("_first_hit"),
        F.sum(
            F.when(
                (F.col("_rank") <= k) & (F.col("_rel") > 0),
                F.col("_rel") * F.element_at(
                    F.array(*[F.lit(w_ppm[r]).cast("bigint") for r in range(1, k + 1)]),
                    F.col("_rank").cast("int"),
                ),
            ).otherwise(F.lit(0))
        ).alias("dcg_micro"),
    )

    w_ideal = Window.partitionBy(query_col).orderBy(
        F.col(rel_col).cast("bigint").desc(), F.col(doc_col)
    )
    ideal = (
        qrels.filter(F.col(rel_col) > 0)
        .select(
            F.col(query_col),
            F.col(rel_col).cast("bigint").alias("_rel"),
            F.row_number().over(w_ideal).cast("bigint").alias("_irank"),
        )
        .groupBy(query_col)
        .agg(
            F.count(F.lit(1)).alias("n_relevant"),
            F.sum(
                F.when(
                    F.col("_irank") <= k,
                    F.col("_rel") * F.element_at(
                        F.array(*[F.lit(w_ppm[r]).cast("bigint") for r in range(1, k + 1)]),
                        F.col("_irank").cast("int"),
                    ),
                ).otherwise(F.lit(0))
            ).alias("idcg_micro"),
        )
    )

    out = per_q.join(ideal, [query_col], "left")
    return out.select(
        F.col(query_col),
        "n_retrieved",
        F.coalesce(F.col("n_relevant"), F.lit(0)).cast("bigint").alias("n_relevant"),
        F.coalesce(
            F.when(F.col("_first_hit").isNotNull(), F.expr("1000000 div _first_hit")),
            F.lit(0),
        ).cast("bigint").alias("rr_ppm"),
        F.col("dcg_micro").cast("bigint").alias("dcg_micro"),
        F.coalesce(F.col("idcg_micro"), F.lit(0)).cast("bigint").alias("idcg_micro"),
        F.coalesce(
            F.when(
                F.coalesce(F.col("idcg_micro"), F.lit(0)) > 0,
                F.expr("(dcg_micro * 1000000) div idcg_micro"),
            ),
            F.lit(0),
        ).cast("bigint").alias("ndcg_ppm"),
    )


def best_snippets(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 20,
) -> DataFrame:
    """Best-snippet (KWIC) extraction: for each document matching ≥1
    query term, the ``window_tokens``-token window containing the MOST
    query-term occurrences — the result-page companion to
    :func:`bm25_topk` (rank with BM25, display with this).

    An optimal window can always be anchored at a match, so only match
    positions are candidates: per candidate start p, the score is the
    count of match positions in ``[p, p+window_tokens−1]`` — one RANGE
    window over match positions (partitioned by doc, ordered by
    position; matches per doc ≪ tokens per doc).  The winner is the
    highest count with the EARLIEST start as tiebreak, picked by a
    ``min(struct)`` keeper — no rank window.  Tokenization is the
    package-standard literal-space split (``text.tokens``; normalize
    first), so the snippet text reconstructs by slicing the token
    array.

    Scale shape: one posexplode (filtered to matches immediately), one
    doc-partitioned RANGE window over the (small) match set, one keeper
    aggregate, one id-keyed join back for the slice — no global window,
    no collect.

    Returns ``id_col``, ``snippet_start`` (1-based token index,
    BIGINT), ``n_matched`` (matches inside the window, BIGINT),
    ``snippet`` (STRING).  Documents with no match are absent.
    """
    from opteryx_spark.operators import text as _textops
    from pyspark.sql.window import Window

    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if window_tokens < 1:
        raise ValueError("window_tokens must be >= 1")
    terms = sorted(set(query_terms))

    toks = _textops.tokens(text_col)
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("_toks")
    )
    matches = base.select(
        id_col, F.posexplode(F.col("_toks")).alias("_p0", "_tk")
    ).filter(F.col("_tk").isin(terms)).select(
        id_col, (F.col("_p0") + 1).cast("bigint").alias("_p")
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("_p")
        .rangeBetween(0, int(window_tokens) - 1)
    )
    scored = matches.select(
        id_col, "_p", F.count(F.lit(1)).over(w).cast("bigint").alias("_n")
    )
    keeper = scored.groupBy(id_col).agg(
        F.min(F.struct((-F.col("_n")).alias("_neg"), F.col("_p"))).alias("_k")
    )
    best = keeper.select(
        id_col,
        F.col("_k._p").alias("snippet_start"),
        (-F.col("_k._neg")).alias("n_matched"),
    )
    return best.join(base, [id_col]).select(
        id_col,
        "snippet_start",
        "n_matched",
        F.array_join(
            F.slice(F.col("_toks"), F.col("snippet_start").cast("int"), window_tokens),
            " ",
        ).alias("snippet"),
    )
