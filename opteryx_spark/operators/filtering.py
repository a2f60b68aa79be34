"""Corpus filtering operators for training-data curation.

Beyond dedup (``operators/dedup.py``): benchmark decontamination,
Gopher-style quality gates with repetition metrics, and deterministic
stratified quota sampling.  Everything is DataFrame-declarative —
decontamination is one semi-join against the benchmark n-gram set,
quality gates are per-row expressions (shuffle-free), quota sampling is
a per-group window (no global sort).

Reference parity note: the reference engine has no curation operators —
these follow the published recipes (Gopher, Rae et al. 2021 appendix A;
C4, Raffel et al. 2020 §2.2; GPT-3 decontamination, Brown et al. 2020
appendix C) re-expressed as Spark plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opteryx_spark import cache
from opteryx_spark.operators import text


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Flag corpus documents sharing word ``k``-grams with a benchmark set.

    The GPT-3-style decontamination pass: any training document that
    contains ``min_overlap`` or more distinct k-grams also present in the
    evaluation/benchmark corpus is flagged (callers drop or audit them).

    Returns the corpus with ``n_contaminated_ngrams`` (distinct shared
    k-grams) and ``contaminated`` appended.

    Scale: the benchmark n-gram set is tiny relative to a training corpus
    (benchmarks are MBs, corpora are TBs), so AQE broadcasts the
    membership join from its runtime size.  The corpus side is one
    explode + hash-aggregate keyed by ``id_col``; no all-pairs anywhere.
    At extreme benchmark sizes the same shape runs as a shuffled
    left-semi join unchanged.
    """
    bench_grams = benchmark.select(
        F.explode(text.shingles(text_col, k)).alias("gram")
    ).distinct()

    doc_grams = corpus.select(
        F.col(id_col).alias("_cid"), F.explode(text.shingles(text_col, k)).alias("gram")
    )
    hits = (
        doc_grams.join(bench_grams, "gram")
        .groupBy("_cid")
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )
    return (
        corpus.join(hits, corpus[id_col] == hits["_cid"], "left")
        .drop("_cid")
        .withColumn(
            "n_contaminated_ngrams",
            F.coalesce(F.col("n_contaminated_ngrams"), F.lit(0)).cast("long"),
        )
        .withColumn("contaminated", F.col("n_contaminated_ngrams") >= min_overlap)
    )


# Gopher-flavoured gate thresholds, tuned for the synthetic corpus scale
# (real deployments override per-corpus; Rae et al. 2021 table A1 uses
# 50..100k words, mean word length 3..10, dup-2gram fraction <= 0.2).
GOPHER_DEFAULTS = {
    "min_words": 5,
    "max_words": 100_000,
    "min_mean_word_len": 2.0,
    "max_mean_word_len": 12.0,
    "min_alpha_word_frac": 0.8,
    "min_stop_hits": 2,
    "max_dup_2gram_frac": 0.6,
    "max_top_2gram_frac": 0.18,
}


def quota_order(id_col: str) -> list[Column]:
    """The canonical deterministic quota ordering — md5 of the id, then
    the id.  ONE definition shared by :func:`quota_sample` and
    ``curate.curate_corpus_v2`` (and mirrored by their oracles), so the
    reproducibility contract cannot silently fork."""
    return [F.md5(F.col(id_col).cast("string")), F.col(id_col)]


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    thresholds: dict | None = None,
    stopword_langs: list[str] | None = None,
) -> DataFrame:
    """Gopher-style document quality gates (Rae et al. 2021, appendix A).

    Appends the rule metrics and a ``passes_gopher`` verdict:
    word-count band, mean-word-length band, alphabetic-word fraction,
    stopword evidence (``stopword_langs`` — default English per the
    paper; pass every corpus language on multilingual data or the gate
    empties the non-English strata), and the two repetition signals
    (fraction of characters in duplicated / in the single most repeated
    word 2-gram).  Docs too short to have 2-grams pass the repetition
    gates vacuously (never a NULL verdict).

    Every metric is integer arithmetic divided at the end, so a SQL
    oracle reproduces the values bit-for-bit.  Pure per-row expressions:
    the stage is map-only at any corpus size (the repetition metrics are
    higher-order array functions, not a shuffle).

    The token array and the repetition struct are bound to named columns
    in a lower projection first: sibling Project expressions do not share
    subexpressions, so the old single-select form re-ran the tokenize for
    each of the four token metrics and the whole ngram+sort+fold for each
    of the three extracted repetition fields.  CollapseProject keeps a
    multi-referenced non-cheap alias in its own Project, so each is now
    evaluated exactly once per row.
    """
    th = {**GOPHER_DEFAULTS, **(thresholds or {})}
    tks = F.col("_gq_tks")
    # text._nsize: non-ANSI size(NULL) is -1 — NULL text must yield NULL
    # counts (and a False verdict via the outer coalesce), never -1
    n_words = text._nsize(tks).cast("long")
    char_sum = F.aggregate(tks, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    mean_word_len = char_sum.cast("double") / n_words.cast("double")
    n_alpha = text._nsize(F.filter(tks, lambda x: x.rlike("[A-Za-z]"))).cast("long")
    alpha_word_frac = n_alpha.cast("double") / n_words.cast("double")
    langs = stopword_langs or ["en"]
    stop_words = sorted({w for lang in langs for w in text.STOPWORDS[lang]})
    stops = F.array(*[F.lit(w) for w in stop_words])
    stop_hits = text._nsize(F.filter(tks, lambda x: F.array_contains(stops, x))).cast("long")
    rep = F.col("_gq_rep")

    out = (
        df.select(
            "*",
            text.tokens(text_col).alias("_gq_tks"),
            text.repetition_metrics(text_col, k=2).alias("_gq_rep"),
        )
        .select(
            "*",
            n_words.alias("n_words"),
            mean_word_len.alias("mean_word_len"),
            alpha_word_frac.alias("alpha_word_frac"),
            stop_hits.alias("stop_hits"),
            rep["dup_chars"].alias("dup_2gram_chars"),
            rep["top_chars"].alias("top_2gram_chars"),
            rep["total_chars"].alias("total_2gram_chars"),
        )
        .drop("_gq_tks", "_gq_rep")
    )
    dup_frac = F.col("dup_2gram_chars").cast("double") / F.col("total_2gram_chars").cast("double")
    top_frac = F.col("top_2gram_chars").cast("double") / F.col("total_2gram_chars").cast("double")
    return out.select(
        "*",
        dup_frac.alias("dup_2gram_frac"),
        top_frac.alias("top_2gram_frac"),
        # outer coalesce: a NULL text (every metric NULL) FAILS the gate
        # rather than producing a tri-state verdict that vanishes from
        # both sides of a boolean filter
        F.coalesce(
            (F.col("n_words") >= th["min_words"])
            & (F.col("n_words") <= th["max_words"])
            & (F.col("mean_word_len") >= th["min_mean_word_len"])
            & (F.col("mean_word_len") <= th["max_mean_word_len"])
            & (F.col("alpha_word_frac") >= th["min_alpha_word_frac"])
            & (F.col("stop_hits") >= th["min_stop_hits"])
            & F.coalesce(dup_frac <= th["max_dup_2gram_frac"], F.lit(True))
            & F.coalesce(top_frac <= th["max_top_2gram_frac"], F.lit(True)),
            F.lit(False),
        ).alias("passes_gopher"),
    )


def quota_sample(
    df: DataFrame,
    group_cols: list[str],
    n_per_group: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified cap: keep at most ``n_per_group`` rows per
    group, selected by md5 of the id (a reproducible uniform draw — the
    same rows survive on any cluster, any partitioning, any run).

    The plan is a window partitioned by the group key — rows only shuffle
    to co-locate their group, never globally sort.  Skewed groups are the
    window's partition, so a hot group concentrates on one task; at 100 TB
    with truly massive groups, pre-filter with a per-partition local top-N
    (the window itself stays correct because the md5 order is total).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(*quota_order(id_col))
    return (
        df.withColumn("_qr", F.row_number().over(w))
        .filter(F.col("_qr") <= n_per_group)
        .drop("_qr")
    )


def unigram_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    max_avg_nll_millinats: int = 8000,
    model: DataFrame | None = None,
    broadcast_costs: bool | None = None,
) -> DataFrame:
    """KenLM-style perplexity gate, reduced to a unigram LM with additive
    smoothing so every number is engine-reproducible.

    Per token, ``p = (tf + alpha) / (N + alpha·V)`` over the model corpus
    (``model``: a (token, tf) frame — e.g. from a trusted reference
    corpus; default trains on ``df`` itself).  The per-token cost is
    quantized to integer **millinats**, ``floor(-ln(p)·1000 + 0.5)``, so
    per-document totals are exact BIGINT sums — order-independent and
    identical in any engine whose ``ln`` agrees to ~1e-13 (all libm-grade
    implementations; the fixed-point determinism strategy the oracle gate
    needs, same trick as ``suite/_util.fsum``).  Appends ``n_tokens``,
    ``nll_millinats``, ``avg_nll_millinats`` (double), and
    ``passes_perplexity`` (avg ≤ ``max_avg_nll_millinats``; docs with no
    tokens fail, like every NULL-text gate in this module).

    Scale shape: token frequencies are one word-count aggregate; the
    per-token cost table is vocabulary-sized (≪ corpus for natural text)
    and joined onto the exploded corpus; the per-doc reduce is keyed by
    id.  Two bounded shuffles, no driver collect, no per-row Python.

    ``broadcast_costs``: True forces a broadcast hint on the cost table;
    None (default) lets Catalyst/AQE size-gate the join — the only safe
    default on web-scale corpora, where the distinct-token set (URLs,
    typos, hex blobs) is effectively unbounded and a forced hint can run
    the JVM out of memory.
    """
    toks = df.select(F.col(id_col).alias("_pid"), F.explode(text.tokens(text_col)).alias("_tok"))
    if model is None:
        model = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_tf"))
    else:
        model = model.select(F.col("token").alias("_tok"), F.col("tf").alias("_tf"))
    totals = model.agg(
        F.sum("_tf").alias("_N"), F.count(F.lit(1)).alias("_V")
    )
    a = F.lit(float(alpha))
    p = (F.col("_tf").cast("double") + a) / (
        F.col("_N").cast("double") + (a * F.col("_V").cast("double"))
    )
    costs = model.crossJoin(F.broadcast(totals)).select(
        "_tok",
        F.floor((-F.log(p)) * F.lit(1000.0) + F.lit(0.5)).alias("_nll"),
    )
    # unknown tokens (external model) cost the unseen-mass rate alpha/(N+aV)
    unk = (
        totals.select(
            F.floor(
                (-F.log(
                    a / (F.col("_N").cast("double") + (a * F.col("_V").cast("double")))
                ))
                * F.lit(1000.0)
                + F.lit(0.5)
            ).alias("_unk_nll")
        )
    )
    doc = (
        toks.join(F.broadcast(costs) if broadcast_costs else costs, "_tok", "left")
        .crossJoin(F.broadcast(unk))
        .select("_pid", F.coalesce(F.col("_nll"), F.col("_unk_nll")).alias("_nll"))
        .groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("_nll").alias("nll_millinats"))
    )
    out = (
        df.join(doc, df[id_col] == doc["_pid"], "left")
        .drop("_pid")
        .withColumn("n_tokens", F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")))
        .withColumn("nll_millinats", F.coalesce(F.col("nll_millinats"), F.lit(0).cast("long")))
        .withColumn(
            "avg_nll_millinats",
            F.when(
                F.col("n_tokens") > 0,
                F.col("nll_millinats").cast("double") / F.col("n_tokens").cast("double"),
            ),
        )
        .withColumn(
            "passes_perplexity",
            F.coalesce(
                F.col("avg_nll_millinats") <= F.lit(float(max_avg_nll_millinats)),
                F.lit(False),
            ),
        )
    )
    return out


def token_budget_sample(
    df: DataFrame,
    group_cols: list[str],
    budget_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Mixture construction by token budget: per stratum, keep documents
    in the canonical md5-of-id order while the running token total stays
    within ``budget_tokens`` (the Pile/DoReMi-style recipe — training
    mixtures are weighted in TOKENS, not documents, so a per-doc quota
    over-samples strata with short documents).

    Appends ``n_tokens``, ``tokens_before`` (stratum running total before
    this doc) and ``in_budget`` (this doc fits: before + own ≤ budget).
    Deterministic on any cluster/partitioning (total md5+id order).  One
    per-stratum window — same bounded-shuffle shape as ``quota_sample``.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy(*quota_order(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n = F.size(text.tokens(text_col)).cast("long")
    return (
        df.withColumn("n_tokens", F.when(F.col(text_col).isNotNull(), n).otherwise(F.lit(0)))
        .withColumn("tokens_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn(
            "in_budget",
            (F.col("tokens_before") + F.col("n_tokens")) <= F.lit(int(budget_tokens)),
        )
    )


def hot_ngrams(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    max_df: int = 10,
) -> DataFrame:
    """Corpus-hot word ``k``-grams (one ``gram`` column): distinct
    per-doc shingles occurring in more than ``max_df`` documents — the
    static set :func:`boilerplate_ngram_fraction` joins against, exposed
    so the streaming featurizer can precompute it offline (corpus-hotness
    is a global statistic a stream cannot learn online)."""
    return (
        df.select(F.explode(text.shingles(text_col, k)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("gram")
    )


def boilerplate_ngram_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_df: int = 10,
) -> DataFrame:
    """Cross-document repetition signal (the scalable cousin of exact
    substring dedup, Lee et al. 2021): the fraction of a document's
    distinct word ``k``-grams that are CORPUS-HOT — appearing in more than
    ``max_df`` distinct documents.  High fractions flag boilerplate
    (navigation chrome, templated pages, license headers) that per-doc
    repetition metrics cannot see.

    Appends ``n_grams`` (distinct k-grams), ``n_hot_grams`` and
    ``boilerplate_frac`` (int/int double; 0-gram docs → NULL frac).
    Shape: one explode + document-frequency aggregate (word-count shape),
    hot set joined back onto the exploded grams — the hot-gram table is
    tiny by construction (only grams above ``max_df``), so the join
    broadcasts; per-doc reduce is keyed by id.  No all-pairs anywhere.

    The exploded ``(_bid, _gram)`` frame is persisted (``cache.persist``,
    released with the caller's scope) and feeds BOTH the hot-set
    document-frequency aggregate and the per-doc join: the old form ran
    the shingle derivation (tokenize + k-gram transform + distinct) over
    the corpus twice — once here and once inside :func:`hot_ngrams`.
    Shingles are distinct per doc by construction, so ``count(*)`` per
    gram over this frame IS the document frequency ``hot_ngrams``
    computes (the winnow/containment persist precedent).
    """
    grams = cache.persist(
        df.select(
            F.col(id_col).alias("_bid"),
            F.explode(text.shingles(text_col, k)).alias("_gram"),
        )
    )
    hot = (
        grams.groupBy("_gram")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("_gram")
        .withColumn("_hot", F.lit(True))
    )
    per_doc = (
        grams.join(F.broadcast(hot), "_gram", "left")
        .groupBy("_bid")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.col("_hot")).alias("n_hot_grams"),
        )
    )
    return (
        df.join(per_doc, df[id_col] == per_doc["_bid"], "left")
        .drop("_bid")
        .withColumn("n_grams", F.coalesce(F.col("n_grams"), F.lit(0).cast("long")))
        .withColumn("n_hot_grams", F.coalesce(F.col("n_hot_grams"), F.lit(0).cast("long")))
        .withColumn(
            "boilerplate_frac",
            F.when(
                F.col("n_grams") > 0,
                F.col("n_hot_grams").cast("double") / F.col("n_grams").cast("double"),
            ),
        )
    )


def hot_line_digests(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_freq: int = 2,
) -> DataFrame:
    """md5 digests (column ``_dg``) of trimmed non-empty lines occurring
    in at least ``min_doc_freq`` distinct documents — the corpus-global
    hot set :func:`remove_boilerplate_lines` joins against, exposed
    separately so the streaming twin
    (``streaming.remove_boilerplate_lines_stream``) can precompute it
    from a reference corpus: line frequency is a corpus statistic a
    stream cannot learn online."""
    return (
        df.select(
            F.col(id_col).alias("_lid"),
            F.explode(F.split(F.col(text_col), "\n")).alias("_raw"),
        )
        .select("_lid", F.trim(F.col("_raw")).alias("_line"))
        .filter(F.col("_line") != "")
        .groupBy(F.md5(F.col("_line")).alias("_dg"))
        .agg(F.count_distinct("_lid").alias("_ldf"))
        .filter(F.col("_ldf") >= min_doc_freq)
        .select("_dg")
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_freq: int = 2,
) -> DataFrame:
    """C4's line-frequency boilerplate pass (Raffel et al. 2020 §2.2;
    also CCNet/RefinedWeb): drop every LINE that occurs in at least
    ``min_doc_freq`` distinct documents — navigation chrome, cookie
    banners, license headers repeat verbatim across pages, so corpus-wide
    line frequency separates them from content no per-document signal can.

    Lines are ``\\n``-split and trimmed; empty lines are dropped up front.
    Appends ``n_lines`` (non-empty lines), ``n_boilerplate_lines``,
    ``boilerplate_line_fraction`` (NULL for 0-line docs) and
    ``cleaned_text`` — the surviving lines re-joined with ``\\n`` in
    original order ('' when every line was boilerplate).  NULL text →
    NULL outputs (the module's gate contract).

    Scale shape: line frequency is a word-count-style aggregate keyed on
    the line's md5 digest (digests travel, lines don't); the HOT set
    (only lines at/above ``min_doc_freq``) is joined back — tiny by
    construction, so it broadcasts; the per-doc
    rebuild is one id-keyed reduce sorting (pos, line) structs in-group.
    No all-pairs, no driver collect, no Python row path.  The plan reads
    the (id, text) projection ~3x (frequency pass, mark pass, outer
    join) — inherent to frequency-then-act and linear; when COMPOSING
    with further rewrite stages, persist this operator's output so the
    downstream branches don't multiply the re-derivation
    (``curate.curate_corpus_v3`` shows the pattern).
    """
    lines = (
        df.select(
            F.col(id_col).alias("_lid"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_raw"),
        )
        .select("_lid", "_pos", F.trim(F.col("_raw")).alias("_line"))
        .filter(F.col("_line") != "")
        .withColumn("_dg", F.md5(F.col("_line")))
    )
    hot = hot_line_digests(df, id_col, text_col, min_doc_freq).withColumn(
        "_hot", F.lit(True)
    )
    marked = lines.join(F.broadcast(hot), "_dg", "left")
    per_doc = marked.groupBy("_lid").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.col("_hot")).alias("n_boilerplate_lines"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_hot").isNull(),
                            F.struct(F.col("_pos"), F.col("_line")),
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
        ).alias("cleaned_text"),
    )
    nn = F.col(text_col).isNotNull()
    return (
        df.join(per_doc, df[id_col] == per_doc["_lid"], "left")
        .drop("_lid")
        .withColumn("n_lines", F.when(nn, F.coalesce("n_lines", F.lit(0).cast("long"))))
        .withColumn(
            "n_boilerplate_lines",
            F.when(nn, F.coalesce("n_boilerplate_lines", F.lit(0).cast("long"))),
        )
        .withColumn(
            "boilerplate_line_fraction",
            F.when(
                F.col("n_lines") > 0,
                F.col("n_boilerplate_lines").cast("double")
                / F.col("n_lines").cast("double"),
            ),
        )
        .withColumn("cleaned_text", F.when(nn, F.coalesce("cleaned_text", F.lit(""))))
    )


def quality_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    boilerplate_k: int = 3,
    boilerplate_max_df: int = 10,
    perplexity_model: DataFrame | None = None,
) -> DataFrame:
    """Per-document quality FEATURE VECTOR — the featurization stage a
    trained quality classifier (DCLM / RefinedWeb-style fastText gate)
    consumes, built from this package's deterministic signals:

    - ``n_tokens``, ``ttr`` (lexical size/diversity),
    - ``flesch_reading_ease``, ``fk_grade`` (readability),
    - ``avg_nll_millinats`` (unigram perplexity — fluency),
    - ``boilerplate_frac`` (corpus-hot k-gram share — templating),
    - ``quality_score`` (the package's composite heuristic).

    Rule-based gates threshold these one at a time; a classifier learns
    the joint decision — this operator hands it the matrix.  NULL text →
    NULL features (never silently zero — a classifier must see missing).

    Scale: four independent linear passes over (id, text) — readability
    and the composite are map-only; perplexity is the word-count +
    cost-join shape; boilerplate is the hot-set join — stitched by
    id-keyed joins.  Featurization is embarrassingly column-parallel; no
    all-pairs, no driver collect.
    """
    from opteryx_spark.operators import text as _text

    rd = _text.readability_scores(
        df.select(id_col, text_col), text_col
    ).select(id_col, "flesch_reading_ease", "fk_grade")
    pp = unigram_perplexity(
        df.select(id_col, text_col),
        id_col,
        text_col,
        model=perplexity_model,
    ).select(id_col, "avg_nll_millinats")
    bp = boilerplate_ngram_fraction(
        df.select(id_col, text_col),
        id_col,
        text_col,
        k=boilerplate_k,
        max_df=boilerplate_max_df,
    ).select(id_col, "boilerplate_frac")
    # r12 (VERDICT r11 #8, the probed wave-6 leftover): stage the token
    # array ONCE as a named column — the three composite helpers
    # (token_count / type_token_ratio / quality_score) each re-embedded
    # the split+filter tokenize as sibling expressions (6 tokenizes + 2
    # array_distincts per row).  CollapseProject keeps a multi-referenced
    # non-trivial alias staged, so `_toks` evaluates once per row.  The
    # expressions below replicate the helpers exactly (same _nsize NULL
    # semantics, same cast chain) — exceptAll-equal both ways, interleaved
    # A/B 2.17 -> 1.34 s noop on the sf0.1 base select.
    staged = df.select(id_col, text_col, _text.tokens(text_col).alias("_toks"))
    _nt = F.when(F.col("_toks").isNotNull(), F.size("_toks"))
    _nt_l = _nt.cast("long")
    _ttr = (
        F.when(F.col("_toks").isNotNull(), F.size(F.array_distinct("_toks"))).cast(
            "double"
        )
        / _nt.cast("double")
    )
    _n_d = _nt_l.cast("double")
    _band = F.when(_n_d >= 20.0, F.lit(1.0)).otherwise(_n_d / 20.0)
    base = staged.select(
        id_col,
        _nt_l.alias("n_tokens"),
        _ttr.alias("ttr"),
        F.when(
            F.col(text_col).isNotNull(), _ttr * F.lit(0.5) + _band * F.lit(0.5)
        ).alias("quality_score"),
    )
    return (
        base.join(rd, id_col)
        .join(pp, id_col)
        .join(bp, id_col)
        .select(
            id_col,
            "n_tokens",
            "ttr",
            "flesch_reading_ease",
            "fk_grade",
            "avg_nll_millinats",
            "boilerplate_frac",
            "quality_score",
        )
    )


def unigram_cost_artifacts(
    df: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
) -> tuple[DataFrame, int]:
    """(cost table, unk cost) for the streaming featurizer — the offline
    half of :func:`unigram_perplexity`, built once over a reference
    corpus with IDENTICAL arithmetic (same smoothing, same millinat
    quantization, costs computed Spark-side so not even a last-ulp libm
    difference can creep in).  Returns a ``(token, nll)`` DataFrame and
    the unknown-token cost as a Python int (one scalar ``first()`` at
    build time — an offline artifact, not a per-row path).
    """
    toks = df.select(F.explode(text.tokens(text_col)).alias("_tok"))
    model = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_tf"))
    totals = model.agg(F.sum("_tf").alias("_N"), F.count(F.lit(1)).alias("_V"))
    a = F.lit(float(alpha))
    denom = F.col("_N").cast("double") + (a * F.col("_V").cast("double"))
    costs = model.crossJoin(F.broadcast(totals)).select(
        F.col("_tok").alias("token"),
        F.floor(
            (-F.log((F.col("_tf").cast("double") + a) / denom)) * F.lit(1000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("nll"),
    )
    unk = int(
        totals.select(
            F.floor((-F.log(a / denom)) * F.lit(1000.0) + F.lit(0.5))
            .cast("long")
            .alias("u")
        ).first()["u"]
    )
    return costs, unk


def quality_classifier_gate(
    df: DataFrame,
    weights: dict[str, float],
    bias: float = 0.0,
    threshold: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    **feature_kwargs,
) -> DataFrame:
    """Apply a TRAINED linear quality model over :func:`quality_features`
    — the online half of a DCLM/RefinedWeb-style learned gate (train the
    logistic regression offline on labeled samples; this operator scores
    the corpus with its weights).

    Scoring stays in the LOG-ODDS domain: ``logit = bias + Σ w_f ·
    coalesce(feature_f, 0.0)`` over the weight names in sorted order (a
    fixed fold — pure double multiply/add, bit-deterministic on any
    engine; no sigmoid, because thresholding commutes with the monotone
    sigmoid and ``exp`` is the one libm call engines disagree on).  NULL
    features contribute 0 (the neutral imputation); a NULL-text doc has
    NULL logit and FAILS the gate.  Appends ``logit`` and
    ``passes_quality`` to the feature matrix.  Map-only on top of the
    featurization passes.
    """
    unknown = set(weights) - {
        "n_tokens", "ttr", "flesch_reading_ease", "fk_grade",
        "avg_nll_millinats", "boilerplate_frac", "quality_score",
    }
    if unknown:
        raise ValueError(f"unknown feature weights: {sorted(unknown)}")
    feats = quality_features(df, id_col, text_col, **feature_kwargs)
    expr = F.lit(float(bias))
    for name in sorted(weights):
        expr = expr + (
            F.lit(float(weights[name]))
            * F.coalesce(F.col(name).cast("double"), F.lit(0.0))
        )
    logit = F.when(F.col("n_tokens").isNotNull(), expr)
    return feats.withColumn("logit", logit).withColumn(
        "passes_quality", F.coalesce(logit >= F.lit(float(threshold)), F.lit(False))
    )


def token_mixture_sample(
    df: DataFrame,
    group_cols: list[str],
    budgets: dict[str, int] | dict[tuple, int],
    default_budget: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Domain-weighted mixture construction (the Pile/DoReMi recipe in
    full): each stratum gets its OWN token budget — web might contribute
    1 unit and wikipedia 3 — instead of :func:`token_budget_sample`'s
    single budget.  ``budgets`` maps the stratum key (the value of
    ``group_cols[0]``, or a tuple matching ``group_cols``) to its token
    budget; unlisted strata get ``default_budget`` (0 = contribute
    nothing — an explicit mixture is also an explicit exclusion list).

    Appends ``n_tokens``, ``tokens_before``, ``budget_tokens`` and
    ``in_budget``; admission order is the canonical md5-of-id total
    order.  Same single bounded per-stratum window as the flat sampler —
    the budget lookup is a literal CASE, zero extra data movement.
    """
    from pyspark.sql import Window

    key = (
        F.col(group_cols[0]).cast("string")
        if len(group_cols) == 1
        else F.concat_ws("\x1f", *[F.col(g).cast("string") for g in group_cols])
    )
    expr = None
    for stratum, budget in sorted(budgets.items(), key=lambda kv: str(kv[0])):
        lit_key = (
            str(stratum)
            if not isinstance(stratum, tuple)
            else "\x1f".join(str(s) for s in stratum)
        )
        cond = key == F.lit(lit_key)
        expr = (
            F.when(cond, int(budget))
            if expr is None
            else expr.when(cond, int(budget))
        )
    budget_col = (
        F.lit(int(default_budget))
        if expr is None
        else expr.otherwise(int(default_budget))
    ).cast("long")

    w = (
        Window.partitionBy(*group_cols)
        .orderBy(*quota_order(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n = F.size(text.tokens(text_col)).cast("long")
    return (
        df.withColumn(
            "n_tokens", F.when(F.col(text_col).isNotNull(), n).otherwise(F.lit(0))
        )
        .withColumn("tokens_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("budget_tokens", budget_col)
        .withColumn(
            "in_budget",
            (F.col("tokens_before") + F.col("n_tokens")) <= F.col("budget_tokens"),
        )
    )


def epochs_upsample(
    df: DataFrame,
    group_cols: list[str],
    targets: dict[str, int] | dict[tuple, int],
    default_target: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Data-constrained UPSAMPLING to per-stratum token targets
    (Muennighoff et al. 2023: when the target mixture wants more tokens
    than a stratum has, you repeat it for multiple epochs): each stratum
    is replicated ``target div available`` full epochs, plus a partial
    epoch admitting documents in the canonical md5 order until the
    remainder budget fills — :func:`token_mixture_sample` generalized
    past ``target <= available`` (a 0-full-epoch stratum degenerates to
    exactly its downsampling rule, same admission inequality).

    One row per (document, epoch): ``epoch`` is 0-based, identical
    document sets per full epoch (epoch-level shuffling is a separate
    concern — :func:`~opteryx_spark.operators.scale` epoch_shuffle
    composes on top).  Deterministic end to end: replica counts are pure
    functions of the per-stratum token sums and the md5 admission
    order.

    Shape: one per-stratum window pass (running token sum + the
    stratum total as an unbounded frame over the same partition), then
    ONE ``explode(sequence)`` — map-side expansion, the output is the
    training corpus so the blow-up IS the product.  NULL ids excluded
    (no deterministic order for them); NULL strata are kept and quota
    together (the mixture-sampler convention), hitting
    ``default_target`` like any unlisted stratum.

    Returns ``id_col`` + ``group_cols`` + ``n_tokens``, ``full_epochs``,
    ``extra_replica`` (0/1), ``epoch``.
    """
    from pyspark.sql import Window

    key = (
        F.col(group_cols[0]).cast("string")
        if len(group_cols) == 1
        else F.concat_ws("\x1f", *[F.col(g).cast("string") for g in group_cols])
    )
    expr = None
    for stratum, tgt in sorted(targets.items(), key=lambda kv: str(kv[0])):
        lit_key = (
            str(stratum)
            if not isinstance(stratum, tuple)
            else "\x1f".join(str(s) for s in stratum)
        )
        cond = key == F.lit(lit_key)
        expr = F.when(cond, int(tgt)) if expr is None else expr.when(cond, int(tgt))
    target_col = (
        F.lit(int(default_target)) if expr is None else expr.otherwise(int(default_target))
    ).cast("long")

    w = (
        Window.partitionBy(*group_cols)
        .orderBy(*quota_order(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n = F.size(text.tokens(text_col)).cast("long")
    rows = (
        df.filter(F.col(id_col).isNotNull())
        .withColumn(
            "n_tokens", F.when(F.col(text_col).isNotNull(), n).otherwise(F.lit(0))
        )
        .withColumn("tokens_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("target_tokens", target_col)
    )
    # per-stratum totals as an unbounded frame over the SAME partition
    # the running sum already uses — one window, no extra aggregate+join,
    # and (unlike an equi-join on the stratum key) NULL strata keep their
    # rows, matching token_mixture_sample and the SQL oracle
    w_all = Window.partitionBy(*group_cols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = (
        rows.withColumn("_avail", F.sum("n_tokens").over(w_all).cast("bigint"))
        .withColumn(
            "full_epochs",
            F.when(
                F.col("_avail") > 0, F.expr("target_tokens div _avail")
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            # the partial epoch's budget is the remainder; admission is
            # the mixture sampler's inequality over the SAME md5 order
            "extra_replica",
            (
                (F.col("tokens_before") + F.col("n_tokens"))
                <= (F.col("target_tokens") - F.col("full_epochs") * F.col("_avail"))
            ).cast("int"),
        )
        .withColumn("_reps", F.col("full_epochs") + F.col("extra_replica"))
    )
    return staged.filter(F.col("_reps") > 0).select(
        id_col,
        *group_cols,
        "n_tokens",
        "full_epochs",
        "extra_replica",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("_reps") - 1)).alias("epoch"),
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis &
    Spirakis 2006, A-ES): each row draws a pseudo-uniform from the
    portable hash of ``salt || id`` and is ranked by the exponential key
    ``-ln(u) / w`` — the k smallest keys are a weight-proportional sample,
    reproducible on any partitioning and in any engine (the same
    derandomization strategy as :func:`quota_order`, numeric instead of
    lexicographic).  A training pipeline uses this to sample documents
    proportionally to quality/length weights with an auditable draw.

    ``u = (h + 1) / (2^31)`` with h the 31-bit polynomial hash — never 0
    or 1, so the log is finite; ``-ln(u)`` is quantized to integer
    MICROnats before the weight division (the engine's millinat strategy
    at higher resolution — raw ``ln`` differs by 1 ulp across libm
    implementations, which would make keys engine-dependent).  Rows with
    NULL or non-positive weight are excluded (they have no sampling
    mass).  Different ``salt`` values give independent draws.

    Scale shape: map-side key computation + one top-k (TakeOrdered — no
    global sort).  Returns the sampled rows + ``es_key`` (DOUBLE).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from opteryx_spark.operators.hashing import PORTABLE_MOD, portable_hash_expr

    h = portable_hash_expr(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    u = (h + F.lit(1)).cast("double") / F.lit(float(PORTABLE_MOD + 1))
    lnm = F.floor(-F.log(u) * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    key = lnm.cast("double") / (F.col(weight_col).cast("double") * F.lit(1000000.0))
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("es_key", key)
        .orderBy(F.asc("es_key"), F.asc(id_col))
        .limit(k)
    )


def bigram_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    max_avg_nll_millinats: int = 9000,
) -> DataFrame:
    """Bigram-LM perplexity gate — the conditional upgrade of
    :func:`unigram_perplexity`: per transition, ``p(w2|w1) =
    (c(w1,w2) + alpha) / (c(w1) + alpha·V)`` with counts trained on the
    corpus itself (``c(w1)`` = bigrams starting with ``w1``; ``V`` =
    distinct first-tokens + 1 for the unseen continuation mass).  Gated
    the KenLM way: per-transition costs quantize to integer millinats
    (``floor(-ln(p)·1000 + 0.5)``), so document totals are exact BIGINT
    sums — order-independent and engine-identical (the same fixed-point
    determinism contract as the unigram gate).

    Documents with fewer than two tokens have no transitions and fail
    the gate, like every NULL/empty-text gate in this module.

    Scale shape: bigram and context counts are two word-count aggregates
    over the exploded transitions; the cost table is
    bigram-vocabulary-sized and joined back onto the transitions with no
    hint (AQE size-gates it, since web-scale bigram vocabularies are
    effectively unbounded); the per-doc reduce is keyed
    by id.  No windows, no driver collects.

    Appends ``n_bigrams``, ``bigram_nll_millinats``,
    ``avg_nll_millinats`` (double) and ``passes_perplexity``.
    """
    from opteryx_spark.operators import text as _text

    toks = _text.tokens(text_col)
    pairs_arr = _text._let(
        toks,
        lambda t: F.transform(
            F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
            lambda x, i: F.struct(
                x.alias("_w1"), F.element_at(t, i + 2).alias("_w2")
            ),
        ),
    )
    trans = df.select(
        F.col(id_col).alias("_pid"), F.explode(pairs_arr).alias("_p")
    ).select("_pid", F.col("_p._w1").alias("_w1"), F.col("_p._w2").alias("_w2"))

    trans = cache.persist(trans)
    big = trans.groupBy("_w1", "_w2").agg(F.count(F.lit(1)).alias("_c12"))
    ctx = trans.groupBy("_w1").agg(F.count(F.lit(1)).alias("_c1"))
    vterms = F.broadcast(
        trans.agg((F.count_distinct(F.col("_w1")) + F.lit(1)).alias("_V"))
    )
    a = F.lit(float(alpha))
    costs = (
        big.join(ctx, "_w1")
        .crossJoin(vterms)
        .select(
            "_w1",
            "_w2",
            F.floor(
                (
                    -F.log(
                        (F.col("_c12").cast("double") + a)
                        / (F.col("_c1").cast("double") + (a * F.col("_V").cast("double")))
                    )
                )
                * F.lit(1000.0)
                + F.lit(0.5)
            ).alias("_nll"),
        )
    )
    doc = (
        trans.join(costs, ["_w1", "_w2"])
        .groupBy("_pid")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_nll").alias("bigram_nll_millinats"),
        )
    )
    return (
        df.join(doc, df[id_col] == doc["_pid"], "left")
        .drop("_pid")
        .withColumn("n_bigrams", F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")))
        .withColumn(
            "bigram_nll_millinats",
            F.coalesce(F.col("bigram_nll_millinats"), F.lit(0).cast("long")),
        )
        .withColumn(
            "avg_nll_millinats",
            F.when(
                F.col("n_bigrams") > 0,
                F.col("bigram_nll_millinats").cast("double")
                / F.col("n_bigrams").cast("double"),
            ),
        )
        .withColumn(
            "passes_perplexity",
            F.coalesce(
                F.col("avg_nll_millinats") <= F.lit(float(max_avg_nll_millinats)),
                F.lit(False),
            ),
        )
    )


def temperature_weights(df, stratum_col: str):
    """Temperature-scaled (α = 0.5) mixture sampling weights per stratum
    — the multilingual-corpus balancing rule (mT5/XLM-R style): sampling
    probability ∝ n_i^α upweights low-resource strata relative to their
    raw share while preserving order.  α is pinned at 1/2 because
    ``sqrt`` is CORRECTLY ROUNDED under IEEE-754 (unlike ``pow``/``ln``,
    which vary by libm) — so ``floor(sqrt(n))`` is the integer square
    root, bit-identical in any engine, and every downstream number stays
    exact integer arithmetic (``div``).

    One stratum aggregate + one single-row total broadcast back (the
    pagerank "n rides as a one-row frame" pattern) — no collect, no
    window.  A NULL stratum is a real group.

    Returns one row per stratum: ``stratum_col``, ``n_docs`` (BIGINT),
    ``isqrt_n`` (BIGINT), ``weight_ppm`` (BIGINT, ``1e6·isqrt_n div
    Σ isqrt_n``) — callers feed ``weight_ppm`` into
    :func:`token_mixture_sample` or a per-stratum rate sampler.
    """
    from pyspark.sql import functions as F

    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("n_docs"))
    counts = counts.withColumn(
        "isqrt_n", F.floor(F.sqrt(F.col("n_docs").cast("double"))).cast("bigint")
    )
    total = counts.agg(F.sum("isqrt_n").alias("_tot"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            stratum_col,
            "n_docs",
            "isqrt_n",
            F.expr("(1000000 * isqrt_n) div _tot").alias("weight_ppm"),
        )
    )
