"""Text analysis primitives for large-scale corpus pipelines.

Column-expression helpers (no UDFs — everything stays in whole-stage
codegen): tokenization, word n-gram shingling, type-token stats,
stopword-based language scoring, quality scoring, and content
fingerprints.  These compose into the dedup operators in
:mod:`opteryx_spark.operators.dedup`.

At 100 TB these are embarrassingly parallel per-row expressions — the only
shuffles are the aggregations the caller adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opteryx_spark import cache

# A tiny multilingual stopword inventory for the n-gram language heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "to", "and", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "en", "est", "que"],
    "de": ["der", "die", "das", "und", "ein", "in", "ist", "zu"],
}


def tokens(col: Column | str, sep: str = " ") -> Column:
    """Single-space tokenization with empty tokens dropped.

    The split is the literal separator, NOT a whitespace class — run raw
    corpora through :func:`normalize_text` first (it collapses
    ``[ \t\r\n]+`` to one space), which is the documented pipeline
    order.  The literal split is what every DuckDB oracle mirrors
    (``string_split(text, ' ')``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, sep), lambda x: x != "")


def _let(value: Column, body) -> Column:
    """Bind ``value`` to a lambda variable so ``body`` evaluates it once.

    Catalyst does not common-subexpression-eliminate an array expression
    referenced from inside higher-order-function lambdas — each
    ``element_at(tokens(...), i)`` re-runs the split, turning shingling
    quadratic in token count (measured 8x on the sf0.1 corpus).  Routing
    the array through a single-element ``transform`` makes it a lambda
    variable, which is evaluated exactly once per row.
    """
    return F.transform(F.array(value), body)[0]


def _nsize(arr: Column) -> Column:
    """``size()`` with ANSI NULL semantics.

    Non-ANSI Spark returns **-1** for ``size(NULL)`` (NOTES_r5 pitfall);
    every count/ratio built on it must yield NULL for NULL text, not -1
    (counts) or -1/-1 = 1.0 (ratios) — the DuckDB oracles' ``len(NULL)``
    is NULL, and the NULL-injected fixture gate
    (tests/test_oracle_null_robustness.py) pins this contract.
    """
    return F.when(arr.isNotNull(), F.size(arr))


def token_count(col: Column | str) -> Column:
    return _nsize(tokens(col)).cast("long")


def distinct_token_count(col: Column | str) -> Column:
    return _nsize(F.array_distinct(tokens(col))).cast("long")


def shingles(col: Column | str, k: int = 2) -> Column:
    """Distinct word k-shingles of a text column.

    ``sequence(1, n-k+1)`` indexes each shingle start; texts shorter than
    ``k`` tokens yield an empty array.
    """
    def build(tks: Column) -> Column:
        n = F.size(tks)
        idx = F.sequence(F.lit(1), n - F.lit(k - 1))
        gram = lambda i: F.concat_ws(" ", *[F.element_at(tks, i + j) for j in range(k)])  # noqa: E731
        return F.when(n >= k, F.array_distinct(F.transform(idx, gram))).otherwise(
            F.array().cast("array<string>")
        )

    return _let(tokens(col), build)


def avg_token_length(col: Column | str) -> Column:
    """Mean token length = int char-sum / int count (deterministic)."""
    def build(tks: Column) -> Column:
        char_sum = F.aggregate(tks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
        return char_sum.cast("double") / F.size(tks).cast("double")

    return _let(tokens(col), build)


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    tks = tokens(col)
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    n_stop = _nsize(F.filter(tks, lambda x: F.array_contains(stops, x)))
    return n_stop.cast("double") / _nsize(tks).cast("double")


def type_token_ratio(col: Column | str) -> Column:
    tks = tokens(col)
    return _nsize(F.array_distinct(tks)).cast("double") / _nsize(tks).cast("double")


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: lexical diversity + length band.

    Mirrors the shape of reference-style quality gates (length, diversity);
    all integer-ratio arithmetic so it is bit-deterministic across engines.
    """
    n = token_count(col).cast("double")
    ttr = type_token_ratio(col)
    length_band = F.when(n >= 20.0, F.lit(1.0)).otherwise(n / 20.0)
    return ttr * 0.5 + length_band * 0.5


def language_scores(col: Column | str) -> Column:
    """Struct of per-language stopword-hit ratios (n-gram language-ID)."""
    return F.struct(
        *[stopword_ratio(col, lang).alias(f"score_{lang}") for lang in sorted(STOPWORDS)]
    )


# GPT-2-style pretokenizer shape: contractions, letter runs, digit runs,
# punctuation runs (each optionally space-prefixed).  Kept to constructs
# whose semantics agree between Java regex (Spark) and RE2 (DuckDB oracle).
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ']+"


def bpe_tokens(col: Column | str) -> Column:
    """BPE-ish subword pretokens (regex pretokenizer, no merges).

    The token *count* tracks trained-BPE token counts closely enough for
    corpus budgeting (the pretokenizer defines the ceiling), and it is a
    pure JVM-side regex — no vocab broadcast, no Python.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_PATTERN), F.lit(0))


def bpe_token_count(col: Column | str) -> Column:
    return _nsize(bpe_tokens(col)).cast("long")


# winnowing fingerprints (Schleimer et al., SIGMOD'03): rolling polynomial
# hash over character k-grams, min-selected per window — the standard
# plagiarism/near-dup document fingerprint
_WINNOW_MOD = 1_000_003
_WINNOW_BASE = 31


def winnow_fingerprints(col: Column | str, k: int = 5, window: int = 4) -> Column:
    """Distinct winnowing fingerprints of a text column.

    Per-row array math only (narrow map stage): char k-gram hashes are a
    fixed-power polynomial mod a prime (identical integer arithmetic is
    expressible in the DuckDB oracle), then each ``window`` of consecutive
    hashes contributes its min.  Guarantees any shared substring of length
    ``k + window - 1`` produces a shared fingerprint.
    """
    c = F.col(col) if isinstance(col, str) else col
    pows = [_WINNOW_BASE ** (k - 1 - j) for j in range(k)]
    n = F.length(c)

    def gram_hash(i: Column) -> Column:
        h = None
        for j, p in enumerate(pows):
            # long arithmetic: codepoint * 31^4 exceeds int32
            term = F.ascii(c.substr(i + F.lit(j), F.lit(1))).cast("long") * F.lit(p)
            h = term if h is None else h + term
        return h % F.lit(_WINNOW_MOD)

    hashes = F.when(n >= F.lit(k), F.transform(F.sequence(F.lit(1), n - k + 1), gram_hash)).otherwise(
        F.array().cast("array<bigint>")
    )

    def windows(harr: Column) -> Column:
        m = F.size(harr)
        return F.when(
            m >= F.lit(window),
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), m - window + 1),
                    lambda p: F.array_min(F.slice(harr, p, window)),
                )
            ),
        ).otherwise(F.array().cast("array<bigint>"))

    return _let(hashes, windows)


def ngram_occurrences(col: Column | str, k: int = 2) -> Column:
    """Word k-grams *with* repetitions (unlike :func:`shingles`), in text
    order — the input to repetition/duplication metrics where occurrence
    counts matter."""
    def build(tks: Column) -> Column:
        n = F.size(tks)
        idx = F.sequence(F.lit(1), n - F.lit(k - 1))
        gram = lambda i: F.concat_ws(" ", *[F.element_at(tks, i + j) for j in range(k)])  # noqa: E731
        return F.when(n >= k, F.transform(idx, gram)).otherwise(
            F.array().cast("array<string>")
        )

    return _let(tokens(col), build)


def repetition_metrics(col: Column | str, k: int = 2) -> Column:
    """Gopher-style repetition struct over word k-grams (map-only).

    - ``dup_chars``: characters covered by k-grams occurring more than
      once (count x gram length summed over duplicated distinct grams);
    - ``top_chars``: the largest single gram's count x length;
    - ``total_chars``: characters over all k-gram occurrences.

    Ratios ``dup_chars/total_chars`` and ``top_chars/total_chars`` are the
    "fraction of characters in duplicate / top n-grams" quality signals
    (Gopher, Rae et al. 2021, table A1).  All-integer arithmetic so a SQL
    oracle reproduces it bit-for-bit; per-row higher-order functions only,
    so the stage is shuffle-free at any corpus size.

    Counting is one fold over the *sorted* gram array — equal grams are
    adjacent, so each run closes out as (count x length) in O(g log g)
    per row instead of the O(distinct x g) nested-filter formulation
    (measured 4x on the sf0.1 corpus).
    """
    zero = F.lit(0).cast("long")

    def build(grams: Column) -> Column:
        init = F.struct(
            F.lit("").alias("prev"),
            zero.alias("run"),
            zero.alias("dup"),
            zero.alias("top"),
            zero.alias("total"),
        )

        def close_run(acc: Column) -> Column:
            return acc["run"] * F.length(acc["prev"]).cast("long")

        def step(acc: Column, g: Column) -> Column:
            closing = close_run(acc)
            return F.when(
                g == acc["prev"],
                F.struct(
                    acc["prev"].alias("prev"),
                    (acc["run"] + 1).alias("run"),
                    acc["dup"].alias("dup"),
                    acc["top"].alias("top"),
                    acc["total"].alias("total"),
                ),
            ).otherwise(
                F.struct(
                    g.alias("prev"),
                    F.lit(1).cast("long").alias("run"),
                    (acc["dup"] + F.when(acc["run"] > 1, closing).otherwise(zero)).alias("dup"),
                    F.greatest(acc["top"], closing).alias("top"),
                    (acc["total"] + closing).alias("total"),
                )
            )

        def finish(acc: Column) -> Column:
            closing = close_run(acc)
            return F.struct(
                (acc["dup"] + F.when(acc["run"] > 1, closing).otherwise(zero)).alias(
                    "dup_chars"
                ),
                F.greatest(acc["top"], closing).alias("top_chars"),
                (acc["total"] + closing).alias("total_chars"),
            )

        return F.aggregate(F.array_sort(grams), init, step, finish)

    return _let(ngram_occurrences(col, k), build)


def token_document_frequency(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus vocabulary with term and document frequencies.

    Classic word count: explode -> groupBy(token).  Partial (map-side)
    aggregation halves the shuffle; the token key space is Zipfian but
    bounded by vocabulary size, so the reduce side is small at any corpus
    scale.  ``tf`` counts occurrences, ``doc_freq`` distinct documents.
    """
    tok = df.select(F.col(id_col).alias("_doc"), F.explode(tokens(text_col)).alias("token"))
    return tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("_doc").alias("doc_freq"),
    )


def characteristic_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    topn: int = 3,
) -> DataFrame:
    """Per-document characteristic terms: rarity-weighted term scoring.

    Integer-exact TF-IDF analogue: ``score = floor(tf * 1e6 / doc_freq)``
    ranks frequent-in-doc, rare-in-corpus terms first without float log
    arithmetic (bit-identical in any engine).  Two shuffles total: the
    vocabulary aggregate (bounded by vocab size) and the per-document
    window (partitioned by document — no global sort).  The doc-frequency
    side is an aggregate of the corpus itself, broadcast-eligible because
    vocabularies are tiny relative to corpora.
    """
    from pyspark.sql import Window

    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    tf = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    # tf already has exactly one row per (doc, token), so document
    # frequency is a count over tf — no second corpus scan/explode
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    scored = tf.join(dfreq, "token").withColumn(
        "score",
        F.floor(F.col("tf") * F.lit(1_000_000) / F.col("doc_freq")).cast("long"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topn)
        .select(id_col, "token", "tf", "doc_freq", "score", "rank")
    )


def fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 over the sorted distinct token set.

    Token-order-insensitive — two documents that are word-permutations of
    each other collide, which is the classic "fingerprint dedup" bucket key.
    NULL text → NULL fingerprint (a missing document must not collide with
    a genuinely empty one: concat over a NULL array would yield md5('')).
    """
    c = F.col(col) if isinstance(col, str) else col
    canon = F.array_join(F.array_sort(F.array_distinct(tokens(c))), " ")
    return F.when(c.isNotNull(), F.md5(canon))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the standard per-document stat columns."""
    return df.select(
        "*",
        token_count(text_col).alias("n_tokens"),
        distinct_token_count(text_col).alias("n_distinct_tokens"),
        type_token_ratio(text_col).alias("ttr"),
        avg_token_length(text_col).alias("avg_token_len"),
        quality_score(text_col).alias("quality"),
        fingerprint(text_col).alias("fingerprint"),
    )


# --- normalization / redaction (training-data cleaning stages) --------------


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for dedup/compare: lowercase, trim, collapse
    whitespace runs.  Pure expressions (map-only at any scale); the exact
    regex semantics are shared with the DuckDB oracle."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), "[ \\t\\r\\n]+", " "))


# conservative patterns whose semantics agree between Java regex (Spark)
# and RE2 (DuckDB): explicit classes, no lookaround
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
_LONGNUM_RE = "[0-9][0-9][0-9][0-9][0-9][0-9][0-9]+"


def redact_pii(col: Column | str) -> Column:
    """Replace emails and long digit runs (7+) with typed placeholders —
    the standard pre-training scrub pass.  Deliberately conservative:
    high-precision patterns only, so the operator is deterministic and
    auditable; plug stronger detectors in via the same shape."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, _EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, _LONGNUM_RE, "<NUM>")


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into token-budget chunks with overlap — the
    standard pre-training sequence-prep stage.

    Chunk i covers tokens [i*stride, i*stride + max_tokens) with
    stride = max_tokens - overlap; the last chunk may be short; docs
    shorter than one budget yield one chunk.  Map-only (posexplode of a
    per-row computed array — no shuffle at any scale); chunk_id is
    deterministic (doc_id, chunk_idx).
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    stride = max_tokens - overlap

    def build(tks):
        n = F.size(tks)
        # number of chunks: ceil(max(n - overlap, 1) / stride), min 1
        n_chunks = F.greatest(
            F.ceil((n - F.lit(overlap)).cast("double") / F.lit(stride)).cast("int"),
            F.lit(1),
        )
        starts = F.sequence(F.lit(0), n_chunks - 1)
        return F.transform(
            starts,
            lambda i: F.array_join(F.slice(tks, i * stride + 1, max_tokens), " "),
        )

    # _let binds the token array once per row — without it every chunk's
    # slice re-runs the split (O(n_chunks) tokenizations per doc)
    chunks = _let(tokens(text_col), build)
    return (
        df.select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
        .withColumn("n_chunk_tokens", token_count("chunk_text"))
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    shard_col: str | None = None,
) -> DataFrame:
    """Deterministic sequence packing: assign documents to fixed
    token-budget training bins by position in the cumulative token
    stream (ordered by ``id_col``).

    Each doc's bin is ``floor(exclusive_cumsum_tokens / budget)`` — the
    contiguous-fill rule: bins fill to the budget and may overflow by at
    most one document (the standard overflow-tolerant packing used when
    exact bin packing isn't worth a shuffle per bin).  Deterministic on
    any cluster because the order is the id, not arrival.

    Scale: with ``shard_col`` (date/source/shard key) the cumulative
    window runs per shard — embarrassingly parallel, bin ids unique as
    (shard, bin_id).  Without it the window is a single global ordered
    partition: correct, but only appropriate for corpora that fit one
    task — always pass a shard key at scale.
    """
    from pyspark.sql import Window

    parts = [shard_col] if shard_col else []
    w = (
        Window.partitionBy(*parts)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n = token_count(text_col)
    keep = [F.col(shard_col)] if shard_col else []
    return (
        df.select(*keep, F.col(id_col), n.alias("n_tokens"))
        .withColumn("_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("bin_id", F.floor(F.col("_before") / F.lit(budget)).cast("long"))
        .drop("_before")
    )


def readability_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append classic readability heuristics: ``n_sentences``,
    ``n_words``, ``n_syllables``, ``flesch_reading_ease``, ``fk_grade``.

    The standard cheap quality signal on web corpora (too-low FRE flags
    machine-generated/legalese text, too-high flags word salad).
    Syllables use the vowel-group heuristic — per word,
    ``max(1, count of [aeiouy]+ runs)`` on the lowercased token — and
    sentences count ``[.!?]+`` runs (min 1), so all three counts are
    integers and the two scores are single-op double divisions/multiplies
    (bit-deterministic across engines).  NULL text or zero words →
    NULL scores.  Map-only: pure expressions, zero shuffle at any scale.
    """
    c = F.col(text_col)
    n_sent = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(c, F.lit("([.!?]+)"), 1)).cast("long"),
    )

    def counts(tks: Column) -> Column:
        syl = F.aggregate(
            tks,
            F.lit(0).cast("long"),
            lambda acc, w: acc
            + F.greatest(
                F.lit(1).cast("long"),
                F.size(F.regexp_extract_all(F.lower(w), F.lit("([aeiouy]+)"), 1)).cast("long"),
            ),
        )
        return F.struct(F.size(tks).cast("long").alias("w"), syl.alias("s"))

    st = _let(tokens(c), counts)
    # non-ANSI Spark returns -1 for size(NULL array): NULL text must yield
    # NULL counts, not -1 (DuckDB's len(NULL) is NULL — oracle parity)
    df = (
        df.withColumn("n_sentences", F.when(c.isNotNull(), n_sent))
        .withColumn("_rd", st)
        .withColumn("n_words", F.when(c.isNotNull(), F.col("_rd.w")))
        .withColumn("n_syllables", F.when(c.isNotNull(), F.col("_rd.s")))
        .drop("_rd")
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    nonempty = F.col("n_words") > 0
    return df.withColumn(
        "flesch_reading_ease",
        F.when(nonempty, (F.lit(206.835) - (F.lit(1.015) * wps)) - (F.lit(84.6) * spw)),
    ).withColumn(
        "fk_grade",
        F.when(nonempty, ((F.lit(0.39) * wps) + (F.lit(11.8) * spw)) - F.lit(15.59)),
    )


#: each BPE merge round is one full Spark job (groupBy + 1-row collect);
#: a real 32k-merge vocabulary would launch 32k sequential jobs, which is
#: a driver-loop pattern this engine refuses by default at that scale
BPE_TRAIN_MAX_MERGES = 256


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 6,
    allow_large: bool = False,
) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016): learn
    the top-``num_merges`` byte-pair merges from the corpus — the
    tokenizer-construction step of an LLM data pipeline, not just its
    application (``bpe_tokens`` applies a fixed regex; this LEARNS the
    vocabulary).

    The classic algorithm, distributed the way it scales: the corpus is
    collapsed ONCE into a word-frequency table (Zipf: |vocab| << corpus
    tokens; every subsequent pass touches only that table).  Each round:
    count weighted adjacent symbol pairs (explode + map-side-combining
    SUM), pick the most frequent (deterministic ``(count DESC, pair)``
    tiebreak; a 1-row driver probe, like the k-means centroid read),
    and apply the merge to every word.

    The merge step uses a leading-separator string encoding — symbols as
    ``SEP s1 SEP s2 ...`` (SEP = U+001F) and
    ``replace(SEP+a+SEP+b -> SEP+ab)`` — which reproduces greedy
    left-to-right pair merging exactly (the pattern never consumes the
    NEXT symbol's leading separator, so runs like ``a a a a`` merge to
    ``aa aa``) and is a single codegen'd string op per word; tokens must
    not contain U+001F (whitespace-split tokens never do).  Each round's
    table is persisted so round k+1 never replays rounds 1..k.

    Returns the learned merge table: ``rank`` (BIGINT, 0-based),
    ``lhs``, ``rhs`` (STRING symbols), ``n`` (BIGINT weighted pair
    count) — deterministic, so an external oracle can reproduce every
    merge decision.

    Scale honesty: each merge round is ONE Spark job (a pair-count
    groupBy plus a 1-row collect), so wall time is linear in
    ``num_merges`` — fine for the tens-to-hundreds of merges this
    word-frequency-table formulation targets, but a production 32k-merge
    vocabulary would launch 32k sequential jobs.  Requests above
    ``BPE_TRAIN_MAX_MERGES`` raise unless ``allow_large=True``; at that
    scale, train offline on the word-frequency table (it is small —
    export ``words`` below) with a heap-based trainer instead.
    """
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    if num_merges > BPE_TRAIN_MAX_MERGES and not allow_large:
        raise ValueError(
            f"bpe_train(num_merges={num_merges}) would launch {num_merges} "
            f"sequential Spark jobs (one groupBy + collect per merge round); "
            f"the default ceiling is {BPE_TRAIN_MAX_MERGES}. Pass "
            f"allow_large=True to proceed anyway, or export the word-frequency "
            f"table and train the large vocabulary offline."
        )

    sep = "\u001f"
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(tokens(text_col)).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    syms = cache.persist(
        words.select(
            "_n", F.regexp_replace("_w", "(.)", sep + "$1").alias("_s")
        )
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        arr = F.split("_s", sep)  # element 1 is '' (leading separator)
        npairs = F.size(arr) - 2  # symbols = size-1, pairs = symbols-1
        pair_arr = F.when(
            npairs >= 1,
            F.transform(
                F.sequence(F.lit(2), F.size(arr) - 1),
                lambda i: F.struct(
                    F.element_at(arr, i).alias("a"),
                    F.element_at(arr, i + 1).alias("b"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        top = (
            syms.select("_n", F.explode(pair_arr).alias("_p"))
            .groupBy(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
            .agg(F.sum("_n").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((rank, a, b, n))
        syms = cache.persist(
            syms.select(
                "_n",
                F.replace(
                    F.col("_s"), F.lit(sep + a + sep + b), F.lit(sep + a + b)
                ).alias("_s"),
            )
        )
    return spark.createDataFrame(merges, "rank long, lhs string, rhs string, n long")


def bpe_encode_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply learned BPE merges (:func:`bpe_train` output) and count the
    resulting tokens per document -- the APPLY half of the tokenizer
    pair, and the honest way to budget sequence lengths under the
    tokenizer that will actually be used (the regex ``bpe_tokens``
    estimate drifts from a trained vocabulary).

    Each whitespace token is encoded with the same leading-separator
    string mechanics as training (greedy left-to-right per merge, merges
    applied in rank order); the symbol count per token is the separator
    count, summed per document -- all inside ONE ``transform`` +
    ``aggregate`` expression, fully codegen'd, zero shuffles.

    Returns ``id_col``, ``n_bpe`` (BIGINT; 0 for NULL/empty text).
    """
    sep = "\u001f"

    def enc(tok):
        e = F.regexp_replace(tok, "(.)", sep + "$1")
        for a, b in merges:
            e = F.replace(e, F.lit(sep + a + sep + b), F.lit(sep + a + b))
        return e

    syms = F.transform(tokens(text_col), enc)
    per_tok = lambda s: F.length(s) - F.length(F.replace(s, F.lit(sep), F.lit("")))  # noqa: E731
    n = F.aggregate(
        syms,
        F.lit(0).cast("long"),
        lambda acc, s: acc + per_tok(s).cast("long"),
    )
    return docs.select(
        F.col(id_col), F.coalesce(n, F.lit(0).cast("long")).alias("n_bpe")
    )


# HTML-to-text patterns whose semantics agree between Java regex (Spark)
# and RE2 (DuckDB): (?is) flags, explicit classes, non-greedy spans, no
# lookaround.  Block elements whose CONTENT must go (script/style) are
# removed as spans; every other tag is replaced by a space so words
# separated only by markup don't fuse.
_HTML_BLOCK_RE = "(?is)<(script|style)[^>]*>.*?</(script|style)>"
_HTML_COMMENT_RE = "(?s)<!--.*?-->"
_HTML_TAG_RE = "<[^>]+>"
_HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&amp;", "&"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
)


def strip_html(col: Column | str) -> Column:
    """HTML → text extraction, the C4-style first step over raw crawl
    payloads (the reference engine never sees raw HTML; beyond-reference
    pipeline surface): drop ``<script>``/``<style>`` spans and comments
    WITH their content, replace every remaining tag with a space, decode
    the common entities, collapse whitespace and trim.  Pure
    regexp_replace/replace expressions — map-only codegen at any scale,
    and every pattern evaluates identically under Java regex and RE2 so
    the DuckDB oracle runs the same text arithmetic.  NULL in → NULL out.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, _HTML_BLOCK_RE, " ")
    out = F.regexp_replace(out, _HTML_COMMENT_RE, " ")
    out = F.regexp_replace(out, _HTML_TAG_RE, " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, "[ \\t\\r\\n]+", " "))


def rake_keyphrases(
    df: DataFrame,
    text_col: str = "text",
    lang: str = "en",
    top_k: int = 50,
    max_phrase_words: int = 4,
) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; each word scores
    ``degree/frequency`` over the corpus (degree = total length of the
    phrase occurrences it appears in) and a phrase scores the sum of its
    words' scores -- the unsupervised keyword surface search/tagging
    pipelines ship.

    Determinism: word scores quantize to ``(degree*1000) div freq``
    BIGINT milli-units; a phrase's score is the exact BIGINT sum of its
    word scores (identical for every occurrence, so summing across
    occurrences and dividing by the occurrence count is exact); top-k
    breaks ties by phrase text.  Phrase splitting is overlap-safe:
    stopword tokens map to a separator IN THE TOKEN ARRAY (no regex on
    raw text, so adjacent stopwords cannot swallow each other's
    boundary), then one join + split + trim.

    Scale shape: a map-only phrase expression per document, one explode
    to (phrase, word), two word aggregates (freq/degree, map-side
    combine), a vocabulary-sized score join back, one phrase aggregate
    and a bounded top-k.

    Returns ``phrase``, ``n_occurrences``, ``score_milli`` (BIGINT),
    top ``top_k`` by ``(score desc, phrase)``.
    """
    if top_k < 1 or max_phrase_words < 1:
        raise ValueError("top_k and max_phrase_words must be >= 1")
    sep = "\u001f"
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    marked = F.transform(
        tokens(text_col),
        lambda t: F.when(F.array_contains(stops, t), F.lit(sep)).otherwise(t),
    )
    phrases_arr = F.filter(
        F.transform(F.split(F.array_join(marked, " "), sep), lambda p: F.trim(p)),
        lambda p: (p != "")
        & (F.size(F.split(p, " ")) <= F.lit(int(max_phrase_words))),
    )
    phr = df.select(F.explode(phrases_arr).alias("phrase"))
    pw = cache.persist(
        phr.select(
            "phrase",
            F.size(F.split(F.col("phrase"), " ")).alias("_plen"),
            F.explode(F.split(F.col("phrase"), " ")).alias("_w"),
        )
    )
    words = pw.groupBy("_w").agg(
        F.count(F.lit(1)).alias("_freq"),
        F.sum("_plen").alias("_deg"),
    )
    scores = words.select(
        "_w", F.expr("CAST((_deg * 1000) div _freq AS BIGINT)").alias("_ws")
    )
    # every occurrence of a phrase contributes the identical word-score
    # sum, so sum-over-occurrences div occurrence-count is exact
    summed = (
        pw.join(scores, "_w")
        .groupBy("phrase")
        .agg(F.sum("_ws").alias("_raw"))
    )
    occ = phr.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occurrences"))
    return (
        summed.join(occ, "phrase")
        .select(
            "phrase",
            "n_occurrences",
            F.expr("CAST(_raw div n_occurrences AS BIGINT)").alias("score_milli"),
        )
        .orderBy(F.col("score_milli").desc(), F.col("phrase").asc())
        .limit(int(top_k))
    )


def encoding_issues(col: Column | str) -> Column:
    """Count of mojibake/encoding-damage markers in a text value — the
    cheap crawl-hygiene signal (UTF-8 read as Latin-1 leaves 'Ã'-pair
    artifacts; decoders leave U+FFFD): occurrences of the replacement
    character, the 'Ã'/'Â' double-encode leads and stray C1 artifacts
    'â€' (the mangled curly-quote family).  Pure expression arithmetic —
    count = Σ (len − len(replace(s, marker))) / len(marker) per marker;
    NULL in → NULL out.
    """
    c = F.col(col) if isinstance(col, str) else col
    total = None
    for marker in ("�", "Ã", "Â", "â€"):
        n = (F.length(c) - F.length(F.replace(c, F.lit(marker), F.lit("")))) / F.lit(
            len(marker)
        )
        total = n if total is None else total + n
    return total.cast("long")


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty in corpus id order: the fraction of a
    document's distinct word ``k``-grams whose FIRST corpus occurrence
    (smallest ``id_col``) is this document — the duplication-growth
    curve pretraining ablations track (novelty collapsing toward zero
    means the crawl is re-reading itself; Lee et al. 2021 motivate
    dedup with exactly this measurement).

    Exact integers end to end: ``n_grams``/``n_novel`` are BIGINT
    counts, novelty is ppm with truncating division; docs with no grams
    (short/NULL text) report 0 grams and NULL ppm.

    Scale shape: one explode of distinct per-doc grams, one MIN(id)
    aggregate per gram (map-side combine — the keeper rule), one join
    back on the gram, one per-doc reduce.  No windows, no self-join.

    Returns ``id_col``, ``n_grams``, ``n_novel`` (BIGINT),
    ``novelty_ppm`` (BIGINT, NULL when no grams).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    grams = df.select(
        F.col(id_col).alias("_id"), F.explode(shingles(text_col, k)).alias("_g")
    )

    grams = cache.persist(grams)
    first = grams.groupBy("_g").agg(F.min("_id").alias("_first"))
    per = (
        grams.join(first, "_g")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("_id") == F.col("_first"), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per, df[id_col] == per["_id"], "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0).cast("long")).alias("n_novel"),
            F.expr(
                "CASE WHEN coalesce(n_grams, 0) > 0 "
                "THEN CAST((n_novel * 1000000) div n_grams AS BIGINT) END"
            ).alias("novelty_ppm"),
        )
    )


def ln_micro_table(n: int) -> list[int]:
    """``floor(ln(x)·1e6 + 0.5)`` for x = 1..n — the Python-quantized
    natural-log lookup both engine sides of :func:`char_entropy` share
    as identical literals (no runtime ``ln`` anywhere, so no libm
    bit-divergence between engines)."""
    import math

    return [int(math.floor(math.log(x) * 1_000_000 + 0.5)) for x in range(1, n + 1)]


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: int = 512,
) -> DataFrame:
    """Per-document character-distribution entropy — the classic cheap
    gibberish/encoding-junk screen (random bytes score near ln(alphabet),
    natural language sits far lower; pairs with
    :func:`encoding_issues` and the Gopher gates as a quality signal).

    Computed over the first ``prefix_len`` characters (bounds per-doc
    cost AND the size of the log lookup, since no character can repeat
    more than ``prefix_len`` times).  Exact integer arithmetic via the
    identity ``H = ln(n) − (1/n)·Σ cᵢ·ln(cᵢ)`` with Python-quantized
    micronat logs (:func:`ln_micro_table`):

        H_micronats = (n·L[n] − Σ cᵢ·L[cᵢ]) div n

    Scale shape: one position explode (≤ ``prefix_len`` rows per doc)
    and two aggregates keyed by doc id — linear, partition-local by id,
    no windows.  NULL or empty text → NULL entropy (never silently 0 —
    a gate must see missing).

    Returns ``id_col``, ``n_chars_used``, ``n_distinct_chars``,
    ``char_entropy_micronats`` (BIGINT; 0 for single-character docs).
    """
    if prefix_len < 1:
        raise ValueError("prefix_len must be >= 1")
    lns = ln_micro_table(prefix_len)
    arr = F.array(*[F.lit(v).cast("bigint") for v in lns])  # element_at(arr, x) = L[x]

    s = F.substring(F.col(text_col), 1, prefix_len)
    # explode the code-point array (split on the empty regex matches only
    # BETWEEN code points — same pieces as per-position ``substr``, proven
    # by the hashing.portable_hash_expr equivalence battery and pinned
    # again in tests/test_r11_optimizations.py).  The per-position formulation it
    # replaces (explode(sequence(1, len)) + substr(_s, _i, 1)) rescanned
    # the prefix's UTF-8 bytes from the front at every position — O(n²)
    # byte work per document on a 512-char prefix.
    base = (
        df.filter(F.col(text_col).isNotNull() & (F.length(s) >= 1))
        .select(F.col(id_col), s.alias("_s"))
        .select(id_col, F.explode(F.split(F.col("_s"), "")).alias("_c"))
    )
    counts = base.groupBy(id_col, "_c").agg(F.count(F.lit(1)).alias("_n"))
    agg = counts.groupBy(id_col).agg(
        F.sum("_n").alias("n_chars_used"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.sum(F.col("_n") * F.element_at(arr, F.col("_n").cast("int"))).alias("_sum_cl"),
    )
    scored = (
        agg.withColumn("_ln_n", F.element_at(arr, F.col("n_chars_used").cast("int")))
        .select(
            id_col,
            F.col("n_chars_used").cast("bigint").alias("n_chars_used"),
            F.col("n_distinct_chars").cast("bigint").alias("n_distinct_chars"),
            F.expr(
                "CAST((n_chars_used * _ln_n - _sum_cl) div n_chars_used AS BIGINT)"
            ).alias("char_entropy_micronats"),
        )
    )
    # docs with NULL/empty text surface with NULL metrics
    ids = df.select(id_col)
    return ids.join(scored, [id_col], "left")


def script_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document character-class profile: counts and ppm shares of
    ASCII letters, digits, whitespace, and everything else — the cheap
    script/garbage screen that complements :func:`char_entropy`
    (distributional) and :func:`encoding_issues` (damage markers): a
    "text" column that is 40% digits is a table dump, one that is 90%
    "other" is binary or non-Latin (route to per-script handling).

    Pure length-difference arithmetic over ``regexp_replace`` with
    explicit character classes (identical semantics in Java regex and
    RE2/DuckDB) — map-only, zero shuffle, fully codegen'd.  NULL text
    yields NULL everywhere (never silent zeros); empty text yields zero
    counts with NULL shares.

    Appends ``n_chars``, ``n_letters``, ``n_digits``, ``n_spaces``,
    ``n_other`` (BIGINT) and ``letters_ppm``, ``digits_ppm``,
    ``spaces_ppm``, ``other_ppm`` (BIGINT, truncating ``div``).
    """
    c = F.col(text_col)
    n = F.length(c).cast("bigint")

    def cls(pattern: str) -> Column:
        return (n - F.length(F.regexp_replace(c, pattern, "")).cast("bigint"))

    letters = cls("[A-Za-z]")
    digits = cls("[0-9]")
    spaces = cls("[ \\t\\n\\r]")
    other = n - letters - digits - spaces

    out = (
        df.withColumn("n_chars", n)
        .withColumn("n_letters", letters)
        .withColumn("n_digits", digits)
        .withColumn("n_spaces", spaces)
        .withColumn("n_other", other)
    )
    # truncating integer div (never float-divide-then-cast: Spark casts
    # double->bigint by truncation, DuckDB by rounding — the engines
    # would disagree on .5 boundaries)
    for name, src in [
        ("letters_ppm", "n_letters"),
        ("digits_ppm", "n_digits"),
        ("spaces_ppm", "n_spaces"),
        ("other_ppm", "n_other"),
    ]:
        out = out.withColumn(
            name,
            F.when(n > 0, F.expr(f"(1000000 * {src}) div n_chars")),
        )
    return out


def lexical_diversity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document lexical diversity: token count, distinct-token
    (type) count, type-token ratio, and hapax legomena (types occurring
    exactly once) — the vocabulary-richness quality signal (template
    and boilerplate text has low TTR; keyboard mash has high TTR with
    high hapax share).

    Zero-shuffle formulation (the ``repetition_metrics`` strategy): the
    token array is sorted once per row and both counts fall out of ONE
    left fold over it — the accumulator carries (previous token, types
    so far, current run length, hapax so far); a run that closes at
    length 1 was a hapax.  Map-only, no explode, no groupBy; the whole
    operator is one projection.

    (The first formulation indexed the sorted array from per-position
    ``transform`` lambdas; higher-order-function lambdas do NOT share
    subexpressions, so ``array_sort`` re-evaluated per element — an
    O(n²·log n)/row blow-up the sf0.1 bench caught at 68 s.  The single
    fold evaluates the sort exactly once per row.)

    NULL text yields NULL metrics; tokenless text yields zeros with
    NULL ratios.

    The sorted array and the fold are bound to named columns in a lower
    projection: sibling Project expressions do not share subexpressions
    either (the ``n_types`` and ``hapax`` columns each embedded the whole
    sort+fold — 2× the fold work per row, measured 1.9× on sf0.1), and
    CollapseProject keeps a multi-referenced non-cheap alias in its own
    Project, so each is evaluated exactly once per row.

    Appends ``n_tokens``, ``n_types``, ``hapax`` (BIGINT), ``ttr_ppm``
    (types·1e6 div tokens), ``hapax_ppm`` (hapax·1e6 div types).
    """
    arr = F.col("_lex_arr")
    n = F.size(arr).cast("bigint")
    zero = F.lit(0).cast("bigint")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("types"),
        zero.alias("run"),
        zero.alias("hapax"),
    )

    def step(acc, x):
        same = acc["prev"].isNotNull() & (x == acc["prev"])
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["types"]).otherwise(acc["types"] + 1).alias("types"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("bigint")).alias("run"),
            # a run closes when the token changes; closed-at-length-1 => hapax
            F.when(
                ~same & acc["prev"].isNotNull() & (acc["run"] == 1),
                acc["hapax"] + 1,
            ).otherwise(acc["hapax"]).alias("hapax"),
        )

    def finish(acc):
        return F.struct(
            acc["types"].alias("types"),
            # close the final run
            F.when(acc["run"] == 1, acc["hapax"] + 1)
            .otherwise(acc["hapax"])
            .alias("hapax"),
        )

    folded = F.col("_lex_fold")
    types = folded["types"]
    hapax = folded["hapax"]
    nn = F.when(F.col(text_col).isNotNull(), F.coalesce(n, F.lit(0)))
    staged = df.select(
        "*", F.array_sort(tokens(F.col(text_col))).alias("_lex_arr")
    ).select("*", F.aggregate(arr, init, step, finish).alias("_lex_fold"))
    return (
        staged.withColumn("n_tokens", nn)
        .withColumn("n_types", F.when(F.col(text_col).isNotNull(), F.coalesce(types, F.lit(0))))
        .withColumn("hapax", F.when(F.col(text_col).isNotNull(), F.coalesce(hapax, F.lit(0))))
        .withColumn(
            "ttr_ppm",
            F.when(F.col("n_tokens") > 0, F.expr("(1000000 * n_types) div n_tokens")),
        )
        .withColumn(
            "hapax_ppm",
            F.when(F.col("n_types") > 0, F.expr("(1000000 * hapax) div n_types")),
        )
        .drop("_lex_arr", "_lex_fold")
    )


def term_trends(
    df: DataFrame,
    batch_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_total: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Emerging/declining terms across corpus batches: per-token OLS
    slope of the per-batch counts — the corpus-monitoring screen for
    "what vocabulary is a new crawl injecting" (spam campaign n-grams,
    breaking-news terms, template rot), one step up from the static
    :func:`token_document_frequency` vocabulary.

    Exact arithmetic (the :func:`~opteryx_spark.operators.timeseries.
    ols_trend` sufficient-statistic idiom): with batch index x and
    count y, ``slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²)`` — numerator
    and denominator are exact BIGINTs, the reported ``slope_ppm`` is
    the truncating-div ratio ×1e6.  Every (token, batch) cell is
    DENSIFIED to zero first (a token absent from a batch is a count of
    0, not a missing observation — skipping it biases slopes toward
    survivors), so n = the batch count for every token and the
    denominator is a constant.  Tokens below ``min_total`` occurrences
    are dropped (slope noise), then the top/bottom movers by
    ``slope_ppm`` (id-tiebreak) are kept.

    Shape: one explode + (token, batch) groupBy, a ``batches``-sized
    literal array fan-out for densification (period count, not data),
    one token groupBy, two TakeOrdered top-ks.  NULL text/batch rows
    are excluded.

    Returns ``token``, ``n_batches``, ``total``, ``slope_num``,
    ``slope_den``, ``slope_ppm`` (BIGINT), ``direction`` ('rising' /
    'falling').
    """
    if min_total < 1 or top_k < 1:
        raise ValueError("min_total and top_k must be >= 1")
    toks = df.filter(
        F.col(text_col).isNotNull() & F.col(batch_col).isNotNull()
    ).select(
        F.col(batch_col).cast("bigint").alias("_b"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
        ).alias("_tok"),
    )
    batches = toks.select("_b").distinct()
    counts = toks.groupBy("_tok", "_b").agg(F.count(F.lit(1)).alias("_y"))
    dense = (
        counts.select("_tok")
        .distinct()
        .crossJoin(F.broadcast(batches))
        .join(counts, ["_tok", "_b"], "left")
        .select("_tok", "_b", F.coalesce("_y", F.lit(0)).cast("long").alias("_y"))
    )
    agg = dense.groupBy("_tok").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_b").alias("_sx"),
        F.sum("_y").alias("total"),
        F.sum(F.col("_b") * F.col("_b")).alias("_sxx"),
        F.sum(F.col("_b") * F.col("_y")).alias("_sxy"),
    ).filter(F.col("total") >= min_total)
    scored = agg.select(
        F.col("_tok").alias("token"),
        F.col("_n").cast("bigint").alias("n_batches"),
        F.col("total").cast("bigint").alias("total"),
        (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("total")).alias("slope_num"),
        (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).alias("slope_den"),
    ).filter(F.col("slope_den") > 0).select(
        "*", F.expr("(slope_num * 1000000) div slope_den").alias("slope_ppm")
    )
    rising = (
        scored.orderBy(F.col("slope_ppm").desc(), "token")
        .limit(int(top_k))
        .select("*", F.lit("rising").alias("direction"))
    )
    falling = (
        # anti-join against the rising set: with <= 2*top_k scored tokens
        # (or zero-slope ties) the same token could otherwise appear in
        # both directions and double-count under a per-token groupBy
        scored.join(rising.select("token"), "token", "left_anti")
        .orderBy(F.col("slope_ppm").asc(), "token")
        .limit(int(top_k))
        .select(*[c for c in scored.columns], F.lit("falling").alias("direction"))
    )
    return rising.unionAll(falling)
