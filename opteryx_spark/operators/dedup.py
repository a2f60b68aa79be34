"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

All operators are shuffle-architected for 100 TB corpora:

- exact dedup is a hash groupBy on a digest (one shuffle on a uniform key);
- n-gram Jaccard uses an inverted shingle index (shuffle on shingle, then
  on the candidate pair) — the standard "similarity join" plan, with an
  optional document-frequency cap (``max_df``) to cut hot-shingle skew
  and a zero-extra-shuffle dictionary fast path for small vocabularies;
- MinHash/LSH shuffles on (band, band_hash) buckets so candidate
  generation is linear in bucket occupancy, never all-pairs;
- SimHash reduces each document to one 64-bit signature, deduped by
  Hamming-ball banding.

Everything is built-in expressions (xxhash64, aggregates) — no Python in
the per-row hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opteryx_spark import cache
from opteryx_spark.operators import hashing
from opteryx_spark.operators.text import shingles, tokens
from opteryx_spark.session import spread

# --- exact-dedup prefilter for the similarity joins --------------------------
#
# Web-scale corpora are dominated by *exact* duplicates (mirrors, templated
# pages, re-crawls).  Every similarity join below therefore supports
# ``unique_texts=True``: collapse byte-identical texts to one exemplar,
# run the pair computation on distinct texts only, then expand the result
# back through the copy groups — intra-group pairs get the algorithm's
# perfect score (J=1, est=1, Hamming=0), inter-group pairs inherit their
# exemplars' score.  Identical inputs produce identical signatures, so the
# expanded output equals the direct computation (exception: a duplicate
# group larger than MinHash's ``max_bucket`` anti-spam cap is *kept* here
# where the direct path would drop it — strictly more correct).  The win
# is quadratic: candidate generation touches each distinct text once
# instead of once per copy.


# Persisted intermediates and checkpoints live in the caller's
# ``opteryx_spark.cache.cache_scope()``.  This is the one public drain: it
# releases the caller's current scope, or the shared fallback when no
# scope is open.
release_text_group_caches = cache.drain


def _resolve_unique_texts(df: DataFrame, text_col: str, unique_texts) -> bool:
    """Route ``unique_texts="auto"`` by the measured duplicate ratio.

    The copy-group path is a quadratic win on dup-heavy corpora (NOTES_r3:
    4x at sf1 with 10x copies) but pure overhead when texts are mostly
    unique (measured 4x slower at sf0.1 with 0.2% dups).  The probe is one
    map-side pass (count + HLL approx distinct, no shuffle) — negligible
    next to the similarity join that follows, at any scale.  Pass
    True/False explicitly when the corpus shape is known.
    """
    if unique_texts != "auto":
        return bool(unique_texts)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(text_col).alias("d"),
    ).collect()[0]
    return row["d"] < row["n"] * 0.9


def _text_groups(df: DataFrame, id_col: str, text_col: str) -> tuple[DataFrame, DataFrame]:
    """(reps, members): one exemplar row per distinct text + the gid→id map.

    gid = xxhash64(text) — 64-bit collisions are negligible at any corpus
    size where this engine applies; any_value(text) is deterministic
    because every member of a group carries the same text by definition.
    The exemplar's ``id`` IS the gid, so pair expansion joins members
    directly on the inner pair ids (two joins, not four).
    """
    g = spread(df).select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias(text_col),
        F.xxhash64(text_col).alias("gid"),
    )
    reps = g.groupBy("gid").agg(
        F.any_value(text_col).alias(text_col),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("gid", F.col("gid").alias("id"), text_col, "n_copies")
    # reps feeds several plan branches (the inner pair computation and the
    # active-group filter); without persist the corpus-wide text shuffle
    # would re-execute once per branch (measured ~12% at sf0.01).
    reps = cache.persist(reps)
    return reps, g.select("gid", "id")


def _expand_pairs(
    pairs: DataFrame,
    members: DataFrame,
    active_gids: DataFrame,
    perfect: dict[str, Column],
) -> DataFrame:
    """Expand exemplar-level pairs (keyed by gid) to all copy-level pairs.

    ``active_gids`` filters intra-group emission to groups whose text
    actually participates (non-empty shingle/token set) — empty texts
    produce no pairs in the direct computation and must not here either.
    """
    score_cols = [c for c in pairs.columns if c not in ("id1", "id2")]
    inter = (
        pairs.join(members.select(F.col("gid").alias("id1"), F.col("id").alias("m1")), "id1")
        .join(members.select(F.col("gid").alias("id2"), F.col("id").alias("m2")), "id2")
        .select(
            F.least("m1", "m2").alias("id1"),
            F.greatest("m1", "m2").alias("id2"),
            *score_cols,
        )
    )
    live = members.join(active_gids, "gid", "left_semi")
    x, y = live.alias("x"), live.alias("y")
    intra = x.join(
        y, (F.col("x.gid") == F.col("y.gid")) & (F.col("x.id") < F.col("y.id"))
    ).select(
        F.col("x.id").alias("id1"),
        F.col("y.id").alias("id2"),
        *[perfect[c].alias(c) for c in score_cols],
    )
    return inter.unionByName(intra)


# The hashes below (MinHash permutations, the portable polynomial hash,
# bloom positions) come from operators/hashing.py — the one portable
# family the DuckDB oracles replay and the stream twins share.


# --- exact ------------------------------------------------------------------


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact dedup on a column subset (reference DISTINCT,
    ``operators/distinct_node.py:24-66``)."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def content_hash_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the lowest-id exemplar per exact content digest.

    GroupBy on sha256(text): one shuffle keyed by a uniform digest, so no
    skew even when one document is replicated millions of times.
    """
    digest = F.sha2(F.col(text_col), 256).alias("content_sha")
    return (
        df.select(F.col(id_col), digest)
        .groupBy("content_sha")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# --- exact n-gram Jaccard similarity join -----------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 2,
    threshold: float = 0.8,
    prefix_filter: bool = True,
    max_df: int | None = None,
    unique_texts: bool | str = "auto",
    weight_col: str | None = None,
) -> DataFrame:
    """All document pairs with word-k-gram Jaccard >= threshold (exact).

    ``unique_texts`` (default "auto" — one map-side probe routes to the
    copy-group path when >=10% of texts are duplicates): exact-dedup
    texts first, join exemplars, expand pairs back through copy groups.
    Output is identical; the candidate space shrinks quadratically in
    the copy multiplicity.  ``weight_col`` (set by the routing): per-row
    document multiplicity, so exemplar-table document frequencies equal
    full-corpus frequencies — the ``max_df`` cap and the rarity ranking
    see the same df either route.

    With ``prefix_filter`` (AllPairs/PPJoin-style, exactness-preserving):
    order each document's shingle set by global document frequency
    (rarest first); any pair with J >= t must share one of the first
    ``n - ceil(t*n) + 1`` shingles, so only that prefix is indexed.  The
    candidate join then touches the *rare* end of the frequency
    distribution — this is what keeps the inverted-index self-join from
    going quadratic on boilerplate-heavy corpora at 100 TB.  A length
    filter (``t*na <= nb``) prunes before verification; exact overlap is
    computed only for surviving candidates.

    The rarity ranking is one aggregation, not a window: each doc's set
    is rebuilt as ``array_sort(collect_list(struct(df, s)))`` so prefix
    extraction is array math on the grouped row.  The frequency-attach
    join carries no hint — AQE converts it to a broadcast join at runtime
    when the vocabulary is small (dense template corpora — exactly the
    hard case for similarity joins) and shuffles it for web-scale
    vocabularies, without a driver-side size probe.

    ``max_df`` (the document-frequency cap): shingles appearing in more
    than ``max_df`` documents are removed from *every* document's set
    before the join, and Jaccard is computed over the capped sets.  This
    cuts hot-shingle skew (boilerplate n-grams shared by everything) at
    the cost of redefining the similarity universe; None (default) keeps
    exact semantics.

    Shingles are xxhash64-hashed up front: set cardinalities (and hence
    Jaccard) are preserved (64-bit collisions are negligible), while the
    index join and the array intersections run on longs instead of
    strings — a constant-factor but large win at any scale.
    """
    unique_texts = _resolve_unique_texts(df, text_col, unique_texts)
    if unique_texts:
        reps, members = _text_groups(df, id_col, text_col)
        inner = ngram_jaccard_pairs(
            reps,
            "id",
            text_col,
            k=k,
            threshold=threshold,
            prefix_filter=prefix_filter,
            max_df=max_df,
            unique_texts=False,
            weight_col="n_copies",
        )
        if max_df is None:
            active = reps.filter(F.size(shingles(text_col, k)) > 0).select("gid")
        else:
            # direct-path parity: a doc whose every shingle is df-capped
            # away has an empty capped set and emits NO pairs — groups
            # are active only if >=1 shingle survives the (weighted) cap
            sh_w = reps.select(
                "gid", "n_copies", F.explode(shingles(text_col, k)).alias("_s")
            )
            kept_shingles = (
                sh_w.groupBy("_s")
                .agg(F.sum("n_copies").alias("_df"))
                .filter(F.col("_df") <= max_df)
                .select("_s")
            )
            active = sh_w.join(kept_shingles, "_s", "left_semi").select("gid").distinct()
        return _expand_pairs(inner, members, active, {"jaccard": F.lit(1.0)})

    wcols = [F.col(weight_col).alias("_w")] if weight_col else []
    sets_df = spread(df).select(
        F.col(id_col).alias("id"),
        F.transform(shingles(text_col, k), lambda x: F.xxhash64(x)).alias("arr"),
        *wcols,
    )

    if not prefix_filter:
        # naive full inverted-index self-join (correctness baseline)
        sets_df = cache.persist(sets_df.withColumn("n", F.size("arr")))
        sh = sets_df.select("id", F.explode("arr").alias("s"))
        sa = sets_df.select(F.col("id").alias("id1"), F.col("n").alias("na"))
        sb = sets_df.select(F.col("id").alias("id2"), F.col("n").alias("nb"))
        a, b = sh.alias("a"), sh.alias("b")
        overlap = (
            a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
            .agg(F.count(F.lit(1)).alias("ov"))
            .join(sa, "id1")
            .join(sb, "id2")
        )
        return overlap.select(
            "id1",
            "id2",
            (
                F.col("ov").cast("double")
                / (F.col("na") + F.col("nb") - F.col("ov")).cast("double")
            ).alias("jaccard"),
        ).filter(F.col("jaccard") >= threshold)

    sh = sets_df.select("id", *(["_w"] if weight_col else []), F.explode("arr").alias("s"))
    df_term = F.sum("_w") if weight_col else F.count(F.lit(1))
    freq = sh.groupBy("s").agg(df_term.cast("long").alias("df"))
    sh = sh.drop("_w")
    if max_df is not None:
        freq = freq.filter(F.col("df") <= max_df)

    # inner join both applies the df-cap and attaches df for ranking;
    # AQE broadcasts it at runtime when the vocabulary turns out small
    fj = sh.join(freq, "s")
    enc = (
        fj.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "s"))).alias("ranked"))
        .select(
            "id",
            F.transform("ranked", lambda r: r["s"]).alias("iarr"),
            F.size("ranked").alias("n"),
        )
    )
    # enc feeds three plan branches (prefix index, both verify sides)
    enc = cache.persist(enc)
    # exact rational threshold arithmetic: float ceil() rounds ABOVE the
    # true ceiling for many (threshold, size) combos (e.g. t=0.16,
    # na+nb=29 -> float alpha 5 vs true 4), silently over-pruning pairs
    # whose Jaccard sits exactly on the bound.  t = tp/tq exactly
    # (Fraction of the decimal literal); every bound becomes integer
    # ceil-division, bit-exact at any size.
    from fractions import Fraction

    frac = Fraction(str(threshold))
    tp, tq = frac.numerator, frac.denominator
    # ceil(t*n) = (tp*n + tq - 1) div tq
    plen = (
        F.col("n") - F.floor((F.lit(tp) * F.col("n") + F.lit(tq - 1)) / F.lit(tq)) + 1
    ).cast("int")
    prefix = enc.select(
        "id", "n", F.posexplode(F.slice("iarr", F.lit(1), plen))
    ).select("id", "n", (F.col("pos") + 1).alias("rnk"), F.col("col").alias("s"))

    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter: a pair with J >= t needs overlap >=
    # alpha = ceil(t/(1+t)·(na+nb)); from a shared prefix element at
    # positions (ra, rb) the overlap can reach at most
    # 1 + min(na-ra, nb-rb).  The earliest shared element gives the
    # largest bound, so keeping pairs where ANY shared row passes is
    # exact while cutting candidates ~7x on dense corpora.
    na_, nb_ = F.col("a.n"), F.col("b.n")
    # alpha = ceil(t/(1+t) * (na+nb)) = ceil(tp*(na+nb) / (tp+tq)) — same
    # exact integer ceil-division as plen above
    alpha = F.floor(
        (F.lit(tp) * (na_ + nb_) + F.lit(tp + tq - 1)) / F.lit(tp + tq)
    )
    ubound = F.lit(1) + F.least(na_ - F.col("a.rnk"), nb_ - F.col("b.rnk"))
    arrs1 = enc.select(F.col("id").alias("id1"), F.col("iarr").alias("arr1"))
    arrs2 = enc.select(F.col("id").alias("id2"), F.col("iarr").alias("arr2"))
    overlap = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .filter(
            (ubound >= alpha)
            # length filter folded into the candidate join (exact:
            # nb >= t*na <=> tq*nb >= tp*na on integers)
            & (F.lit(tq) * nb_ >= F.lit(tp) * na_)
            & (F.lit(tq) * na_ >= F.lit(tp) * nb_)
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            na_.alias("na"),
            nb_.alias("nb"),
        )
        .dropDuplicates(["id1", "id2"])
        # verify with a per-pair JVM set intersection (no second
        # explode/shuffle); Catalyst/AQE broadcasts the array table when
        # it is small enough, else this shuffles on doc id
        .join(arrs1, "id1")
        .join(arrs2, "id2")
        .select(
            "id1",
            "id2",
            "na",
            "nb",
            F.size(F.array_intersect("arr1", "arr2")).alias("ov"),
        )
    )
    return overlap.select(
        "id1",
        "id2",
        (
            F.col("ov").cast("double") / (F.col("na") + F.col("nb") - F.col("ov")).cast("double")
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


# --- MinHash + LSH ----------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    k: int = 2,
    portable_hash: bool = False,
) -> DataFrame:
    """(id, sig array<long>) — minhash of the word-k-shingle set.

    Each permutation is ``(a * xxhash64(shingle) + b) mod 2^64`` (odd
    ``a`` ⇒ bijection), realized as wrapping 64-bit arithmetic; the
    signature component is the min over the document's shingles —
    computed as pure per-row array math (narrow map stage, zero shuffle).

    ``portable_hash=True`` swaps xxhash64 for the polynomial char hash
    and permutations mod 2^31-1 — slower per row but reproducible in the
    DuckDB oracle, so the whole LSH pipeline is value-verifiable.
    """
    # map-side only: the whole signature is ONE fold over the per-doc hash
    # array (hashing.minhash_signature) — no explode, no groupBy, no
    # shuffle.  One pass over the hashes (vs num_hashes array_min/transform
    # passes) and one compact expression tree — measured 27% faster per
    # row with byte-identical output.  Docs with no shingles are dropped
    # (same semantics as the explode+groupBy formulation this replaces).
    hashed = spread(df).select(
        F.col(id_col).alias("id"),
        hashing.shingle_hashes(text_col, k, portable_hash).alias("harr"),
    )
    sig = hashing.minhash_signature(
        F.col("harr"), num_hashes, portable_hash, df.sparkSession
    )
    return hashed.filter(F.size("harr") > 0).select("id", sig.alias("sig"))


def _banded_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    k: int,
    portable_hash: bool,
) -> DataFrame:
    """(id, sig, band, bh): one row per document per LSH band — the
    bucket table both the candidate join and the hot-bucket audit use."""
    rows = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, k, portable_hash)

    band_cols = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                hashing.band_hash("sig", i, rows, portable_hash).alias("bh"),
            )
            for i in range(bands)
        ]
    )
    return sig.select("id", "sig", F.explode(band_cols).alias("b")).select(
        "id", "sig", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def minhash_hot_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 2,
    max_bucket: int = 1000,
    portable_hash: bool = False,
) -> DataFrame:
    """(band, bh, n_docs) for every LSH bucket EXCEEDING ``max_bucket`` —
    the audit twin of the anti-spam cap in :func:`minhash_lsh_pairs`.

    The cap silently drops whole buckets (a non-byte-identical near-dup
    group larger than the cap loses all its pairs); this diagnostic makes
    that loss observable without paying for it inside the lazy candidate
    plan: run it per corpus/cap change, alert when it returns rows, and
    either raise the cap or pre-collapse the offending spam group.
    """
    buckets = _banded_buckets(df, id_col, text_col, num_hashes, bands, k, portable_hash)
    return (
        buckets.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 2,
    max_bucket: int = 1000,
    unique_texts: bool | str = "auto",
    portable_hash: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over minhash signatures.

    Signature is cut into ``bands`` bands of ``num_hashes/bands`` rows;
    docs sharing any band hash become candidates.  Output: (id1, id2,
    est_jaccard) where est_jaccard = fraction of matching signature
    components.  ``max_bucket`` caps pathological buckets (all-identical
    spam) to keep the pair fan-out linear — buckets over the cap are
    dropped WHOLE (recall loss for giant non-byte-identical near-dup
    groups); audit what a cap drops with :func:`minhash_hot_buckets`.  ``unique_texts`` runs LSH on
    distinct texts and expands copy groups afterwards (est=1.0 within a
    group — exactly what identical signatures would estimate).
    """
    unique_texts = _resolve_unique_texts(df, text_col, unique_texts)
    if unique_texts:
        reps, members = _text_groups(df, id_col, text_col)
        inner = minhash_lsh_pairs(
            reps,
            "id",
            text_col,
            num_hashes,
            bands,
            k,
            max_bucket,
            unique_texts=False,
            portable_hash=portable_hash,
        )
        active = reps.filter(F.size(shingles(text_col, k)) > 0).select("gid")
        return _expand_pairs(inner, members, active, {"est_jaccard": F.lit(1.0)})
    buckets = _banded_buckets(df, id_col, text_col, num_hashes, bands, k, portable_hash)
    # materialize bucketed signatures once: the hot-bucket aggregate and
    # both sides of the candidate self-join otherwise each recompute the
    # full signature pipeline (three times total — no automatic exchange
    # reuse through aliases).  Signatures are ~bands x 16 bytes per doc,
    # trivial next to the corpus; released with the caller's cache
    # scope.  Same persist-the-signature-table step any production
    # LSH deployment performs.
    buckets = cache.persist(buckets)
    if max_bucket is not None:
        # hot-bucket cap as a window count over (band, bh): the window's
        # hash partitioning is exactly the candidate join's distribution,
        # so the filter rides the shuffle the join needs anyway — 25%
        # faster than the aggregate + broadcast anti-join formulation,
        # same rows.
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bh")
        buckets = (
            buckets.withColumn("_bc", F.count(F.lit(1)).over(w))
            .filter(F.col("_bc") <= max_bucket)
            .drop("_bc")
        )
    a, b = buckets.alias("a"), buckets.alias("b")
    # est is computed BEFORE the pair dedup so the dedup shuffle carries
    # (id1, id2, double) instead of two 64-long signature arrays — ~8x
    # fewer shuffle bytes per candidate, which is the dominant exchange
    # at scale.  Duplicate (id1, id2) rows (pairs sharing several bands)
    # carry identical est values, so min() is exact dedup.
    est = F.size(
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
            lambda m: m,
        )
    ).cast("double") / F.lit(float(num_hashes))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            est.alias("est_jaccard"),
        )
        .groupBy("id1", "id2")
        .agg(F.min("est_jaccard").alias("est_jaccard"))
    )


def minhash_dedup_verified(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 2,
    unique_texts: bool | str = "auto",
    max_bucket: int | None = 1000,
) -> DataFrame:
    """LSH candidates verified with *exact* Jaccard on the shingle sets.

    The scalable two-phase plan: LSH prunes the pair space from O(n²) to
    bucket-local candidates, then exact verification computes true Jaccard
    only for candidates.  Output matches an exact all-pairs similarity
    join above ``threshold`` up to (a) LSH recall (≈1-4e-8 at j≥0.9 with
    64/16 banding) and (b) the ``max_bucket`` anti-spam cap: a
    NON-byte-identical near-dup group larger than ``max_bucket`` floods
    its buckets and is dropped whole — pass ``max_bucket=None`` to trade
    that recall guarantee for unbounded bucket fan-out.  (Byte-identical
    groups are exempt: the ``unique_texts`` routing collapses them before
    bucketing.)  ``unique_texts``: candidates + verification run on
    distinct texts, copy groups expand afterwards (J=1.0 within a group).
    """
    unique_texts = _resolve_unique_texts(df, text_col, unique_texts)
    if unique_texts:
        reps, members = _text_groups(df, id_col, text_col)
        inner = minhash_dedup_verified(
            reps,
            "id",
            text_col,
            threshold,
            num_hashes,
            bands,
            k,
            unique_texts=False,
            max_bucket=max_bucket,
        )
        active = reps.filter(F.size(shingles(text_col, k)) > 0).select("gid")
        return _expand_pairs(inner, members, active, {"jaccard": F.lit(1.0)})
    cand = minhash_lsh_pairs(
        df, id_col, text_col, num_hashes, bands, k, max_bucket, unique_texts=False
    ).select("id1", "id2")
    sets_df = spread(df).select(F.col(id_col).alias("id"), shingles(text_col, k).alias("arr"))
    arrs1 = sets_df.select(F.col("id").alias("id1"), F.col("arr").alias("arr1"))
    arrs2 = sets_df.select(F.col("id").alias("id2"), F.col("arr").alias("arr2"))
    ov = F.size(F.array_intersect("arr1", "arr2"))
    union = F.size("arr1") + F.size("arr2") - ov
    return (
        cand.join(arrs1, "id1")
        .join(arrs2, "id2")
        .select("id1", "id2", (ov.cast("double") / union.cast("double")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --- SimHash ----------------------------------------------------------------


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    portable_hash: bool = False,
) -> DataFrame:
    """(id, simhash long) — bit-vote simhash over token hashes.

    Pure per-row array math (narrow map stage, zero shuffle): bit_j(doc)
    is set iff more than half the token occurrences have bit j set in
    their hash (equivalent to the classic ±1 vote sum being positive).
    Each token *occurrence* votes, as in the explode+aggregate
    formulation this replaces; docs with no tokens are dropped.

    ``portable_hash=True``: polynomial char hash (31-bit) instead of
    xxhash64 — pass ``bits<=31``; every vote is DuckDB-reproducible so
    the whole pipeline carries an oracle.
    """
    token_hash = hashing.portable_hash_expr if portable_hash else F.xxhash64
    if portable_hash and bits > 31:
        raise ValueError("portable simhash carries at most 31 bits")
    hashed = spread(df).select(
        F.col(id_col).alias("id"),
        F.transform(tokens(text_col), lambda x: token_hash(x)).alias("harr"),
    )
    # one fold over the hash array: the accumulator is the per-bit
    # set-count vector, updated via zip_with against the literal mask
    # array (vs ``bits`` filter passes — 24% faster, identical output).
    # mask == bitval: 1<<j as signed 64-bit (bit 63 is the sign bit).
    zero = F.lit(0).cast("long")
    masks = F.array(*[F.lit(hashing.signed64(1 << j)).cast("long") for j in range(bits)])
    n = F.size("harr")
    counts = F.aggregate(
        F.col("harr"),
        F.array_repeat(zero, bits),
        lambda acc, h: F.zip_with(
            acc, masks, lambda c, m: c + F.when(h.bitwiseAND(m) != 0, 1).otherwise(0)
        ),
    )
    # majority vote per bit: set bit j (add its mask) iff count*2 > n
    sig = F.aggregate(
        F.zip_with(
            counts,
            masks,
            lambda c, v: F.when(c * 2 > n.cast("long"), v).otherwise(zero),
        ),
        zero,
        lambda a, x: a + x,
    )
    return hashed.filter(n > 0).select("id", sig.alias("simhash"))


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int | None = None,
    unique_texts: bool | str = "auto",
    bits: int = 64,
    portable_hash: bool = False,
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance <= max_hamming.

    Pigeonhole banding: split the ``bits``-bit signature into ``blocks``
    blocks; any pair within distance < blocks shares at least one exact
    block, so candidates come from equality joins on block values
    (shuffle on block key), then exact popcount verification.
    Completeness therefore requires ``max_hamming < blocks``:
    ``blocks=None`` (default) picks the smallest divisor of ``bits``
    greater than ``max_hamming``; an explicit value that violates the
    bound raises rather than silently missing pairs.  ``unique_texts``:
    signatures and banding on distinct texts, copy groups expand
    afterwards (Hamming 0 within a group — identical text ⇒ identical
    signature).
    """
    if blocks is None:
        blocks = next(
            (d for d in range(max_hamming + 1, bits + 1) if bits % d == 0), None
        )
        if blocks is None:
            raise ValueError(f"no block count > max_hamming={max_hamming} divides bits={bits}")
    if bits % blocks != 0:
        raise ValueError(f"blocks={blocks} must divide bits={bits}")
    if max_hamming >= blocks:
        raise ValueError(
            f"pigeonhole banding needs max_hamming < blocks "
            f"(got max_hamming={max_hamming}, blocks={blocks}): pairs at "
            f"distance >= blocks can differ in every block and would be missed"
        )
    unique_texts = _resolve_unique_texts(df, text_col, unique_texts)
    if unique_texts:
        reps, members = _text_groups(df, id_col, text_col)
        inner = simhash_dedup_pairs(
            reps,
            "id",
            text_col,
            max_hamming,
            blocks,
            unique_texts=False,
            bits=bits,
            portable_hash=portable_hash,
        )
        active = reps.filter(F.size(tokens(text_col)) > 0).select("gid")
        return _expand_pairs(
            inner, members, active, {"hamming": F.lit(0).cast("int")}
        )
    sig = simhash(df, id_col, text_col, bits, portable_hash)
    width = bits // blocks
    block = lambda c, i: F.shiftrightunsigned(c, i * width).bitwiseAND(F.lit((1 << width) - 1))  # noqa: E731
    blocked = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("blk"), block(F.col("simhash"), i).alias("bv"))
                    for i in range(blocks)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", F.col("b.blk").alias("blk"), F.col("b.bv").alias("bv"))
    # materialize the blocked signatures once: the self-join otherwise
    # recomputes the whole signature pipeline on BOTH sides (no automatic
    # exchange reuse through the alias) — measured 2.3x on sf0.1.  At
    # scale this is the standard "persist the signature table" step:
    # 8 bytes+block keys per doc, trivial next to the corpus.
    blocked = cache.persist(blocked)
    a, b = blocked.alias("a"), blocked.alias("b")
    # popcount before the pair dedup: the dedup shuffle carries one int
    # per candidate instead of two signatures, and the hamming filter
    # prunes the candidate set pre-shuffle
    dist = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            dist.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("id1", "id2")
        .agg(F.min("hamming").alias("hamming"))
    )


# --- winnowing fingerprint join ----------------------------------------------


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints (id1, id2, n_shared).

    The plagiarism-detection formulation: documents sharing >= min_shared
    selected rolling-hash fingerprints (text.winnow_fingerprints) are
    candidates; any shared substring of length k+window-1 guarantees a
    shared fingerprint.  Physical plan is the standard inverted-index
    similarity join — one shuffle on the fingerprint key, with a
    document-frequency cap dropping boilerplate fingerprints (hot-key
    skew control at corpus scale).
    """
    from opteryx_spark.operators.text import winnow_fingerprints

    # materialize the exploded fingerprints once (r11): the df-cap
    # aggregate and both sides of the self-join otherwise re-run the
    # rolling-hash fingerprint pipeline (three times total — the
    # minhash_lsh_pairs persist precedent)
    fps = cache.persist(
        spread(df).select(
            F.col(id_col).alias("id"),
            F.explode(winnow_fingerprints(text_col, k, window)).alias("fp"),
        )
    )
    if max_df is not None:
        hot = fps.groupBy("fp").count().filter(F.col("count") > max_df).select("fp")
        fps = fps.join(F.broadcast(hot), "fp", "left_anti")
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --- near-dup grouping: connected components over a pair list ---------------


def connected_components(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iter: int = 20,
) -> DataFrame:
    """(node, comp): each node labeled with the min id reachable through
    the pair graph — the grouping step that turns near-dup PAIRS into
    keep-one-per-cluster decisions.

    Standard distributed label propagation (the Pregel/large-star
    pattern): each round every node takes the min label among itself and
    its neighbours; converges in O(diameter) rounds.  Near-dup clusters
    are shallow (mirrors of one page), so ``max_iter=20`` is far beyond
    any real diameter; iteration stops early on convergence.  Each round
    materializes via ``cache.checkpoint`` to keep lineage flat — the loop
    is driver-controlled but all data movement is joins/groupBys.
    Superseded rounds are released inside the loop, so only the final
    labels stay pinned.  Materialize the result inside the caller's
    ``cache_scope()``.

    The convergence check rides the round's own materialization: the
    label-update join already sees both the old label and the neighbour
    min, so a ``_chg`` flag column is computed there and the check is a
    ``LIMIT 1`` scan of the just-checkpointed frame — no separate
    old-vs-new shuffle join per round.
    """
    edges = pairs.select(F.col(id1).alias("a"), F.col(id2).alias("b"))
    edges = cache.checkpoint(
        edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    )
    pinned = labels = cache.checkpoint(
        edges.select("a").distinct().select(
            F.col("a").alias("node"), F.col("a").alias("comp")
        )
    )
    changed = 0
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("comp").alias("ncomp"))
        )
        new = cache.checkpoint(
            labels.join(neigh, labels["node"] == neigh["a"], "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("ncomp", F.col("comp"))).alias("comp"),
                # new comp differs from old comp exactly when a strictly
                # smaller neighbour label arrived (NULL ncomp -> NULL ->
                # excluded by the filter below, same as unchanged)
                (F.col("ncomp") < F.col("comp")).alias("_chg"),
            )
        )
        changed = new.filter(F.col("_chg")).limit(1).count()
        cache.release(pinned)  # superseded round — keep only the latest
        pinned, labels = new, new.select("node", "comp")
        if changed == 0:
            break
    cache.release(edges)  # final labels are checkpointed; edges no longer needed
    if changed != 0:
        # min-label propagation advances one hop per round, so a cluster
        # whose diameter exceeds max_iter would otherwise return STALE
        # labels — multiple keepers per cluster downstream, silently.
        # Near-dup graphs are shallow; hitting this means the graph is
        # chain-shaped (or max_iter was lowered) and the caller must say so.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds (a component's diameter exceeds it); raise max_iter"
        )
    return labels


def dedup_against_corpus(
    new_docs: DataFrame,
    reference_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "digest",
) -> DataFrame:
    """Incremental exact dedup: flag new documents whose content key
    already exists in an accepted reference corpus (the every-crawl-cycle
    operation — dedup the delta against everything already kept, without
    re-deduping the whole corpus).

    ``method="digest"`` keys on md5 of the normalized text (byte-exact
    after lowercase/whitespace collapse); ``method="fingerprint"`` keys
    on the sorted-distinct-token-set md5 (word-permutation duplicates
    collide).  Returns the new docs with ``already_in_corpus`` appended;
    callers anti-filter or audit.  The reference side reduces to a
    distinct key set before the join (its width never travels), so at
    scale this is one digest-keyed join the optimizer can broadcast when
    the reference key set fits, or shuffle-partition when it doesn't —
    both correct, both single-pass over the delta.
    """
    from opteryx_spark.operators import text as _text

    if method == "fingerprint":
        key = _text.fingerprint(text_col)
    elif method == "digest":
        key = F.md5(_text.normalize_text(text_col))
    else:
        raise ValueError("method must be 'digest' or 'fingerprint'")
    ref = (
        reference_docs.select(key.alias("_digest"))
        .distinct()
        .withColumn("_seen", F.lit(True))
    )
    return (
        new_docs.withColumn("_digest", key)
        .join(ref, "_digest", "left")
        .withColumn("already_in_corpus", F.col("_seen").isNotNull())
        .drop("_digest", "_seen")
    )


def corpus_digests(
    reference_docs: DataFrame,
    text_col: str = "text",
    method: str = "digest",
) -> DataFrame:
    """The byte-exact member of the incremental-dedup artifact family
    (:func:`window_digests` for exact-substring, :func:`minhash_index`
    for near-dup): the accepted corpus's distinct content-key set as a
    one-column ``_digest`` frame.  Persist to parquet once per corpus
    change; every crawl cycle joins its delta against it
    (:func:`curate.curate_incremental <opteryx_spark.operators.curate.curate_incremental>`
    or a bare key join) without re-hashing the corpus.  Same key
    definitions as :func:`dedup_against_corpus`."""
    from opteryx_spark.operators import text as _text

    if method == "fingerprint":
        key = _text.fingerprint(text_col)
    elif method == "digest":
        key = F.md5(_text.normalize_text(text_col))
    else:
        raise ValueError("method must be 'digest' or 'fingerprint'")
    return reference_docs.select(key.alias("_digest")).distinct()


def duplicate_chunk_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    min_chunk_tokens: int = 8,
) -> DataFrame:
    """Per-document fraction of token-window chunks that also occur in
    ANOTHER document — the window-level twin of C4's line-frequency pass
    and RefinedWeb's F_dup metrics, for corpora without line structure.

    Documents are cut into non-overlapping ``chunk_tokens`` windows
    (``text.chunk_documents`` with overlap 0); windows shorter than
    ``min_chunk_tokens`` (ragged tails) are ignored; a window is a
    duplicate when the SAME md5'd window text appears in at least one
    other document.  Appends ``n_chunks``, ``n_dup_chunks`` and
    ``dup_chunk_frac`` (0-chunk docs → NULL frac).

    Scale shape: chunking is map-only; chunk keys aggregate by md5 digest
    (uniform — no skew even for a million-fold repeated window); the
    cross-doc-duplicate key set joins back onto the slim (id, digest)
    pairs.  No all-pairs, exchanges carry digests not text.
    """
    from opteryx_spark.operators.text import chunk_documents

    chunks = (
        chunk_documents(df, id_col, text_col, max_tokens=chunk_tokens, overlap=0)
        .filter(F.col("n_chunk_tokens") >= min_chunk_tokens)
        .select(F.col(id_col).alias("_did"), F.md5(F.col("chunk_text")).alias("_ck"))
    )
    dup_keys = (
        chunks.groupBy("_ck")
        .agg(F.count_distinct("_did").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("_ck")
        .withColumn("_dup", F.lit(True))
    )
    per_doc = (
        chunks.join(dup_keys, "_ck", "left")
        .groupBy("_did")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count(F.col("_dup")).alias("n_dup_chunks"),
        )
    )
    return (
        df.join(per_doc, df[id_col] == per_doc["_did"], "left")
        .drop("_did")
        .withColumn("n_chunks", F.coalesce(F.col("n_chunks"), F.lit(0).cast("long")))
        .withColumn("n_dup_chunks", F.coalesce(F.col("n_dup_chunks"), F.lit(0).cast("long")))
        .withColumn(
            "dup_chunk_frac",
            F.when(
                F.col("n_chunks") > 0,
                F.col("n_dup_chunks").cast("double") / F.col("n_chunks").cast("double"),
            ),
        )
    )


def remove_duplicate_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    min_chunk_tokens: int = 8,
) -> DataFrame:
    """Exact substring dedup that ACTS (the Lee et al. 2021 ExactSubstr
    analogue, tiled): cut documents into non-overlapping ``chunk_tokens``
    windows, keep exactly ONE occurrence of every duplicated window
    corpus-wide (the occurrence first in the canonical
    (md5(id), id, chunk_idx) order — reproducible on any partitioning),
    drop the rest, and rebuild each document from its surviving chunks in
    original order.  ``duplicate_chunk_fraction`` measures; this removes.

    Windows shorter than ``min_chunk_tokens`` (ragged tails) are exempt —
    always kept, never counted as duplicates.  Within-doc repeats of a
    window are removed like cross-doc ones (corpus-wide exact-substring
    semantics).  Appends ``n_chunks`` (all windows), ``n_removed_chunks``
    and ``cleaned_text`` (token-joined, so output whitespace is
    normalized exactly like the chunker's).  NULL text → NULL outputs.

    Scale shape: chunking is map-only; the keep/remove decision is a
    ``min(struct)`` AGGREGATE over the slim (digest, id, idx) frame —
    not a rank window: an aggregate partial-combines map-side, so a
    million-fold repeated spam window reduces to one row per partition
    before the exchange, where a window would sort the whole hot-digest
    partition in a single task.  Text never enters the digest-keyed
    exchange; removals join back per (id, idx) and the rebuild is one
    id-keyed reduce.  No all-pairs, no driver collect.  The plan reads
    the (id, text) projection a small constant number of times
    (keeper pass, mark pass, outer join) — linear; persist the output
    before composing further rewrite stages (see
    ``curate.curate_corpus_v3``).
    """
    from opteryx_spark.operators.text import chunk_documents

    ch = chunk_documents(
        df.filter(F.col(text_col).isNotNull()),
        id_col,
        text_col,
        max_tokens=chunk_tokens,
        overlap=0,
    ).select(
        F.col(id_col).alias("_did"), "chunk_idx", "chunk_text", "n_chunk_tokens"
    )
    okey = F.struct(
        F.md5(F.col("_did").cast("string")).alias("m"),
        F.col("_did").alias("i"),
        F.col("chunk_idx").alias("x"),
    )
    # r12 (guide §2.4, the winnow/containment persist precedent): the slim
    # digest frame feeds TWO consumers (keeper election + removal mark), so
    # without a persist the chunking subtree (tokenize + window transform +
    # explode + md5) executes for each — plus once more for the rebuild
    # below: 3 corpus chunking passes.  Persisting ONLY the digests
    # (_did, chunk_idx, _ck, _okey — no chunk text, so the cache stays
    # key-slim at any corpus size) cuts that to 2 (slim fill + rebuild).
    # Local sf0.1 wall-clock is neutral (1.43 vs 1.46 s interleaved); the
    # win is the removed corpus pass at scale.
    slim = cache.persist(
        ch.filter(F.col("n_chunk_tokens") >= min_chunk_tokens)
        .select("_did", "chunk_idx", F.md5("chunk_text").alias("_ck"))
        .withColumn("_okey", okey)
    )
    dup_keep = (
        slim.groupBy("_ck")
        .agg(F.min("_okey").alias("_keep"), F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("_ck", "_keep")
    )
    removed = (
        slim.join(dup_keep, "_ck")
        .filter(F.col("_okey") != F.col("_keep"))
        .select("_did", "chunk_idx")
        .withColumn("_rm", F.lit(True))
    )
    per_doc = (
        ch.join(removed, ["_did", "chunk_idx"], "left")
        .groupBy("_did")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count(F.col("_rm")).alias("n_removed_chunks"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rm").isNull(),
                                F.struct(F.col("chunk_idx"), F.col("chunk_text")),
                            )
                        )
                    ),
                    lambda s: s["chunk_text"],
                ),
            ).alias("cleaned_text"),
        )
    )
    nn = F.col(text_col).isNotNull()
    return (
        df.join(per_doc, df[id_col] == per_doc["_did"], "left")
        .drop("_did")
        .withColumn("n_chunks", F.when(nn, F.coalesce("n_chunks", F.lit(0).cast("long"))))
        .withColumn(
            "n_removed_chunks",
            F.when(nn, F.coalesce("n_removed_chunks", F.lit(0).cast("long"))),
        )
        .withColumn("cleaned_text", F.when(nn, F.coalesce("cleaned_text", F.lit(""))))
    )


def window_digests(
    df: DataFrame,
    text_col: str = "text",
    chunk_tokens: int = 32,
    min_chunk_tokens: int = 8,
) -> DataFrame:
    """Distinct md5 digests (column ``_ck``) of every eligible
    non-overlapping ``chunk_tokens`` window in a corpus — the reference
    index :func:`remove_chunks_in_corpus` and its streaming twin consume.
    Build it ONCE over the accepted corpus (offline); windows shorter
    than ``min_chunk_tokens`` are excluded (they are exempt from removal
    downstream).  One explode + digest-distinct: word-count shape.
    """
    from opteryx_spark.operators.text import chunk_documents

    return (
        chunk_documents(
            df.filter(F.col(text_col).isNotNull()).select(text_col),
            text_col,  # any column works as id here; chunker only reads text
            text_col,
            max_tokens=chunk_tokens,
            overlap=0,
        )
        .filter(F.col("n_chunk_tokens") >= min_chunk_tokens)
        .select(F.md5("chunk_text").alias("_ck"))
        .distinct()
    )


def remove_chunks_in_corpus(
    new_docs: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    min_chunk_tokens: int = 8,
) -> DataFrame:
    """Incremental exact-substring dedup that ACTS: remove from the new
    crawl every window whose text already exists in the ACCEPTED corpus
    (the keeper lives there), rebuild the new docs from survivors — the
    window-level acting twin of :func:`dedup_against_corpus`, run every
    crawl cycle without touching the accepted corpus again.

    ``reference`` is either the accepted corpus (chunked here) or a
    precomputed :func:`window_digests` frame (one ``_ck`` column).
    Output columns match :func:`remove_duplicate_chunks`: ``n_chunks``,
    ``n_removed_chunks``, ``cleaned_text``; NULL text → NULL outputs.
    Unlike the global operator there is no keeper election — membership
    in the reference IS the verdict, so the decision is one digest join
    (AQE broadcasts it when the index fits and shuffles it otherwise).
    """
    from opteryx_spark.operators.text import chunk_documents

    if reference.columns == ["_ck"]:
        ref = reference.distinct()
    else:
        ref = window_digests(reference, text_col, chunk_tokens, min_chunk_tokens)
    ref = ref.withColumn("_rm", F.lit(True))

    ch = chunk_documents(
        new_docs.filter(F.col(text_col).isNotNull()),
        id_col,
        text_col,
        max_tokens=chunk_tokens,
        overlap=0,
    ).select(
        F.col(id_col).alias("_did"),
        "chunk_idx",
        "chunk_text",
        # short tails are exempt: NULL digest never joins the index
        F.when(
            F.col("n_chunk_tokens") >= min_chunk_tokens, F.md5("chunk_text")
        ).alias("_ck"),
    )
    per_doc = (
        ch.join(ref, "_ck", "left")
        .groupBy("_did")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count(F.col("_rm")).alias("n_removed_chunks"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rm").isNull(),
                                F.struct(F.col("chunk_idx"), F.col("chunk_text")),
                            )
                        )
                    ),
                    lambda s: s["chunk_text"],
                ),
            ).alias("cleaned_text"),
        )
    )
    nn = F.col(text_col).isNotNull()
    return (
        new_docs.join(per_doc, new_docs[id_col] == per_doc["_did"], "left")
        .drop("_did")
        .withColumn("n_chunks", F.when(nn, F.coalesce("n_chunks", F.lit(0).cast("long"))))
        .withColumn(
            "n_removed_chunks",
            F.when(nn, F.coalesce("n_removed_chunks", F.lit(0).cast("long"))),
        )
        .withColumn("cleaned_text", F.when(nn, F.coalesce("cleaned_text", F.lit(""))))
    )


def fuzzy_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_est_jaccard: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 2,
    max_bucket: int = 1000,
    unique_texts: bool | str = "auto",
    portable_hash: bool = False,
) -> DataFrame:
    """Fuzzy dedup that ACTS: MinHash-LSH candidate pairs → connected
    components → ONE canonical keeper per near-dup cluster (the min id,
    which is exactly the component label) → every doc annotated.

    This is the standard web-corpus fuzzy-dedup recipe (GPT-3 appendix A /
    RefinedWeb §3.3: MinHash clusters deduplicated to a single exemplar),
    composed from the proven stages: :func:`minhash_lsh_pairs` (signatures
    are map-side folds, banded buckets capped), est-Jaccard gate at
    ``min_est_jaccard``, :func:`connected_components` (label propagation,
    rounds bounded by cluster diameter — shallow for mirror clusters).

    Output: one row per input doc — ``id_col``, ``comp`` (cluster label =
    min member id; NULL for docs in no near-dup pair), ``kept`` (BOOLEAN:
    singleton or cluster keeper).  Filter ``kept`` for the deduplicated
    corpus; group by ``comp`` for cluster audits.

    Scale shape: the only corpus-sized exchanges are the LSH bucket join
    (slim (id, band, bh, sig) rows, hot buckets capped) and the final
    id-keyed label join; component propagation runs on the PAIR graph,
    which is orders of magnitude smaller than the corpus.  On a
    duplicate-heavy corpus (``unique_texts`` route) the clustering runs
    at the EXEMPLAR (distinct-text) level and members are relabeled
    afterwards — expanding copy groups into member-level pairs first is
    O(copies²) per group and made the sf5 stress run super-linear
    (PREFLIGHT_HEAVY_r10: 3.5× over the 5×-sf1 projection), while the
    component structure only needs the group→cluster mapping.

    ``max_bucket`` edge (the routes intentionally diverge here, same
    exemption as :func:`minhash_dedup_verified`'s docstring notes): a
    byte-identical copy group larger than ``max_bucket`` floods its own
    LSH buckets in the member-level route, so the cap drops them and the
    copies all come back ``kept=true`` — the cap is a bucket-join skew
    guard, and member-level pairing has no other way through it.  The
    exemplar route never builds those pairs (one exemplar row per
    bucket), so it clusters every active multi-copy group unconditionally
    and such a group keeps exactly one copy — the semantically intended
    outcome at corpus scale, where a 10⁶-copy boilerplate group is
    precisely what dedup exists to remove.  With ``unique_texts="auto"``
    the route (and therefore which edge semantics apply) is picked by the
    measured duplicate ratio; pass ``unique_texts`` explicitly when
    over-cap copy groups are possible and the distinction matters.  No driver
    collect; checkpoint blocks are released with the caller's
    ``cache_scope()``.
    """
    unique_texts = _resolve_unique_texts(df, text_col, unique_texts)
    if unique_texts:
        reps, members = _text_groups(df, id_col, text_col)
        inner = minhash_lsh_pairs(
            reps,
            "id",
            text_col,
            num_hashes=num_hashes,
            bands=bands,
            k=k,
            max_bucket=max_bucket,
            unique_texts=False,
            portable_hash=portable_hash,
        ).filter(F.col("est_jaccard") >= F.lit(float(min_est_jaccard)))
        glabels = connected_components(inner)  # gid -> component (a gid)
        # multi-copy ACTIVE groups (non-empty shingle set) in no exemplar
        # pair are near-dup clusters on their own — identical texts pair
        # at est 1.0 in the member-level formulation (and est 1.0 passes
        # any threshold <= 1.0, mirroring the expanded filter exactly)
        if float(min_est_jaccard) <= 1.0:
            active_multi = (
                reps.filter(
                    (F.col("n_copies") > 1) & (F.size(shingles(text_col, k)) > 0)
                )
                .select(F.col("gid").alias("node"), F.col("gid").alias("comp"))
            )
            glabels = glabels.unionByName(
                active_multi.join(
                    glabels.select(F.col("node").alias("_n")),
                    F.col("node") == F.col("_n"),
                    "left_anti",
                )
            )
        # relabel: the cluster label is the min MEMBER id of the cluster
        # (identical to CC over member-level pairs, where every node is a
        # member id) — one groupBy over clustered members, one join back
        m = members.join(glabels, members["gid"] == glabels["node"], "left")
        mins = (
            m.filter(F.col("comp").isNotNull())
            .groupBy("comp")
            .agg(F.min("id").alias("_min_id"))
        )
        # NULL member ids never join in the member-level formulation and
        # come back (comp NULL, kept true) — replicate that exactly
        comp_out = F.when(F.col("id").isNotNull(), F.col("_min_id"))
        return (
            m.join(mins, "comp", "left")
            .select(
                F.col("id").alias(id_col),
                comp_out.alias("comp"),
                (comp_out.isNull() | (comp_out == F.col("id"))).alias("kept"),
            )
        )
    pairs = minhash_lsh_pairs(
        df,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        k=k,
        max_bucket=max_bucket,
        unique_texts=False,
        portable_hash=portable_hash,
    ).filter(F.col("est_jaccard") >= F.lit(float(min_est_jaccard)))
    labels = connected_components(pairs)
    ids = df.select(F.col(id_col))
    return (
        ids.join(labels, ids[id_col] == labels["node"], "left")
        .select(
            F.col(id_col),
            F.col("comp"),
            (F.col("comp").isNull() | (F.col("comp") == F.col(id_col))).alias("kept"),
        )
    )


def minhash_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 2,
    portable_hash: bool = False,
) -> DataFrame:
    """Offline LSH index artifact of the accepted corpus: one row per
    (corpus doc, band) — ``(corpus_id, band, bh, sig)``.

    The fuzzy member of the incremental-dedup artifact family
    (:func:`window_digests` for exact-substring, the digest set inside
    :func:`dedup_against_corpus` for byte-exact): persist this to parquet
    (partition by ``band``) once per corpus change, and every crawl cycle
    dedups its delta against it via
    :func:`minhash_dedup_against_index` — the corpus is never re-signed.
    """
    return _banded_buckets(
        corpus, id_col, text_col, num_hashes, bands, k, portable_hash
    ).select(F.col("id").alias("corpus_id"), "band", "bh", "sig")


def minhash_dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 2,
    max_bucket: int = 1000,
    portable_hash: bool = False,
) -> DataFrame:
    """Incremental NEAR-dup dedup: flag new documents whose minhash
    est-Jaccard against any indexed corpus document reaches ``threshold``
    (the fuzzy twin of :func:`dedup_against_corpus`; membership in the
    accepted corpus IS the verdict, the keeper lives there).

    Appends to ``new_docs``: ``best_match_id`` (corpus id with max est,
    ties to the smallest id — deterministic), ``est_jaccard`` (both NULL
    when no qualifying match), ``in_corpus_near_dup`` (BOOLEAN).

    Scale shape: the delta's signatures are the same zero-shuffle per-row
    folds as :func:`minhash_signatures`; the only corpus-sized exchange is
    the (band, bh) bucket join against the index — the index side arrives
    pre-bucketed from parquet, hot corpus buckets beyond ``max_bucket``
    are dropped WHOLE (audit with :func:`minhash_hot_buckets`), and the
    per-new-doc best-match reduce is a ``min(struct)`` aggregate that
    partial-combines map-side.  ``num_hashes``/``bands``/``k``/
    ``portable_hash`` must match the values the index was built with.
    """
    nb = _banded_buckets(new_docs, id_col, text_col, num_hashes, bands, k, portable_hash)
    idx = index
    if max_bucket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bh")
        idx = (
            idx.withColumn("_bc", F.count(F.lit(1)).over(w))
            .filter(F.col("_bc") <= max_bucket)
            .drop("_bc")
        )
    nb = nb.select(
        F.col("id").alias("_nid"), F.col("sig").alias("_nsig"), "band", "bh"
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("_nsig"), F.col("sig"), lambda x, y: x == y),
            lambda m: m,
        )
    ).cast("double") / F.lit(float(num_hashes))
    qualifying = (
        nb.join(idx, ["band", "bh"])
        .select("_nid", "corpus_id", est.alias("_est"))
        # identical est on every shared band: min() is exact pair dedup
        .groupBy("_nid", "corpus_id")
        .agg(F.min("_est").alias("_est"))
        .filter(F.col("_est") >= F.lit(float(threshold)))
    )
    # (1 - est) is exact for the dyadic est values, so min(struct) picks
    # max est then min corpus id — map-side combinable, no rank window
    best = (
        qualifying.groupBy("_nid")
        .agg(
            F.min(
                F.struct(
                    (F.lit(1.0) - F.col("_est")).alias("_inv"),
                    F.col("corpus_id").alias("cid"),
                    F.col("_est").alias("est"),
                )
            ).alias("_b")
        )
        .select(
            "_nid",
            F.col("_b.cid").alias("best_match_id"),
            F.col("_b.est").alias("est_jaccard"),
        )
    )
    return (
        new_docs.join(best, new_docs[id_col] == best["_nid"], "left")
        .drop("_nid")
        .withColumn("in_corpus_near_dup", F.col("best_match_id").isNotNull())
    )


def _bloom_pos_exprs(h0, m_bits: int, k: int) -> list:
    """k bloom positions from a base hash: members 0..k-1 of the seeded
    ``hashing.hash32`` family (BIGINT-safe)."""
    return [hashing.hash32(h0, seed=i) % F.lit(m_bits) for i in range(k)]


def bloom_positions(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Bloom-filter artifact of a key set as a DISTINCT position table
    (one row per set bit) — mergeable by UNION, shippable as parquet, and
    value-verifiable because the hashes are the portable polynomial +
    degski family.

    The membership structure ``decontaminate_stream`` promises for
    100 TB: a corpus-scale digest set collapses to ≤ ``m_bits`` rows
    (125 KB of longs per 2^20 bits) that a prefilter joins or broadcasts,
    with NO false negatives by construction.
    """
    # bind the polynomial base hash to a named column first (r11): the k
    # position expressions otherwise each inline the whole char fold, so
    # every key paid k interpreted hash folds instead of one
    return (
        keys.filter(F.col(key_col).isNotNull())
        .select(hashing.portable_hash_expr(F.col(key_col)).alias("_h0"))
        .select(
            F.explode(
                F.array(*_bloom_pos_exprs(F.col("_h0"), m_bits, k))
            ).alias("pos")
        )
        .distinct()
    )


def bloom_prefilter(
    new_docs: DataFrame,
    positions: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Append ``bloom_hit`` to ``new_docs``: True when ALL ``k`` bloom
    positions of the row's key are present in the ``positions`` artifact
    (built with IDENTICAL ``m_bits``/``k``).  Guarantees: a key that IS
    in the indexed set always hits (no false negatives — safe as a
    dedup/decontamination prefilter); a miss is definitive.  False
    positives occur at the standard ``(1 - e^{-kn/m})^k`` rate and are
    resolved by the exact stage the prefilter gates.

    Scale shape: k rows per doc exploded, one position-keyed join
    (broadcast when the artifact is small, shuffle otherwise — AQE
    decides), one id-keyed count reduce.  NULL keys miss by contract.
    """
    probe = new_docs.select(F.col(key_col).alias("_key")).distinct()
    hits = (
        probe.filter(F.col("_key").isNotNull())
        # named-column base hash: k positions share ONE char fold (r11)
        .select("_key", hashing.portable_hash_expr(F.col("_key")).alias("_h0"))
        .select(
            "_key",
            F.explode(
                F.array(*_bloom_pos_exprs(F.col("_h0"), m_bits, k))
            ).alias("pos"),
        )
        .join(positions.withColumn("_in", F.lit(True)), "pos", "left")
        .groupBy("_key")
        .agg((F.count(F.col("_in")) == F.lit(k)).alias("bloom_hit"))
    )
    return (
        new_docs.join(hits, new_docs[key_col] == hits["_key"], "left")
        .drop("_key")
        .withColumn("bloom_hit", F.coalesce("bloom_hit", F.lit(False)))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_containment_ppm: int = 500_000,
    max_df: int | None = 1000,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT (Broder 1997's
    second measure): ``c(A→B) = |A∩B| / |A|`` — the doc-in-doc signal
    resemblance/Jaccard misses by construction.  A short document fully
    quoted inside a long one has tiny Jaccard (the union is huge) but
    containment ≈ 1 in the short→long direction; this is the detector
    for quote farms, wrapper pages, and subset-scrapes that survive
    :func:`ngram_jaccard_pairs`.

    Exact, not sketched: distinct word ``k``-shingles per doc, one
    inverted-index self-join on the shingle key (the :func:`winnow_pairs`
    plan shape — one shuffle, document-frequency cap dropping boilerplate
    shingles for hot-key skew control), intersection counts per pair,
    then BOTH directions' containments in truncating-ppm.  Denominators
    are the TRUE (uncapped) shingle counts while intersections only see
    non-hot shingles — the cap therefore makes containment estimates
    conservative (never inflated), the right direction for a dedup
    gate.  A pair
    surfaces when EITHER direction clears ``min_containment_ppm`` —
    callers keep the direction(s) they care about.  Shingle-less docs
    (< k tokens, NULL text) cannot be contained or containing — absent.

    Returns ``id1``, ``id2`` (id1 < id2), ``n_shared``, ``n_a``,
    ``n_b`` (BIGINT distinct-shingle counts), ``c_a_in_b_ppm``,
    ``c_b_in_a_ppm`` (BIGINT; containment of id1's shingles in id2's and
    vice versa — note both divide ``n_shared`` by the OWNING side's
    size).
    """
    from opteryx_spark.operators.text import shingles

    if k < 1:
        raise ValueError("k must be >= 1")
    if not (0 <= min_containment_ppm <= 1_000_000):
        raise ValueError("min_containment_ppm must be in [0, 1e6]")
    # materialize the exploded shingles once (r11): sizes, the df-cap
    # aggregate and both self-join sides otherwise re-run the shingle
    # explode four times (the minhash_lsh_pairs persist precedent)
    sh = cache.persist(
        spread(df).select(
            F.col(id_col).alias("id"), F.explode(shingles(text_col, k)).alias("sh")
        )
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_df is not None:
        hot = sh.groupBy("sh").count().filter(F.col("count") > max_df).select("sh")
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = (
        inter.join(sizes.select(F.col("id").alias("id1"), F.col("n_sh").alias("n_a")), "id1")
        .join(sizes.select(F.col("id").alias("id2"), F.col("n_sh").alias("n_b")), "id2")
        .select(
            "id1",
            "id2",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.expr("(n_shared * 1000000) div n_a").alias("c_a_in_b_ppm"),
            F.expr("(n_shared * 1000000) div n_b").alias("c_b_in_a_ppm"),
        )
    )
    return out.filter(
        (F.col("c_a_in_b_ppm") >= min_containment_ppm)
        | (F.col("c_b_in_a_ppm") >= min_containment_ppm)
    )
