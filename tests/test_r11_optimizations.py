"""Focused pins for the r11 operator restructures.

Each optimization in OPTIMIZATION_r11.md that changed an operator's
internals (named-column lag taps, two-step explode, named-hash bloom
positions, persisted self-join inputs) is pinned here against an
independent driver-side Python reference on randomized small frames —
so a future refactor cannot silently change semantics even where the
fixtures' oracle entries would not exercise the edge.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F


def _rand_rows(seed, n=200, users=7):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append(
            (
                i,
                rng.randrange(users),
                f"2024-01-{rng.randrange(1, 28):02d} {rng.randrange(24):02d}:{rng.randrange(60):02d}:00",
                round(rng.uniform(-5, 5), 3),
            )
        )
    return rows


@pytest.mark.parametrize("seed", [1, 2])
def test_ewma_named_taps_match_python_reference(spark, seed):
    """The r11 named-lag-column rewrite must equal the definitional EWMA:
    k-th most recent of the previous W values weighs 2^(W-k)."""
    from opteryx_spark.operators import events

    W = 5
    rows = _rand_rows(seed)
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["event_id"]: (r["n_prior"], r["ewma"])
        for r in events.ewma_features(df, window_rows=W).collect()
    }
    # python reference: sort per user by (ts, event_id), trailing window
    by_user: dict = {}
    for eid, uid, ts, val in rows:
        by_user.setdefault(uid, []).append((ts, eid, math.floor(val * 1000)))
    for uid, evs in by_user.items():
        evs.sort()
        for idx, (_, eid, _x) in enumerate(evs):
            prior = evs[max(0, idx - W) : idx]
            taps = [x for _, _, x in reversed(prior)]  # most recent first
            num = sum(x * (1 << (W - k)) for k, x in enumerate(taps, start=1))
            den = sum((1 << (W - k)) for k in range(1, len(taps) + 1))
            exp = (len(taps), (num / den) if den else None)
            assert out[eid] == exp, f"event {eid}: {out[eid]} != {exp}"


def test_postings_index_matches_python_reference(spark):
    """Two-step explode rewrite: tf/dl per (term, doc) unchanged, and dl
    is the doc's FULL token count (not per-term)."""
    from opteryx_spark.operators import retrieval

    docs = [(1, "a b a c"), (2, ""), (3, None), (4, "x  x"), (5, "a")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in retrieval.postings_index(df).collect()
    }
    exp = {}
    for did, text in docs:
        if not text:
            continue
        toks = [t for t in text.split(" ") if t != ""]
        for t in set(toks):
            exp[(t, did)] = (toks.count(t), len(toks))
    assert got == exp


def test_bloom_named_hash_no_false_negatives_and_positions(spark):
    """Named-column base hash: positions unchanged (k distinct-row table)
    and every indexed key still hits (no false negatives)."""
    from opteryx_spark.operators import dedup

    keys = spark.createDataFrame(
        [(f"key-{i}",) for i in range(50)] + [(None,)], "k string"
    )
    pos = dedup.bloom_positions(keys, "k", m_bits=4096, k=5)
    npos = pos.count()
    assert 0 < npos <= 50 * 5
    flagged = dedup.bloom_prefilter(keys, pos, "k", m_bits=4096, k=5)
    rows = {r["k"]: r["bloom_hit"] for r in flagged.collect()}
    assert all(rows[f"key-{i}"] for i in range(50))
    assert rows[None] is False  # NULL keys miss by contract


@pytest.mark.slow  # ~3 min brute-force pair sweep - full tier only
def test_lsh_cosine_pairs_norm_precompute_matches_bruteforce(spark):
    """Persisted-bucket + per-row-norm rewrite: every reported pair's
    cosim equals the sequential-fold cosine recomputed in Python."""
    from opteryx_spark.operators import similarity
    from opteryx_spark.operators.dedup import release_text_group_caches

    rng = random.Random(7)
    rows = [
        (i, [round(rng.uniform(-1, 1), 4) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = similarity.lsh_cosine_pairs(
        df, threshold=0.2, bands=2, planes_per_band=2, dim=8, seed=3
    ).collect()
    release_text_group_caches()
    vecs = {i: v for i, v in rows}

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (float(x) * float(y))
        return acc

    assert got, "LSH with 2x2 bands over 60 vecs must produce pairs"
    for r in got:
        a = [float(x) for x in spark.createDataFrame([(vecs[r["id1"]],)], "v array<float>").collect()[0]["v"]]
        b = [float(x) for x in spark.createDataFrame([(vecs[r["id2"]],)], "v array<float>").collect()[0]["v"]]
        exp = fold_dot(a, b) / (math.sqrt(fold_dot(a, a)) * math.sqrt(fold_dot(b, b)))
        assert r["cosim"] == exp
        assert r["cosim"] >= 0.2


def test_semantic_dedup_norm_precompute_matches_bruteforce(spark):
    """Per-row-norm rewrite of semantic_dedup: the kept set equals a
    Python brute-force within-cluster cosine dedup (keep-lowest-id)."""
    from opteryx_spark.operators import similarity

    rng = random.Random(11)
    rows = [
        (i, rng.randrange(4), [round(rng.uniform(-1, 1), 4) for _ in range(8)])
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label long, embedding array<float>")
    got = sorted(
        r["vec_id"]
        for r in similarity.semantic_dedup(df, "label", threshold=0.3).collect()
    )

    def as_float32(v):
        import struct as _s

        return [_s.unpack("f", _s.pack("f", x))[0] for x in v]

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (float(x) * float(y))
        return acc

    dropped = set()
    for i, li, vi in rows:
        for j, lj, vj in rows:
            if li == lj and i < j:
                a, b = as_float32(vi), as_float32(vj)
                cos = fold_dot(a, b) / (
                    math.sqrt(fold_dot(a, a)) * math.sqrt(fold_dot(b, b))
                )
                if cos >= 0.3:
                    dropped.add(j)
    exp = sorted(i for i, _, _ in rows if i not in dropped)
    assert got == exp


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_blocked_fuzzy_join_tagged_keys_match_reference(spark):
    """Tagged-explode single-join rewrite: the pair set equals the
    Python reference (prefix-OR-suffix block agreement, then exact
    levenshtein <= max_dist) — including short strings, identical
    strings, and edits at both ends."""
    from opteryx_spark.operators import joins

    rng = random.Random(5)
    alphabet = "abcde"
    names = ["".join(rng.choice(alphabet) for _ in range(rng.randrange(2, 10))) for _ in range(70)]
    left = [(i, nm) for i, nm in enumerate(names)]
    right = [(1000 + i, nm) for i, nm in enumerate(names[::-1])]
    ldf = spark.createDataFrame(left, "lid long, lname string")
    rdf = spark.createDataFrame(right, "rid long, rname string")
    got = sorted(
        (r["lid"], r["rid"], r["dist"])
        for r in joins.blocked_fuzzy_join(
            ldf, rdf, "lname", "rname", max_dist=2, block_len=4
        ).collect()
    )
    exp = set()
    for lid, ln in left:
        for rid, rn in right:
            blocked = ln[:4] == rn[:4] or ln[-4:] == rn[-4:]
            if blocked:
                d = _lev(ln, rn)
                if d <= 2:
                    exp.add((lid, rid, d))
    assert got == sorted(exp)


def test_triplet_mining_persisted_pairs_match_reference(spark):
    """Persisted pair-frame rewrite of triplet_mining: picks equal the
    Python reference (nearest same-label positive, nearest semi-hard
    negative, id tie-breaks) on a randomized panel."""
    from opteryx_spark.operators import similarity
    from opteryx_spark.operators.dedup import release_text_group_caches

    rng = random.Random(23)
    rows = [
        (i, rng.randrange(3), [round(rng.uniform(-1, 1), 3) for _ in range(6)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label long, embedding array<float>")
    anchors = df.filter(F.col("vec_id") % 10 == 0)
    got = {
        r["anchor_id"]: (r["pos_id"], r["pos_d2_q"], r["neg_id"], r["neg_d2_q"])
        for r in similarity.triplet_mining(anchors, df).collect()
    }
    release_text_group_caches()

    import struct as _s

    def q(v):
        return [math.floor(_s.unpack("f", _s.pack("f", x))[0] * 1000.0) for x in v]

    vecs = {i: q(v) for i, _, v in rows}
    labels = {i: l for i, l, _ in rows}
    exp = {}
    for a in [i for i, _, _ in rows if i % 10 == 0]:
        cands = [
            (sum((x - y) ** 2 for x, y in zip(vecs[a], vecs[c])), c)
            for c in vecs
            if c != a
        ]
        pos = sorted((d, c) for d, c in cands if labels[c] == labels[a])
        if not pos:
            continue
        pd2, pid = pos[0]
        neg = sorted((d, c) for d, c in cands if labels[c] != labels[a] and d > pd2)
        nd2, nid = neg[0] if neg else (None, None)
        exp[a] = (pid, pd2, nid, nd2)
    assert got == exp


def test_char_entropy_split_explode_matches_substr_reference(spark):
    """char_entropy now explodes ``split(_s, '')`` (the code-point array)
    instead of per-position ``substr`` — the pieces must be identical on
    EVERY code-point sequence, including astral-plane and combining-mark
    text the parquet fixtures never contain.  Reference: the replaced
    per-position formulation, rebuilt inline."""
    from opteryx_spark.operators.text import char_entropy, ln_micro_table

    rng = random.Random(7)
    pool = "ab XY 09 é 😀 𐍈 中 м \U0001D54A\U0001F3FD"
    rows = [(0, None), (1, ""), (2, "a"), (3, "😀"), (4, "a😀b é 中文"),
            (5, "x" * 600), (6, "😀" * 300)]
    for i in range(7, 60):
        n = rng.randrange(0, 80)
        rows.append((i, "".join(rng.choice(pool) for _ in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {r.doc_id: r for r in char_entropy(df).collect()}

    # reference: per-position substr explode (the pre-r11 formulation)
    prefix_len = 512
    lns = ln_micro_table(prefix_len)
    arr = F.array(*[F.lit(v).cast("bigint") for v in lns])
    s = F.substring(F.col("text"), 1, prefix_len)
    base = (
        df.filter(F.col("text").isNotNull() & (F.length(s) >= 1))
        .select(F.col("doc_id"), s.alias("_s"), F.length(s).alias("_len"))
        .select("doc_id",
                F.explode(F.sequence(F.lit(1), F.col("_len"))).alias("_i"),
                F.col("_s"))
        .select("doc_id", F.expr("substr(_s, _i, 1)").alias("_c"))
    )
    counts = base.groupBy("doc_id", "_c").agg(F.count(F.lit(1)).alias("_n"))
    agg = counts.groupBy("doc_id").agg(
        F.sum("_n").alias("n_chars_used"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.sum(F.col("_n") * F.element_at(arr, F.col("_n").cast("int"))).alias("_sum_cl"),
    )
    ref_rows = (
        agg.withColumn("_ln_n", F.element_at(arr, F.col("n_chars_used").cast("int")))
        .selectExpr("doc_id", "CAST(n_chars_used AS BIGINT) n",
                    "CAST(n_distinct_chars AS BIGINT) d",
                    "CAST((n_chars_used * _ln_n - _sum_cl) div n_chars_used AS BIGINT) h")
        .collect()
    )
    ref = {r.doc_id: r for r in ref_rows}
    for i, txt in rows:
        g = got[i]
        if txt is None or txt == "":
            assert g.n_chars_used is None and g.char_entropy_micronats is None
        else:
            assert (g.n_chars_used, g.n_distinct_chars, g.char_entropy_micronats) == (
                ref[i].n, ref[i].d, ref[i].h), (i, txt)


def test_named_column_rewrites_leak_no_temp_columns(spark):
    """The r11 named-column stagings (gopher _gq_*, lexical_diversity
    _lex_*, holt _hl_fold/_hw_fold) must not leak their temp columns, and
    must keep the documented output schemas exactly."""
    from opteryx_spark.operators import filtering, text, timeseries

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat the cat sat"), (2, None), (3, "a b a b a b")],
        "doc_id long, text string",
    )
    g = filtering.gopher_quality(docs)
    assert g.columns == [
        "doc_id", "text", "n_words", "mean_word_len", "alpha_word_frac",
        "stop_hits", "dup_2gram_chars", "top_2gram_chars", "total_2gram_chars",
        "dup_2gram_frac", "top_2gram_frac", "passes_gopher",
    ]
    lx = text.lexical_diversity(docs)
    assert lx.columns == [
        "doc_id", "text", "n_tokens", "n_types", "hapax", "ttr_ppm", "hapax_ppm",
    ]
    ser = spark.createDataFrame(
        [("k", i, (i * 7) % 13) for i in range(20)], "k string, t long, v long"
    )
    hl = timeseries.holt_linear(ser, ["k"], "t", "v")
    assert hl.columns == ["k", "n_points", "level_q", "trend_q", "forecast_next_q"]
    hw = timeseries.holt_winters(ser, ["k"], "t", "v", period=7)
    assert hw.columns == [
        "k", "n_points", "level_q", "trend_q", "season_next_q", "forecast_next_q",
    ]
    # spot value pin: hand-checkable 3-token doc — 'a b a b a b':
    # 6 tokens, 2 types, 0 hapax
    r = {x.doc_id: x for x in lx.collect()}[3]
    assert (r.n_tokens, r.n_types, r.hapax) == (6, 2, 0)


def test_boilerplate_persisted_grams_match_two_pass_reference(spark):
    """boilerplate_ngram_fraction now derives the hot set from the SAME
    persisted (doc, gram) frame it joins against, relying on shingles
    being distinct per doc (count(*) per gram == document frequency).
    Pin against the old two-pass formulation (independent hot_ngrams
    call) on a corpus with heavy INTRA-doc gram repetition — the case
    that would break if shingles ever stopped deduping per doc."""
    from opteryx_spark.operators import filtering, text
    from opteryx_spark.operators.dedup import release_text_group_caches

    rng = random.Random(23)
    vocab = ["the", "cat", "sat", "mat", "dog", "ran", "big", "red"]
    rows = []
    for i in range(120):
        toks = [rng.choice(vocab) for _ in range(rng.randrange(0, 30))]
        if i % 3 == 0:
            toks = toks + toks  # heavy intra-doc repetition
        rows.append((i, " ".join(toks) if toks else ("" if i % 2 else None)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = filtering.boilerplate_ngram_fraction(docs, k=3, max_df=4)

    # reference: the replaced two-pass form
    grams = docs.select(
        F.col("doc_id").alias("_bid"),
        F.explode(text.shingles("text", 3)).alias("_gram"),
    )
    hot = (
        filtering.hot_ngrams(docs, "text", 3, 4)
        .withColumnRenamed("gram", "_gram")
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
    ref = (
        docs.join(per_doc, docs["doc_id"] == per_doc["_bid"], "left")
        .drop("_bid")
        .withColumn("n_grams", F.coalesce(F.col("n_grams"), F.lit(0).cast("long")))
        .withColumn(
            "n_hot_grams", F.coalesce(F.col("n_hot_grams"), F.lit(0).cast("long"))
        )
        .withColumn(
            "boilerplate_frac",
            F.when(
                F.col("n_grams") > 0,
                F.col("n_hot_grams").cast("double") / F.col("n_grams").cast("double"),
            ),
        )
    )
    assert got.columns == ref.columns
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0
    # at least one gram must actually be hot for the pin to mean anything
    assert got.agg(F.sum("n_hot_grams")).first()[0] > 0
    release_text_group_caches()
