"""Unit tests for dedup / similarity / text / multimodal operators."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from opteryx_spark.operators import dedup, multimodal, similarity, text
from opteryx_spark.operators import similarity as S
from opteryx_spark.plans import explain_text
from opteryx_spark.suite._util import t


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return t(spark, sf_dir, "documents")


def test_exact_dedup_on_synthetic_dupes(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z"), (4, "a b c")], ["doc_id", "text"]
    )
    kept = dedup.content_hash_dedup(df)
    rows = {r["keep_id"]: r["n_copies"] for r in kept.collect()}
    assert rows == {1: 3, 3: 1}


def test_minhash_estimates_jaccard(spark):
    # two near-identical docs + one unrelated: est_jaccard must separate them
    base = " ".join(f"w{i}" for i in range(50))
    near = " ".join(f"w{i}" for i in range(49)) + " zz"
    other = " ".join(f"q{i}" for i in range(50))
    df = spark.createDataFrame([(1, base), (2, near), (3, other)], ["doc_id", "text"])
    pairs = {(r.id1, r.id2): r.est_jaccard for r in dedup.minhash_lsh_pairs(df, k=2).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.7
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_verified_equals_exact(docs):
    exact = {
        (r.id1, r.id2)
        for r in dedup.ngram_jaccard_pairs(docs, k=2, threshold=0.9).collect()
    }
    verified = {
        (r.id1, r.id2)
        for r in dedup.minhash_dedup_verified(docs, threshold=0.9, k=2).collect()
    }
    assert verified == exact  # LSH recall at j>=0.9 with 64/16 banding


def test_prefix_filter_equals_naive(docs):
    fast = {
        (r.id1, r.id2, round(r.jaccard, 9))
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    naive = {
        (r.id1, r.id2, round(r.jaccard, 9))
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8, prefix_filter=False).collect()
    }
    assert fast == naive


def test_simhash_close_for_near_dups(spark):
    base = " ".join(f"w{i}" for i in range(100))
    near = " ".join(f"w{i}" for i in range(99)) + " zz"
    other = " ".join(f"q{i}" for i in range(100))
    df = spark.createDataFrame([(1, base), (2, near), (3, other)], ["doc_id", "text"])
    sig = {r.id: r.simhash for r in dedup.simhash(df).collect()}
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert ham(sig[1], sig[2]) < ham(sig[1], sig[3])
    assert ham(sig[1], sig[2]) <= 8


def test_cosine_matches_python(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").limit(10).collect()
    v0 = [float(x) for x in emb[0]["embedding"]]
    v1 = [float(x) for x in emb[1]["embedding"]]
    expect = sum(a * b for a, b in zip(v0, v1)) / (
        math.sqrt(sum(a * a for a in v0)) * math.sqrt(sum(b * b for b in v1))
    )
    df = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == emb[1]["vec_id"])
    got = similarity.cosine_topk(df, v0, k=1).collect()[0]["cosim"]
    assert abs(got - expect) < 1e-12


def test_ann_lsh_recall_vs_brute_force(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in similarity.cosine_topk(rest, qvec, k=10).collect()]
    approx = [
        r.vec_id
        for r in similarity.hyperplane_lsh_topk(rest, qvec, k=10, probe_radius=3).collect()
    ]
    # uniform-random embeddings are LSH's worst case (no cluster structure);
    # radius-3 multiprobe must still recover part of the true top-10
    assert len(set(exact) & set(approx)) >= 2


def test_ann_sq8_recall_vs_brute_force(spark, sf_dir):
    """SQ8 shortlist+rescore: int8 quantization perturbs the ranking only
    slightly, so a 4x shortlist should recover most of the true top-10;
    every returned cosim must be an exact (unquantized) cosine."""
    emb = t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    exact = {r.vec_id: r.cosim for r in similarity.cosine_topk(rest, qvec, k=10).collect()}
    sq8 = {r.vec_id: r.cosim for r in similarity.sq8_topk(rest, qvec, k=10).collect()}
    assert len(set(exact) & set(sq8)) >= 7
    for vid in set(exact) & set(sq8):  # rescore is the exact cosine
        assert abs(exact[vid] - sq8[vid]) == 0.0


def test_text_stats_columns(docs):
    stats = text.with_text_stats(docs.limit(20))
    row = stats.filter(F.col("n_tokens") > 0).first()
    assert row["n_distinct_tokens"] <= row["n_tokens"]
    assert 0.0 < row["ttr"] <= 1.0
    assert 0.0 < row["quality"] <= 1.0
    assert len(row["fingerprint"]) == 32


def test_language_scores_struct(docs):
    row = docs.limit(5).select(text.language_scores("text").alias("ls")).first()
    assert set(row["ls"].asDict()) == {"score_de", "score_en", "score_es", "score_fr"}


def test_multimodal_image_features(spark):
    media = multimodal.synthetic_media(spark, 50)
    feats = multimodal.image_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows[:5]:
        assert 64 <= r["width"] < 256 and 64 <= r["height"] < 256
        assert r["n_bytes"] > 0 and len(r["content_sha"]) == 64
    # deterministic: same payload -> same dims
    again = {r["media_id"]: (r["width"], r["height"]) for r in feats.collect()}
    first = {r["media_id"]: (r["width"], r["height"]) for r in rows}
    assert again == first


def test_multimodal_decode_raises_without_fake():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"bytes", fake=False)


def test_approx_sketches_close_to_exact(spark, sf_dir):
    from opteryx_spark.suite import load_all

    rows = load_all()["agg_approx_sketches"].spark(spark, sf_dir).collect()
    for r in rows:
        rel_err = abs(r["approx_parts"] - r["exact_parts"]) / max(r["exact_parts"], 1)
        assert rel_err < 0.1, f"HLL error {rel_err:.2%} for {r['l_returnflag']}"
        assert 1.0 <= r["approx_median_qty"] <= 50.0


def test_ivf_topk_recall(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    assigned, centroids = similarity.ivf_index(rest, n_clusters=8)
    exact = [r.vec_id for r in similarity.cosine_topk(rest, qvec, k=10).collect()]
    approx = [r.vec_id for r in similarity.ivf_topk(assigned, centroids, qvec, k=10, nprobe=4).collect()]
    assert len(approx) == 10
    assert len(set(exact) & set(approx)) >= 2  # probing half the clusters


def test_video_frame_sampling(spark):
    media = multimodal.synthetic_media(spark, 10)
    frames = multimodal.sample_video_frames(media, every_nth=5, max_frames=4)
    rows = frames.collect()
    assert len(rows) == 40  # 10 videos x 4 frames
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 5, 10, 15] for v in by_media.values())
    # deterministic per (payload, frame)
    again = {(r["media_id"], r["frame_idx"]): r["frame_sha"] for r in frames.collect()}
    first = {(r["media_id"], r["frame_idx"]): r["frame_sha"] for r in rows}
    assert again == first


@pytest.fixture(scope="module")
def dup_heavy(spark):
    """Duplicate-heavy corpus: 3 copies of A, 2 of a near-dup A', 2 of B,
    2 copies of a single-word text (empty bigram set), 1 unique."""
    a = " ".join(f"w{i}" for i in range(30))
    a2 = " ".join(f"w{i}" for i in range(29)) + " zz"
    b = " ".join(f"x{i}" for i in range(30))
    rows = [(1, a), (2, a), (3, a), (4, a2), (5, a2), (6, b), (7, b), (8, "solo"), (9, "solo"), (10, "y0 y1 y2")]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _pairset(df, score, digits=9):
    return {(r.id1, r.id2, round(r[score], digits)) for r in df.collect()}


def test_unique_texts_equals_direct_jaccard(dup_heavy):
    fast = dedup.ngram_jaccard_pairs(dup_heavy, threshold=0.8, unique_texts=True)
    direct = dedup.ngram_jaccard_pairs(dup_heavy, threshold=0.8, unique_texts=False)
    assert _pairset(fast, "jaccard") == _pairset(direct, "jaccard")
    # the empty-bigram duplicate pair (8,9) must NOT appear
    assert not any(p[:2] == (8, 9) for p in _pairset(fast, "jaccard"))


def test_unique_texts_equals_direct_minhash(dup_heavy):
    fast = dedup.minhash_lsh_pairs(dup_heavy, k=2, unique_texts=True)
    direct = dedup.minhash_lsh_pairs(dup_heavy, k=2, unique_texts=False)
    assert _pairset(fast, "est_jaccard") == _pairset(direct, "est_jaccard")


def test_unique_texts_equals_direct_minhash_verified(dup_heavy):
    fast = dedup.minhash_dedup_verified(dup_heavy, threshold=0.9, k=2, unique_texts=True)
    direct = dedup.minhash_dedup_verified(dup_heavy, threshold=0.9, k=2, unique_texts=False)
    assert _pairset(fast, "jaccard") == _pairset(direct, "jaccard")


def test_unique_texts_equals_direct_simhash(dup_heavy):
    fast = dedup.simhash_dedup_pairs(dup_heavy, max_hamming=8, unique_texts=True)
    direct = dedup.simhash_dedup_pairs(dup_heavy, max_hamming=8, unique_texts=False)
    assert _pairset(fast, "hamming") == _pairset(direct, "hamming")


def test_lsh_cosine_pairs_recall(spark, sf_dir):
    """Banded-LSH pairs must be a subset of brute-force pairs with decent
    recall, and every returned cosine must be exact (same expression)."""
    emb = t(spark, sf_dir, "embeddings")
    brute = {
        (r.id1, r.id2): r.cosim
        for r in similarity.cosine_pairs(emb, threshold=0.45).collect()
    }
    lsh = {
        (r.id1, r.id2): r.cosim
        for r in similarity.lsh_cosine_pairs(emb, threshold=0.45, bands=8, planes_per_band=4).collect()
    }
    assert set(lsh) <= set(brute)
    assert brute, "fixture must produce at least one true pair"
    recall = len(lsh) / len(brute)
    assert recall >= 0.5, f"recall {recall:.2f} too low"
    for pair, c in lsh.items():
        assert c == brute[pair]


# ---------------------------------------------------------------- temporal joins


def _rbj(spark, points, intervals, ntz=False, **kw):
    from datetime import datetime

    from opteryx_spark.operators.joins import range_bin_join

    ts_type = "timestamp_ntz" if ntz else "timestamp"
    p = spark.createDataFrame(
        [(i, datetime.fromisoformat(v)) for i, v in enumerate(points)], ["pid", "ts"]
    ).withColumn("ts", F.col("ts").cast(ts_type))
    iv = spark.createDataFrame(
        [(i, datetime.fromisoformat(s), datetime.fromisoformat(e)) for i, (s, e) in enumerate(intervals)],
        ["iid", "start", "end"],
    ).withColumn("start", F.col("start").cast(ts_type)).withColumn("end", F.col("end").cast(ts_type))
    return range_bin_join(p, iv, "ts", "start", "end", **kw)


def test_range_bin_join_numeric_matches_theta(spark):
    from opteryx_spark.operators.joins import range_bin_join

    p = spark.createDataFrame([(i, float(i)) for i in range(50)], ["pid", "v"])
    iv = spark.createDataFrame(
        [(0, 3.0, 17.0), (1, 16.5, 16.6), (2, 40.0, 49.0), (3, 60.0, 70.0)],
        ["iid", "lo", "hi"],
    )
    fast = {
        (r.pid, r.iid)
        for r in range_bin_join(p, iv, "v", "lo", "hi", bin_width=5.0).collect()
    }
    naive = {
        (r.pid, r.iid)
        for r in p.join(iv, (p.v >= iv.lo) & (p.v < iv.hi)).collect()
    }
    assert fast == naive and fast


def test_range_bin_join_timestamp_ntz(spark):
    got = _rbj(
        spark,
        ["2026-01-05T10:20:00", "2026-01-05T13:00:00"],
        [("2026-01-05T10:00:00", "2026-01-05T11:00:00")],
        ntz=True,
        bin_width=900.0,
    )
    assert [r.pid for r in got.collect()] == [0]


def test_range_bin_join_ntz_dst_gap(spark):
    """NTZ binning must be monotonic in naive-time space: a point inside
    the US DST spring-forward gap (2026-03-08 02:45, America/New_York)
    must still match its enclosing [02:30, 03:00) interval at sub-hour
    bin widths.  A session-timezone cast would drop it silently."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = _rbj(
            spark,
            ["2026-03-08T02:45:00"],
            [("2026-03-08T02:30:00", "2026-03-08T03:00:00")],
            ntz=True,
            bin_width=900.0,
        )
        assert got.count() == 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_range_bin_join_ltz_timestamp(spark):
    got = _rbj(
        spark,
        ["2026-06-01T00:10:00", "2026-06-02T00:00:00"],
        [("2026-06-01T00:00:00", "2026-06-01T01:00:00")],
        ntz=False,
        bin_width=600.0,
        end_inclusive=True,
    )
    assert [r.pid for r in got.collect()] == [0]


# ---------------------------------------------------------------- text ops r3


def test_winnow_shared_substring_shares_fingerprint(spark):
    from opteryx_spark.operators.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(1, "AAAA " + shared + " BBBB"), (2, "CCCC " + shared + " DDDD"), (3, "totally unrelated words here")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: set(r.fps) for r in df.select("doc_id", winnow_fingerprints("text").alias("fps")).collect()}
    # winnowing guarantee: any shared substring of length k+window-1 (8)
    # produces at least one shared fingerprint
    assert rows[1] & rows[2]
    assert not (rows[1] & rows[3]) or len(rows[1] & rows[3]) < len(rows[1] & rows[2])


def test_winnow_short_text_empty(spark):
    from opteryx_spark.operators.text import winnow_fingerprints

    df = spark.createDataFrame([(1, "abc"), (2, "")], ["doc_id", "text"])
    rows = {r.doc_id: r.fps for r in df.select("doc_id", winnow_fingerprints("text").alias("fps")).collect()}
    assert rows[1] == [] and rows[2] == []


def test_bpe_token_count(spark):
    from opteryx_spark.operators.text import bpe_token_count

    df = spark.createDataFrame([(1, "I can't do 42 things, really!")], ["doc_id", "text"])
    n = df.select(bpe_token_count("text").alias("n")).collect()[0].n
    # I | _can | 't | _do | _42 | _things | , | _really | !
    assert n == 9


def test_ivf_persisted_index_prunes_partitions(spark, sf_dir, tmp_path_factory):
    """The persisted IVF index must serve queries via partition pruning:
    the scan's PartitionFilters carries the cluster IN-filter, and the
    indexed result equals the in-memory IVF result."""
    from opteryx_spark.operators import similarity

    emb = t(spark, sf_dir, "embeddings")
    assigned, centroids = similarity.ivf_index(emb, n_clusters=8)
    path = str(tmp_path_factory.mktemp("ivf_idx"))
    similarity.ivf_persist(assigned, centroids, path)

    qvec = [float(v) for v in emb.orderBy("vec_id").first()["embedding"]]
    got = similarity.ivf_topk_indexed(spark, path, qvec, k=5, nprobe=3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    part_filters = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
    assert part_filters and "cluster" in part_filters[0]
    assert "cluster IN" in part_filters[0] or "cluster#" in part_filters[0]

    mem = similarity.ivf_topk(assigned, centroids, qvec, k=5, nprobe=3)
    assert [r.vec_id for r in got.collect()] == [r.vec_id for r in mem.collect()]


def test_winnow_pairs_detects_exact_and_near_dupes(spark):
    from opteryx_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " with a small tail"), (4, "entirely different content here")],
        ["doc_id", "text"],
    )
    pairs = {(r.id1, r.id2) for r in dedup.winnow_pairs(df, min_shared=2).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_chunk_documents_boundaries(spark):
    """Chunking covers every token with the declared overlap; short docs
    yield one chunk."""
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "a b"), (3, "solo")],
        ["doc_id", "text"],
    )
    out = {(r.doc_id, r.chunk_idx): r.chunk_text
           for r in text.chunk_documents(df, max_tokens=4, overlap=1).collect()}
    assert out[(1, 0)] == "w0 w1 w2 w3"
    assert out[(1, 1)] == "w3 w4 w5 w6"   # stride 3, overlap 1
    assert out[(1, 2)] == "w6 w7 w8 w9"
    assert out[(2, 0)] == "a b" and out[(3, 0)] == "solo"


def test_hash_sample_stable_and_consistent(spark):
    from opteryx_spark.operators.scale import hash_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = {r.k for r in hash_sample(df, "k", 20.0, salt="x").collect()}
    b = {r.k for r in hash_sample(df.repartition(13), "k", 20.0, salt="x").collect()}
    assert a == b                      # repartition-stable
    assert 0.15 < len(a) / 2000 < 0.25  # ~20%
    sup = {r.k for r in hash_sample(df, "k", 40.0, salt="x").collect()}
    assert a <= sup                    # rate increase is a superset


def test_connected_components_ground_truth(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (3, 4)], ["id1", "id2"]
    )
    out = dedup.connected_components(pairs)
    assert out.columns == ["node", "comp"]  # internal _chg flag must not leak
    comp = {r.node: r.comp for r in out.collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8}


def test_connected_components_inline_convergence_flag(spark):
    """r11: the convergence check is a _chg-flag scan of the round's own
    checkpoint, not an old-vs-new join.  Pin convergence behaviour on a
    graph where labels keep moving for several rounds (reversed chains —
    min label enters from the tail) plus isolated-pair noise, and on a
    graph that converges in round one (star centred on the min id):
    identical labels, clean (node, comp) schema."""
    rev_chain = [(i + 1, i) for i in range(6)]  # 6 -> ... -> 0, min at far end
    noise = [(100, 101), (102, 103)]
    g1 = spark.createDataFrame(rev_chain + noise, "id1 long, id2 long")
    out1 = dedup.connected_components(g1)
    assert out1.columns == ["node", "comp"]
    labels1 = {r.node: r.comp for r in out1.collect()}
    assert {n: c for n, c in labels1.items() if n <= 6} == {i: 0 for i in range(7)}
    assert labels1[100] == 100 and labels1[101] == 100
    assert labels1[102] == 102 and labels1[103] == 102
    # one-round convergence: star with the min id at the centre
    star = spark.createDataFrame([(0, i) for i in range(1, 5)], "id1 long, id2 long")
    labels2 = {r.node: r.comp for r in dedup.connected_components(star).collect()}
    assert labels2 == {i: 0 for i in range(5)}
    dedup.release_text_group_caches()


# --- filtering: decontamination / gopher gates / quota sampling -------------


def test_remove_duplicate_chunks(spark):
    """ExactSubstr-style removal: one canonical keeper per duplicated
    window (md5-of-id order), short tails exempt, NULL text → NULL."""
    from opteryx_spark.operators import dedup

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d x y z w"),
            (3, "a b c d e f g h"),
            (4, None),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_chunks, r.n_removed_chunks, r.cleaned_text)
        for r in dedup.remove_duplicate_chunks(
            df, chunk_tokens=4, min_chunk_tokens=2
        ).collect()
    }
    # md5('1') sorts before md5('3'): doc 1 is the canonical keeper
    assert got[1] == (2, 0, "a b c d e f g h")
    assert got[2] == (2, 1, "x y z w")
    assert got[3] == (2, 2, "")
    assert got[4] == (None, None, None)


def test_split_assign_grouped_cluster_coherence(spark):
    """Every member of a near-dup component must land in the SAME split;
    singletons keep the plain id-keyed assignment."""
    from opteryx_spark.operators import scale

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (10, 11), (11, 12), (12, 13)], ["id1", "id2"]
    )
    out = scale.split_assign_grouped(docs, pairs).collect()
    by_id = {r.doc_id: r for r in out}
    for cluster in ([0, 1, 2], [5, 6], [10, 11, 12, 13]):
        assert len({by_id[i].split for i in cluster}) == 1, cluster
        assert len({by_id[i].comp for i in cluster}) == 1
    # singleton: same assignment split_assign would give on the raw id
    solo = scale.split_assign(
        docs.filter("doc_id = 30"), "doc_id"
    ).first()
    assert by_id[30].comp is None and by_id[30].split == solo.split


def test_remove_chunks_in_corpus(spark):
    """Incremental acting ExactSubstr: corpus membership is the verdict,
    short tails exempt, NULL text → NULL, digest index reusable."""
    from opteryx_spark.operators import dedup

    ref = spark.createDataFrame([(100, "a b c d e f g h")], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(1, "a b c d x y z w"), (2, "q r s t u v w x"), (3, None), (4, "a b")],
        ["doc_id", "text"],
    )
    for reference in (ref, dedup.window_digests(ref, chunk_tokens=4, min_chunk_tokens=3)):
        got = {
            r.doc_id: (r.n_chunks, r.n_removed_chunks, r.cleaned_text)
            for r in dedup.remove_chunks_in_corpus(
                new, reference, chunk_tokens=4, min_chunk_tokens=3
            ).collect()
        }
        assert got[1] == (2, 1, "x y z w")
        assert got[2] == (2, 0, "q r s t u v w x")
        assert got[3] == (None, None, None)
        assert got[4] == (1, 0, "a b")  # short tail exempt


def test_remove_boilerplate_lines(spark):
    """C4 line-frequency pass: cross-doc lines drop, unique lines keep
    their original order, NULL text → NULL outputs, all-blank text → 0."""
    from opteryx_spark.operators import filtering

    df = spark.createDataFrame(
        [
            (1, "header\nunique one\nshared promo"),
            (2, "header\nunique two\nshared promo"),
            (3, "header\nzz first\nzz second"),
            (4, None),
            (5, "  \n\n"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_lines, r.n_boilerplate_lines, r.cleaned_text)
        for r in filtering.remove_boilerplate_lines(df).collect()
    }
    assert got[1] == (3, 2, "unique one")
    assert got[2] == (3, 2, "unique two")
    assert got[3] == (3, 1, "zz first\nzz second")  # order preserved
    assert got[4] == (None, None, None)
    assert got[5] == (0, 0, "")


def test_decontaminate_flags_overlap(spark):
    from opteryx_spark.operators import filtering

    bench = spark.createDataFrame([(100, "alpha beta gamma delta")], ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),  # shares 2 trigrams
            (2, "alpha beta gamma zzz"),  # shares 1 trigram
            (3, "totally unrelated words here"),  # shares 0
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.n_contaminated_ngrams, r.contaminated)
        for r in filtering.decontaminate(corpus, bench, k=3, min_overlap=2).collect()
    }
    assert out == {1: (2, True), 2: (1, False), 3: (0, False)}


def test_repetition_metrics_known_values(spark):
    from opteryx_spark.operators import text as T

    # tokens: a b a b a  -> 2-grams: "a b","b a","a b","b a" (all length 3)
    # every distinct gram duplicated: dup=4*3=12, top=2*3=6, total=12
    df = spark.createDataFrame([("a b a b a",)], ["text"])
    r = df.select(T.repetition_metrics("text").alias("m")).collect()[0].m
    assert (r.dup_chars, r.top_chars, r.total_chars) == (12, 6, 12)
    # no repetition: distinct grams only
    df2 = spark.createDataFrame([("w x y z",)], ["text"])
    r2 = df2.select(T.repetition_metrics("text").alias("m")).collect()[0].m
    assert r2.dup_chars == 0 and r2.total_chars == 9  # "w x","x y","y z"


def test_gopher_quality_gates(spark):
    from opteryx_spark.operators import filtering

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is happy today again ok"),  # passes
            (2, "a b"),  # too short
            (3, "the the the the the the the the it is"),  # repetition-heavy
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.passes_gopher for r in filtering.gopher_quality(df).collect()}
    assert out[1] is True and out[2] is False and out[3] is False


def test_quota_sample_caps_and_is_partition_invariant(docs, spark):
    from opteryx_spark.operators import filtering

    capped = filtering.quota_sample(docs, ["lang", "source"], 2)
    sizes = capped.groupBy("lang", "source").count().collect()
    assert all(r["count"] <= 2 for r in sizes)
    # deterministic under arbitrary physical partitioning
    ids1 = sorted(r.doc_id for r in capped.select("doc_id").collect())
    ids2 = sorted(
        r.doc_id
        for r in filtering.quota_sample(docs.repartition(13), ["lang", "source"], 2)
        .select("doc_id")
        .collect()
    )
    assert ids1 == ids2


def test_characteristic_terms_rarity_ranking(spark):
    from opteryx_spark.operators import text as T

    # "rare" appears only in doc 1 (df=1), "common" in both (df=2):
    # doc 1 scores rare (2*1e6/1) above common (2*1e6/2)
    df = spark.createDataFrame(
        [(1, "rare rare common common"), (2, "common other words")],
        ["doc_id", "text"],
    )
    top = {
        (r.doc_id, r.rank): r.token
        for r in T.characteristic_terms(df, topn=2).collect()
    }
    assert top[(1, 1)] == "rare" and top[(1, 2)] == "common"


def test_semantic_dedup_keeps_lowest_id(spark):
    from opteryx_spark.operators import similarity as S

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [1.0, 0.001], 0),  # near-dup of 1 in same cluster -> dropped
            (3, [1.0, 0.0], 1),  # identical direction, different cluster -> kept
            (4, [0.0, 1.0], 0),  # orthogonal -> kept
        ],
        ["vec_id", "embedding", "label"],
    )
    kept = sorted(r.vec_id for r in S.semantic_dedup(df, "label", threshold=0.99).collect())
    assert kept == [1, 3, 4]


def test_dedup_against_corpus_methods(spark):
    from opteryx_spark.operators import dedup as D

    ref = spark.createDataFrame([(1, "alpha beta gamma")], ["doc_id", "text"])
    new = spark.createDataFrame(
        [
            (10, "Alpha  beta GAMMA"),  # normalized-exact dup of ref
            (11, "gamma beta alpha"),  # permutation: fingerprint dup only
            (12, "totally different"),
        ],
        ["doc_id", "text"],
    )
    dig = {r.doc_id: r.already_in_corpus for r in D.dedup_against_corpus(new, ref).collect()}
    assert dig == {10: True, 11: False, 12: False}
    # fingerprint: word-order-insensitive but case-sensitive (raw tokens)
    fp = {
        r.doc_id: r.already_in_corpus
        for r in D.dedup_against_corpus(new, ref, method="fingerprint").collect()
    }
    assert fp == {10: False, 11: True, 12: False}


def test_profile_table_stats(spark):
    from opteryx_spark.operators import profile as P

    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", None), (2, None, 7.25)],
        ["k", "s", "v"],
    )
    rows = {r.column: r for r in P.profile_table(df, exact_distinct=True).collect()}
    assert rows["k"].n_rows == 3 and rows["k"].n_nonnull == 3 and rows["k"].n_distinct == 2
    assert rows["s"].n_nonnull == 2 and rows["s"].min_value == "a" and rows["s"].max_value == "b"
    assert rows["v"].n_nonnull == 2 and rows["v"].min_value == "2.500000"


def test_direct_path_persists_are_lru_bounded(spark):
    """Repeated direct-path (unique_texts=False) LSH calls must not grow
    the persisted-cache set without bound: each call persists the same
    signature-table plans, which alias one cache entry per plan in the
    test's cache scope."""
    dedup.release_text_group_caches()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0
    df = spark.createDataFrame(
        [(i, f"totally unique body {i} with words {i*7} and {i*13}") for i in range(30)],
        ["doc_id", "text"],
    )
    for _ in range(8):
        dedup.minhash_lsh_pairs(df, unique_texts=False).count()
        dedup.simhash_dedup_pairs(df, unique_texts=False).count()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) <= 6
    dedup.release_text_group_caches()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0


def test_multimodal_chunking_advances_all_ops(spark):
    """Force multiple size-guard chunks per Arrow batch (tiny
    max_batch_bytes): every mapInPandas operator must emit each row
    exactly once (regression: a missing loop advance yields the first
    chunk forever)."""
    media = multimodal.synthetic_media(spark, 40)
    img = multimodal.image_features(media, fake=True, max_batch_bytes=1)
    assert sorted(r.media_id for r in img.collect()) == list(range(40))
    aud = multimodal.audio_features(media, fake=True, max_batch_bytes=1)
    assert sorted(r.media_id for r in aud.collect()) == list(range(40))
    rsz = multimodal.resize_images(media, fake=True, max_batch_bytes=1)
    rows = {r.media_id: r for r in rsz.collect()}
    assert sorted(rows) == list(range(40))
    for r in rows.values():
        assert max(r.out_width, r.out_height) <= 128
        assert r.out_width >= 1 and r.out_height >= 1
        # aspect preserved under integer floor scaling
        if max(r.width, r.height) > 128:
            side = max(r.width, r.height)
            assert r.out_width == max(1, (r.width * 128) // side)
            assert r.out_height == max(1, (r.height * 128) // side)


def test_audio_features_deterministic(spark):
    media = multimodal.synthetic_media(spark, 30)
    a = {r.media_id: (r.sample_rate, r.n_samples, r.duration_s)
         for r in multimodal.audio_features(media, fake=True).collect()}
    b = {r.media_id: (r.sample_rate, r.n_samples, r.duration_s)
         for r in multimodal.audio_features(media, fake=True).collect()}
    assert a == b
    for sr, ns, dur in a.values():
        assert sr in (8000, 16000, 24000, 32000, 40000)
        assert ns == sr * dur and 1 <= dur <= 30


def test_profile_numeric_minmax_is_numeric(spark):
    # regression: min/max must aggregate natively, not lexicographically
    from opteryx_spark.operators import profile as P

    df = spark.createDataFrame([(9,), (10,), (100,)], ["n"])
    row = P.profile_table(df, exact_distinct=True).collect()[0]
    assert row.min_value == "9" and row.max_value == "100"


def test_resize_null_payload_yields_nulls(spark):
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    schema = StructType(
        [StructField("media_id", LongType()), StructField("payload", BinaryType())]
    )
    df = spark.createDataFrame([(1, b"payload-bytes"), (2, None)], schema)
    rows = {r.media_id: r for r in multimodal.resize_images(df, fake=True).collect()}
    assert rows[1].out_width is not None and rows[1].resized_sha is not None
    assert rows[2].width is None and rows[2].out_width is None and rows[2].resized_sha is None


def test_prefix_filter_exact_at_fractional_thresholds(spark):
    """Regression: float ceil() over-estimated the PPJoin alpha bound for
    many (threshold, size) combos (e.g. t=0.16, na+nb=29), silently
    dropping pairs sitting exactly on the Jaccard bound.  The rational
    integer arithmetic must make fast == naive at awkward thresholds."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 30))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for t in (0.16, 0.3, 0.5):
        fast = {
            (r.id1, r.id2, round(r.jaccard, 9))
            for r in dedup.ngram_jaccard_pairs(
                df, threshold=t, unique_texts=False
            ).collect()
        }
        naive = {
            (r.id1, r.id2, round(r.jaccard, 9))
            for r in dedup.ngram_jaccard_pairs(
                df, threshold=t, prefix_filter=False, unique_texts=False
            ).collect()
        }
        assert fast == naive, f"threshold {t}: {naive - fast} missing"


def test_max_df_consistent_across_unique_texts_routing(spark):
    """Regression: with copy groups, document frequencies must count
    DOCUMENTS (weighted by copy multiplicity), not distinct texts — the
    max_df cap has to remove the same shingles on either route."""
    a = "shared boiler plate words here plus alpha"
    rows = [(i, a) for i in range(8)]  # 8 copies -> boilerplate shingles df=8
    rows += [(100, "shared boiler plate words here plus beta")]
    rows += [(101, "totally different content entirely now")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    direct = {
        (r.id1, r.id2, round(r.jaccard, 9))
        for r in dedup.ngram_jaccard_pairs(
            df, threshold=0.3, max_df=5, unique_texts=False
        ).collect()
    }
    grouped = {
        (r.id1, r.id2, round(r.jaccard, 9))
        for r in dedup.ngram_jaccard_pairs(
            df, threshold=0.3, max_df=5, unique_texts=True
        ).collect()
    }
    assert direct == grouped


def test_gopher_verdict_never_null(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from opteryx_spark.operators import filtering

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    # one-word doc (no 2-grams -> 0/0 fractions) with gates relaxed so the
    # repetition gates are the deciders, plus a NULL text
    df = spark.createDataFrame([(1, "hello"), (2, None)], schema)
    rows = {
        r.doc_id: r.passes_gopher
        for r in filtering.gopher_quality(
            df, thresholds={"min_words": 1, "min_stop_hits": 0}
        ).collect()
    }
    assert rows[1] is True  # vacuous repetition pass, not NULL
    assert rows[2] is False  # NULL text fails, not NULL


def test_gopher_multilingual_stopwords(spark):
    from opteryx_spark.operators import filtering

    es = "el gato la casa de que y en un es aqui con mas por para dias largos"
    df = spark.createDataFrame([(1, es)], ["doc_id", "text"])
    en_only = filtering.gopher_quality(df, thresholds={"min_words": 5}).collect()[0]
    multi = filtering.gopher_quality(
        df, thresholds={"min_words": 5}, stopword_langs=["en", "es", "fr", "de"]
    ).collect()[0]
    assert en_only.stop_hits == 0 and not en_only.passes_gopher
    assert multi.stop_hits >= 2 and multi.passes_gopher


def test_asof_join_ignores_null_right_timestamps(spark):
    import datetime

    from opteryx_spark.operators import joins as J
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    ts = lambda s: datetime.datetime.fromisoformat(s)  # noqa: E731
    rschema = StructType(
        [StructField("ts", TimestampType()), StructField("v", LongType())]
    )
    right = spark.createDataFrame([(None, 99), (ts("2024-01-01 10:00"), 1)], rschema)
    left = spark.createDataFrame([(ts("2024-01-01 09:00"),)], "ts timestamp")
    row = J.asof_join(left, right, on="ts").collect()[0]
    # 09:00 predates every non-NULL right row: no match, and the NULL-ts
    # row must never masquerade as the latest match
    assert row.ts_r is None and row.v is None


# --- web: URL parsing / domain ops -------------------------------------------


def test_parse_urls_components(spark):
    from opteryx_spark.operators import web

    rows = [
        (1, "https://user:pw@sub.example.co.uk:8443/a/b?x=1&y=2#frag"),
        (2, "http://gamma.io"),
        (3, "ftp://files.example.com/pub/"),
        (4, "not a url"),
        (5, None),
        (6, "https://localhost/x"),
        (7, "foo?x=1"),  # scheme-less: every component NULL, incl. query
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    got = {r.doc_id: r for r in web.parse_urls(df).collect()}
    r1 = got[1]
    assert (r1.scheme, r1.host, r1.port, r1.path, r1.query, r1.domain) == (
        "https", "sub.example.co.uk", 8443, "/a/b", "x=1&y=2", "example.co.uk"
    )
    r2 = got[2]
    assert (r2.scheme, r2.host, r2.port, r2.path, r2.query, r2.domain) == (
        "http", "gamma.io", None, None, None, "gamma.io"
    )
    assert got[3].scheme == "ftp" and got[3].path == "/pub/" and got[3].domain == "example.com"
    assert got[4].host is None and got[4].domain is None
    assert got[5].host is None
    assert got[7].scheme is None and got[7].host is None and got[7].query is None
    assert got[6].host == "localhost" and got[6].domain == "localhost"


def test_registered_domain_suffixes(spark):
    from opteryx_spark.operators import web

    df = spark.createDataFrame(
        [("a.b.c.example.com.au",), ("x.co.uk",), ("deep.sub.site.org",), ("plain",)],
        ["h"],
    )
    got = [r.d for r in df.select(web.registered_domain("h").alias("d")).collect()]
    # 4-label multi-suffix reduces to last3; a bare suffix-like 2-label host
    # passes through; normal host takes last2; single label passes through
    assert got == ["example.com.au", "x.co.uk", "site.org", "plain"]


def test_domain_blocklist_dataframe_variant(spark):
    from opteryx_spark.operators import web

    df = spark.createDataFrame(
        [(1, "https://evil.com/x"), (2, "https://sub.evil.com/y"), (3, "https://fine.org/z"),
         (4, "garbage")],
        ["doc_id", "url"],
    )
    bl = spark.createDataFrame([("evil.com",)], ["domain"])
    got = {r.doc_id: r.blocked_domain for r in web.domain_blocklist(df, bl).collect()}
    assert got == {1: True, 2: True, 3: False, 4: False}


def test_domain_quota_null_group_and_determinism(spark):
    from opteryx_spark.operators import web

    rows = [(i, f"https://dom{i % 2}.com/{i}") for i in range(10)] + [
        (100, "bad"), (101, "bad"), (102, "bad")
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    a = sorted(r.doc_id for r in web.domain_quota(df, 2).collect())
    b = sorted(r.doc_id for r in web.domain_quota(df.repartition(7), 2).collect())
    assert a == b  # partition-invariant
    # 2 per real domain + 2 from the NULL (unparseable) group
    assert len(a) == 6


# --- readability / perplexity -------------------------------------------------


def test_readability_counts(spark):
    from opteryx_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, "The cat sat. It purred! Why?"), (2, ""), (3, None), (4, "xyzzy")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in T.readability_scores(df).collect()}
    r1 = got[1]
    assert r1.n_sentences == 3 and r1.n_words == 6
    # the|cat|sat.|it|purred!|why? -> vowel groups: e,a,a,i,u-e(2),y -> 7
    assert r1.n_syllables == 7
    assert abs(r1.flesch_reading_ease - (206.835 - 1.015 * 2.0 - 84.6 * (7 / 6))) < 1e-9
    assert got[2].n_words == 0 and got[2].flesch_reading_ease is None
    assert got[3].n_words is None and got[3].flesch_reading_ease is None
    assert got[4].n_syllables == 2  # x-y-zz-y: two separate y vowel groups


def test_unigram_perplexity_external_model_and_unknowns(spark):
    import math

    from opteryx_spark.operators import filtering

    model = spark.createDataFrame([("the", 90), ("cat", 10)], ["token", "tf"])
    df = spark.createDataFrame(
        [(1, "the the"), (2, "cat zzz"), (3, ""), (4, None)], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in filtering.unigram_perplexity(
        df, model=model, max_avg_nll_millinats=3000).collect()}
    n, v, a = 100.0, 2.0, 0.5
    mn = lambda p: math.floor(-math.log(p) * 1000 + 0.5)  # noqa: E731
    assert got[1].nll_millinats == 2 * mn((90 + a) / (n + a * v))
    assert got[2].nll_millinats == mn((10 + a) / (n + a * v)) + mn(a / (n + a * v))
    assert got[1].passes_perplexity is True  # common words, low cost
    assert got[2].passes_perplexity is False  # unknown token blows the budget
    assert got[3].n_tokens == 0 and got[3].passes_perplexity is False
    assert got[4].n_tokens == 0 and got[4].passes_perplexity is False


def test_minhash_hot_buckets_audit(spark):
    """The anti-spam cap's audit twin: a near-dup group larger than the
    cap shows up in minhash_hot_buckets (the silent-recall-loss guard)."""
    # 12 docs sharing one text body => every band bucket has 12 members
    rows = [(i, "spam spam wonderful spam baked beans and spam") for i in range(12)]
    rows += [(100 + i, f"unique doc {i} body {i * 3}") for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    hot = dedup.minhash_hot_buckets(df, max_bucket=10).collect()
    assert hot and all(r.n_docs == 12 for r in hot)
    assert dedup.minhash_hot_buckets(df, max_bucket=20).count() == 0


def test_token_budget_sample_semantics(spark):
    from opteryx_spark.operators import filtering

    rows = [(i, " ".join(["w"] * 10), "en") for i in range(6)] + [(9, None, "en")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r.doc_id: r for r in filtering.token_budget_sample(df, ["lang"], 35).collect()}
    # 10 tokens per doc, budget 35 -> exactly 3 text docs fit, in md5
    # order; the NULL-text doc costs 0 tokens so it always fits
    fits = [d for d, r in out.items() if r.in_budget]
    assert len([d for d in fits if d != 9]) == 3
    assert out[9].n_tokens == 0 and out[9].in_budget
    # deterministic under repartitioning
    again = {r.doc_id for r in filtering.token_budget_sample(
        df.repartition(5), ["lang"], 35).collect() if r.in_budget}
    assert set(fits) == again


def test_boilerplate_fraction_flags_template(spark):
    from opteryx_spark.operators import filtering

    template = "copyright footer all rights reserved"
    rows = [(i, f"unique body {i} stuff {i*3} here then {template}") for i in range(8)]
    rows.append((100, "totally standalone document body"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in filtering.boilerplate_ngram_fraction(
        df, k=3, max_df=5).collect()}
    assert all(out[i].n_hot_grams >= 4 for i in range(8))  # template trigrams hot
    assert out[100].n_hot_grams == 0 and out[100].boilerplate_frac == 0.0


def test_duplicate_chunk_fraction_semantics(spark):
    """Shared windows across docs count; within-doc repeats don't; ragged
    tails below min_chunk_tokens are ignored."""
    shared = " ".join(f"s{i}" for i in range(8))
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(8))  # noqa: E731
    df = spark.createDataFrame(
        [
            (1, shared + " " + uniq("a")),       # 2 chunks: shared + unique
            (2, shared + " " + uniq("b")),       # 2 chunks: shared + unique
            (3, uniq("c") + " " + uniq("c")),    # same window TWICE in one doc
            (4, "tail only"),                     # 1 ragged chunk < min -> 0
            (5, None),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in dedup.duplicate_chunk_fraction(
        df, chunk_tokens=8, min_chunk_tokens=4).collect()}
    assert out[1].n_chunks == 2 and out[1].n_dup_chunks == 1
    assert out[2].n_chunks == 2 and out[2].n_dup_chunks == 1
    assert out[1].dup_chunk_frac == 0.5
    # doc 3's repeated window exists only within ONE doc -> not a duplicate
    assert out[3].n_chunks == 2 and out[3].n_dup_chunks == 0
    assert out[4].n_chunks == 0 and out[4].dup_chunk_frac is None
    assert out[5].n_chunks == 0


def test_pagerank_fixed_point_semantics(spark):
    """Known 4-node graph: dangling mass redistributes, sink out-ranks
    sources, and ranks are identical under repartitioning (BIGINT
    truncating arithmetic is order-independent)."""
    from opteryx_spark.operators import web

    # a->c, b->c, c->d; d dangling
    edges = spark.createDataFrame(
        [("a", "c"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    out = {r.node: r.rank for r in web.pagerank(edges, iterations=1).collect()}
    # n=4, init = 250_000_000 each; base = (15 * 250M) div 100 = 37_500_000
    # d dangles: dang_share = 250M div 4 = 62_500_000
    # inc(c) = 250M + 250M, inc(d) = 250M; inc(a)=inc(b)=0
    assert out["a"] == out["b"] == 37_500_000 + (85 * 62_500_000) // 100
    assert out["c"] == 37_500_000 + (85 * (500_000_000 + 62_500_000)) // 100
    assert out["d"] == 37_500_000 + (85 * (250_000_000 + 62_500_000)) // 100
    # mass ordering: the 2-in-edge node dominates
    assert out["c"] > out["d"] > out["a"]

    out8 = {
        r.node: r.rank
        for r in web.pagerank(edges.repartition(8), iterations=3).collect()
    }
    out1 = {
        r.node: r.rank
        for r in web.pagerank(edges.coalesce(1), iterations=3).collect()
    }
    assert out8 == out1

    import pytest

    with pytest.raises(ValueError):
        web.pagerank(edges, iterations=0)
    with pytest.raises(ValueError):
        web.pagerank(edges, damping_pct=100)


def test_kmeans_portable_semantics(spark):
    """Two well-separated 2-D blobs converge to their means; results are
    partition-invariant; NULL vectors are dropped; k > n raises."""
    import pytest

    from opteryx_spark.operators import similarity

    rows = (
        [(i, [0.001 * i, 0.0]) for i in range(4)]          # blob at ~0
        + [(10 + i, [5.0 + 0.001 * i, 5.0]) for i in range(4)]  # blob at ~5,5
        + [(99, None)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out, cents = similarity.kmeans_portable(df, k=2, iterations=2, dim=2)
    got = {r.vec_id: r.cluster for r in out.collect()}
    assert 99 not in got  # NULL dropped
    blob0 = {got[i] for i in range(4)}
    blob1 = {got[10 + i] for i in range(4)}
    assert len(blob0) == 1 and len(blob1) == 1 and blob0 != blob1
    # converged centroids are the quantized blob means (trunc division)
    want = sorted([[(0 + 1 + 2 + 3) // 4, 0], [(5000 + 5001 + 5002 + 5003) // 4, 5000]])
    assert sorted(cents) == want

    out8, c8 = similarity.kmeans_portable(df.repartition(8), k=2, iterations=2, dim=2)
    assert {(r.vec_id, r.cluster, r.dist2) for r in out8.collect()} == {
        (r.vec_id, r.cluster, r.dist2) for r in out.collect()
    }
    assert c8 == cents

    with pytest.raises(ValueError):
        similarity.kmeans_portable(df, k=0)
    with pytest.raises(ValueError):
        similarity.kmeans_portable(df, k=50, iterations=1, dim=2)


def test_blocked_fuzzy_join_semantics(spark):
    """Front edits are caught by the suffix block, end edits by the
    prefix block; pairs beyond max_dist are dropped; NULLs never match."""
    import pytest

    from opteryx_spark.operators import joins

    canon = spark.createDataFrame(
        [(1, "alpha_record_001"), (2, "gamma_record_777")], ["cid", "cname"]
    )
    dirty = spark.createDataFrame(
        [
            (10, "xalpha_record_001"),   # front insert: prefix block misses
            (11, "alpha_record_00"),     # end delete: suffix block misses
            (12, "totally_different"),
            (13, None),
        ],
        ["did", "dname"],
    )
    out = {
        (r.did, r.cid): r.dist
        for r in joins.blocked_fuzzy_join(
            dirty, canon, "dname", "cname", max_dist=1
        ).collect()
    }
    assert out == {(10, 1): 1, (11, 1): 1}

    with pytest.raises(ValueError):
        joins.blocked_fuzzy_join(dirty, canon, "dname", "cname", max_dist=-1)


def test_winsorize_robust_scale_semantics(spark):
    """Values clip to the group fences; scaled is (clipped-med)/IQR;
    degenerate IQR and NULL values yield NULL; NULL group is a stratum."""
    import pytest

    from opteryx_spark.operators import features

    rows = [("a", float(v)) for v in range(1, 22)]  # 1..21: p05..p95 inside
    rows += [("b", 7.0), ("b", 7.0), ("b", 7.0)]    # IQR 0
    rows += [(None, 1.0), (None, 3.0), ("a", None)]
    df = spark.createDataFrame(rows, "g string, value double")
    out = features.winsorize_robust_scale(df, "value", "g").collect()
    a = [r for r in out if r.g == "a" and r.value is not None]
    assert max(r.clipped for r in a) < 21.0  # top clipped to p95
    assert min(r.clipped for r in a) > 1.0   # bottom clipped to p05
    mid = next(r for r in a if r.value == 11.0)
    assert mid.scaled == 0.0  # the median scales to zero
    b = [r for r in out if r.g == "b"]
    assert all(r.scaled is None for r in b)  # IQR 0 -> no scale
    nulls = [r for r in out if r.g is None]
    assert len(nulls) == 2 and all(r.clipped is not None for r in nulls)
    nv = next(r for r in out if r.g == "a" and r.value is None)
    assert nv.clipped is None and nv.scaled is None

    with pytest.raises(ValueError):
        features.winsorize_robust_scale(df, "value", "g", lower=0.9, upper=0.1)


def test_hash_features_semantics(spark):
    """Fixed-width sparse output: same token always lands in the same
    signed bucket; repeated tokens accumulate; partition-invariant."""
    from opteryx_spark.operators import features

    df = spark.createDataFrame(
        [(1, ["alpha", "alpha", "beta"]), (2, ["alpha"]), (3, [])],
        "doc_id long, tokens array<string>",
    )
    out = features.hash_features(df, n_features=8).collect()
    rows = {(r.doc_id, r.feature_idx): r.feature_val for r in out}
    assert all(0 <= i < 8 for _, i in rows)
    assert 3 not in {d for d, _ in rows}  # empty token list -> no rows
    # doc 2's single 'alpha' bucket: sign is ±1, and doc 1 carries exactly
    # double that contribution there (plus beta's ±1 if it collides)
    ((i2, v2),) = [(i, v) for (d, i), v in rows.items() if d == 2]
    assert v2 in (1, -1)
    assert rows[(1, i2)] in (2 * v2, 2 * v2 + 1, 2 * v2 - 1)
    assert sum(abs(v) for (d, _), v in rows.items() if d == 1) <= 3
    out8 = features.hash_features(df.repartition(8), n_features=8).collect()
    assert {(r.doc_id, r.feature_idx, r.feature_val) for r in out8} == {
        (r.doc_id, r.feature_idx, r.feature_val) for r in out
    }


def test_target_encode_semantics(spark):
    """Shrinkage: rare categories pull toward the global mean, the
    no-smoothing limit recovers the plain category mean."""
    import pytest

    from opteryx_spark.operators import features

    df = spark.createDataFrame(
        [("a", 10.0)] * 8 + [("b", 0.0)] * 2 + [("c", None)],
        "cat string, value double",
    )
    gm = 80.0 / 10  # NULL target excluded
    enc = {r.cat: (r.n, r.enc) for r in features.target_encode(df, "cat", "value", m=2.0).collect()}
    assert enc["a"] == (8, (80.0 + 2 * gm) / 10.0)
    assert enc["b"] == (2, (0.0 + 2 * gm) / 4.0)
    assert enc["c"][0] == 0 and enc["c"][1] == gm  # prior only
    raw = {r.cat: r.enc for r in features.target_encode(df, "cat", "value", m=0.0).collect()}
    assert raw["a"] == 10.0 and raw["b"] == 0.0

    with pytest.raises(ValueError):
        features.target_encode(df, "cat", "value", m=-1)


def test_quality_checks_semantics(spark):
    """Violation arithmetic: NULL handling per rule kind, duplicate
    counting beyond the first, orphan FKs; one fused aggregate for row
    rules."""
    import pytest

    from opteryx_spark.operators import quality

    df = spark.createDataFrame(
        [
            (1, "en", 10, "src1"),
            (2, "xx", -5, "bad source"),
            (3, None, 999, "src2"),
            (3, "en", None, None),
        ],
        "id long, lang string, n long, src string",
    )
    rep = {
        r.check: (r.n_rows, r.n_violations, r.passed)
        for r in quality.row_checks(
            df,
            [
                ("not_null", "lang"),
                ("accepted_values", "lang", ["en", "fr"]),
                ("in_range", "n", 0, 100),
                ("matches_regex", "src", "^src[0-9]+$"),
            ],
        ).collect()
    }
    assert rep["not_null(lang)"] == (4, 1, False)
    assert rep["accepted_values(lang)"] == (4, 1, False)   # NULL passes, 'xx' fails
    assert rep["in_range(n)"] == (4, 2, False)             # -5 and 999; NULL passes
    assert rep["matches_regex(src)"] == (4, 1, False)      # NULL passes, 'bad source' fails

    u = quality.unique_check(df, ["id"]).first()
    assert (u.n_rows, u.n_violations, u.passed) == (4, 1, False)  # id 3 twice
    u2 = quality.unique_check(df, ["id", "lang"]).first()
    assert (u2.n_rows, u2.n_violations, u2.passed) == (3, 0, True)  # NULL lang row excluded

    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    child = spark.createDataFrame([(1,), (1,), (9,), (None,)], "fk long")
    r = quality.referential_check(child, parent, "fk", "pk").first()
    assert (r.n_rows, r.n_violations, r.passed) == (3, 1, False)  # NULL FK passes

    with pytest.raises(ValueError):
        quality.row_checks(df, [])
    with pytest.raises(ValueError):
        quality.row_checks(df, [("bogus", "id")])


def test_psi_drift_semantics(spark):
    """Identical distributions give PSI ~= 0 exactly (same smoothed
    shares); a shifted distribution yields a large positive PSI; empty
    bins are well-defined via smoothing."""
    import pytest

    from opteryx_spark.operators import features

    same = spark.createDataFrame([(float(v),) for v in range(100)], "value double")
    out = features.psi_drift(same, same, "value", [25.0, 50.0, 75.0]).collect()
    assert all(r.contrib == 0.0 for r in out)
    assert out[0].psi_total == 0.0
    assert len(out) == 4 and [r.bin for r in out] == [0, 1, 2, 3]

    shifted = spark.createDataFrame(
        [(float(v) + 70,) for v in range(100)], "value double"
    )
    drift = features.psi_drift(same, shifted, "value", [25.0, 50.0, 75.0]).first()
    assert drift.psi_total > 0.25  # "shifted" verdict
    # bin 0 emptied out in cur but still reported, smoothed
    b0 = [r for r in features.psi_drift(same, shifted, "value", [25.0, 50.0, 75.0]).collect() if r.bin == 0][0]
    assert b0.n_cur == 0 and b0.p_cur > 0.0

    with pytest.raises(ValueError):
        features.psi_drift(same, same, "value", [])


def test_bpe_train_semantics(spark):
    """Known corpus: the most frequent weighted pair merges first, merged
    symbols participate in later rounds, runs merge greedily
    left-to-right, ties break lexicographically."""
    import pytest

    from opteryx_spark.operators import text as T

    # 'ab' dominates; after (a,b)->ab, ('ab','c') dominates round 2
    df = spark.createDataFrame(
        [(1, "abc abc abc abc"), (2, "abd abd"), (3, "zz")], ["doc_id", "text"]
    )
    m = [(r.rank, r.lhs, r.rhs, r.n) for r in T.bpe_train(df, num_merges=3).collect()]
    assert m[0] == (0, "a", "b", 6)       # ab appears in 6 word instances
    assert m[1] == (1, "ab", "c", 4)      # merged symbol feeds round 2
    # round 3: remaining pairs (ab,d)=2 and (z,z)=1 -> ab+d wins
    assert m[2] == (2, "ab", "d", 2)

    # classic pair counting includes run overlaps ('aaaa' has 3 (a,a)
    # pairs, x2 word occurrences = 6), but the MERGE is greedy
    # left-to-right: 'aaaa' -> (aa)(aa), so round 2 sees (aa,aa)
    runs = spark.createDataFrame([(1, "aaaa aaaa")], ["doc_id", "text"])
    r0 = T.bpe_train(runs, num_merges=2).collect()
    assert (r0[0].lhs, r0[0].rhs, r0[0].n) == ("a", "a", 6)
    assert (r0[1].lhs, r0[1].rhs, r0[1].n) == ("aa", "aa", 2)

    with pytest.raises(ValueError):
        T.bpe_train(df, num_merges=0)

    # scale guard: one Spark job per merge round, so a 32k-vocab request
    # must refuse by default (and state the escape hatch) rather than
    # silently launch 32k sequential jobs
    with pytest.raises(ValueError, match="allow_large"):
        T.bpe_train(df, num_merges=T.BPE_TRAIN_MAX_MERGES + 1)


def test_interval_overlap_join_semantics(spark):
    """Half-open overlap, boundary-touching intervals do NOT match, long
    intervals spanning many bins emit each pair exactly once, NULLs and
    empty intervals never match."""
    import pytest

    from opteryx_spark.operators import joins

    left = spark.createDataFrame(
        [
            (1, 0, 100),      # overlaps r1, r2
            (2, 100, 200),    # touches r1 end-to-start: NO match with [0,100)
            (3, 0, 100000),   # spans many bins; overlaps all three
            (4, None, 50),
            (5, 60, 60),      # empty
        ],
        "lid long, ls long, le long",
    )
    right = spark.createDataFrame(
        [(10, 50, 150), (11, 90, 95), (12, 99999, 100500)],
        "rid long, rs long, re long",
    )
    out = {
        (r.lid, r.rid)
        for r in joins.interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bin_width=7
        ).collect()
    }
    assert out == {(1, 10), (1, 11), (2, 10), (3, 10), (3, 11), (3, 12)}
    # exactly-once despite shared bins: collect with duplicates allowed
    rows = joins.interval_overlap_join(
        left, right, "ls", "le", "rs", "re", bin_width=7
    ).collect()
    assert len(rows) == 6

    with pytest.raises(ValueError):
        joins.interval_overlap_join(left, right, "ls", "le", "rs", "re", bin_width=0)


def test_weighted_sample_semantics(spark):
    """Weight-proportionality over independent salted draws: a 10x-weight
    row is selected far more often; zero/NULL weights never; results are
    partition-invariant and deterministic per salt."""
    import pytest

    from opteryx_spark.operators import filtering

    rows = [(0, 1000.0)] + [(i, 100.0) for i in range(1, 21)] + [
        (98, 0.0),
        (99, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    hits = 0
    for s in range(30):
        picked = {
            r.doc_id
            for r in filtering.weighted_sample(df, "w", 3, salt=f"s{s}").collect()
        }
        assert 98 not in picked and 99 not in picked
        hits += 0 in picked
    # P(pick heavy in top-3) ~ 0.85; 30 draws ⇒ expect ~25, demand > 15
    assert hits > 15

    a = filtering.weighted_sample(df, "w", 5, salt="x").collect()
    b = filtering.weighted_sample(df.repartition(8), "w", 5, salt="x").collect()
    assert [(r.doc_id, r.es_key) for r in a] == [(r.doc_id, r.es_key) for r in b]

    with pytest.raises(ValueError):
        filtering.weighted_sample(df, "w", 0)


def test_simhash_pairs_value_consistency(spark, sf_dir):
    """Value check for the rows-only ``dedup_simhash_pairs`` entry
    (VERDICT r9 #6): the xxhash64 signature can't be replayed in DuckDB,
    but two properties are hash-independent ground truth — (a) every
    reported hamming equals bit_count(sig1 XOR sig2) of the actual
    signatures and is within the threshold; (b) byte-identical texts MUST
    appear as hamming-0 pairs (identical text => identical signature)."""
    from pyspark.sql import functions as F

    docs = t(spark, sf_dir, "documents")
    pairs = dedup.simhash_dedup_pairs(docs, "doc_id", "text", max_hamming=8)
    sig = dedup.simhash(docs, "doc_id", "text")
    joined = (
        pairs.join(sig.select(F.col("id").alias("id1"), F.col("simhash").alias("s1")), "id1")
        .join(sig.select(F.col("id").alias("id2"), F.col("simhash").alias("s2")), "id2")
        .select(
            "id1", "id2", "hamming",
            F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).alias("true_h"),
        )
    )
    bad = joined.filter(
        (F.col("hamming") != F.col("true_h")) | (F.col("hamming") > 8)
    ).count()
    assert bad == 0
    # ground truth: exact text duplicates (with tokens) are hamming-0 pairs
    toks = docs.filter(F.size(dedup.tokens("text")) > 0)
    dup_pairs = {
        (r.id1, r.id2)
        for r in toks.alias("a")
        .join(toks.alias("b"), (F.col("a.text") == F.col("b.text")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .collect()
    }
    got0 = {(r.id1, r.id2) for r in pairs.filter(F.col("hamming") == 0).collect()}
    assert dup_pairs <= got0, f"missing exact-dup pairs: {sorted(dup_pairs - got0)[:5]}"


def test_minhash_lsh_candidates_superset_of_exact_dups(spark, sf_dir):
    """Value check for the rows-only ``dedup_minhash_lsh_candidates``
    entry (VERDICT r9 #6): banding guarantees identical signatures share
    every band bucket, so byte-identical texts (with shingles) MUST be
    candidates with est_jaccard 1.0 — a recall floor that is ground truth
    independent of the xxhash64 permutations."""
    from pyspark.sql import functions as F

    docs = t(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_pairs(docs, "doc_id", "text", k=2)
    sh = docs.filter(F.size(dedup.shingles("text", 2)) > 0)
    dup_pairs = {
        (r.id1, r.id2)
        for r in sh.alias("a")
        .join(sh.alias("b"), (F.col("a.text") == F.col("b.text")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .collect()
    }
    got = {
        (r.id1, r.id2): r.est_jaccard
        for r in cand.join(
            spark.createDataFrame(
                [(a, b) for a, b in dup_pairs] or [(-1, -1)], ["id1", "id2"]
            ),
            ["id1", "id2"],
        ).collect()
    }
    missing = dup_pairs - set(got)
    assert not missing, f"exact dups missing from candidates: {sorted(missing)[:5]}"
    assert all(v == 1.0 for v in got.values())


# kmeans_portable internals pin (broadcast-centroid + sequence-explode
# update).  The r12 rewrite moved centroids from per-iteration literals to a
# one-row broadcast frame and the update aggregate from ``dim`` per-position
# SUMs to a (cluster, pos)-keyed SUM/COUNT over a constant ``sequence(1, dim)``
# explode.  Values must be IDENTICAL to the old formulation, including the
# edge semantics a raw ``posexplode`` would silently change (short vectors
# emit fewer elements, shifting per-position counts).  The golden rows below
# were generated by running the pre-r12 implementation (git 8999e03) on this
# exact input; the suite oracle pins the regular corpus, this pins the
# ragged edge.
DATA = [
    (1, [0.1, 0.2, 0.3]),
    (2, [0.9, 0.8, 0.7]),
    (3, [0.11, 0.19, 0.31]),
    (4, [0.88, 0.79, 0.72]),
    (5, [0.5, 0.5]),  # short vector: beyond-length positions are NULL
    (7, None),  # null vector: filtered out entirely
]

# pre-r12 implementation output on DATA (k=2, iterations=2, dim=3)
GOLDEN_ROWS = [(1, 1, 75), (2, 0, 81945), (3, 1, 75), (4, 0, 84245), (5, 0, None)]
GOLDEN_CENTS = [[760, 696, 473], [105, 195, 305]]


def test_kmeans_ragged_matches_pre_r12(spark):
    df = spark.createDataFrame(DATA, "vec_id long, embedding array<double>")
    out, cents = S.kmeans_portable(df, k=2, iterations=2, dim=3)
    rows = [
        (r["vec_id"], r["cluster"], r["dist2"]) for r in out.orderBy("vec_id").collect()
    ]
    assert rows == GOLDEN_ROWS
    assert cents == GOLDEN_CENTS


# Plan-shape pins for two r12 optimizations (OPTIMIZATION_r12.md): a later
# refactor that reintroduces the duplicated work fails here, not only in a
# bench regression.


def test_remove_duplicate_chunks_slim_digest_persisted(spark, sf_dir):
    # r12: the slim digest frame is persisted so the chunking subtree runs
    # twice (slim fill + rebuild), not three times (guide §2.4)
    from opteryx_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    txt = explain_text(dedup.remove_duplicate_chunks(docs, chunk_tokens=16))
    assert "InMemoryRelation" in txt
    dedup.release_text_group_caches()


def test_quality_features_tokenize_staged_once(spark, sf_dir):
    # r12: the base select stages the token array once — the composed
    # quality_features plan carried 20 split+filter tokenizes before, 7
    # after; pin a ceiling between the two
    from opteryx_spark.operators import filtering

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    txt = explain_text(filtering.quality_features(docs))
    assert txt.count("filter(split") <= 10, txt.count("filter(split")
