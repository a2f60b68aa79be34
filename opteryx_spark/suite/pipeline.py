"""Training-data pipeline suite entries: dedup, text analysis, similarity.

These go beyond the reference's own operator set (per the build brief) —
each is registered with a DuckDB oracle where the semantics are
SQL-expressible; probabilistic operators (MinHash LSH, SimHash) get
rows-only checks, with an exactly-verified variant that *is* oracle'd.

Determinism notes: Jaccard = int/int double division (exact both
engines); cosine/norms accumulate in DECIMAL(30,20) (order-independent);
md5 fingerprints are bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from opteryx_spark.operators import dedup, similarity, text
from opteryx_spark.suite import register
from opteryx_spark.suite._util import dsum, osum, t

# DuckDB twins of opteryx_spark.operators.text helpers
_O_TOKENS = "list_filter(string_split(text, ' '), x -> x <> '')"
_O_BIGRAMS = (
    "list_distinct(list_transform(range(1, len({tk})), i -> concat_ws(' ', {tk}[i], {tk}[i+1])))"
).format(tk=_O_TOKENS)


@register(
    "dedup_exact_stats",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_unique_texts,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_digests
    FROM documents GROUP BY source ORDER BY source
    """,
)
def dedup_exact_stats(spark, sf_dir):
    """Exact dedup accounting by content digest (hash-groupBy dedup)."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("text").alias("n_unique_texts"),
            F.countDistinct(F.md5("text")).alias("n_unique_digests"),
        )
        .orderBy("source")
    )


@register(
    "dedup_fingerprint",
    oracle=f"""
    SELECT fp AS fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id
    FROM (SELECT doc_id,
                 CASE WHEN text IS NOT NULL THEN
                   md5(coalesce(
                     array_to_string(list_sort(list_distinct({_O_TOKENS})), ' '), ''))
                 END AS fp
          FROM documents) x
    GROUP BY fp HAVING COUNT(*) > 1 ORDER BY fp
    """,
)
def dedup_fingerprint(spark, sf_dir):
    """Token-set fingerprint dedup: word-permutation duplicates collide."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", text.fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("fingerprint")
    )


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_O_TOKENS}) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct({_O_TOKENS})) AS BIGINT) AS n_distinct_tokens,
           CAST(len(list_distinct({_O_TOKENS})) AS DOUBLE)
             / CAST(len({_O_TOKENS}) AS DOUBLE) AS ttr,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / CAST(len({_O_TOKENS}) AS DOUBLE) AS avg_token_len
    FROM documents ORDER BY doc_id
    """,
)
def text_token_stats(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.distinct_token_count("text").alias("n_distinct_tokens"),
        text.type_token_ratio("text").alias("ttr"),
        text.avg_token_length("text").alias("avg_token_len"),
    ).orderBy("doc_id")


@register(
    "text_quality_langid",
    oracle=f"""
    WITH stats AS (
      SELECT doc_id, lang,
             CAST(len({_O_TOKENS}) AS DOUBLE) AS n,
             CAST(len(list_distinct({_O_TOKENS})) AS DOUBLE)
               / CAST(len({_O_TOKENS}) AS DOUBLE) AS ttr,
             CAST(len(list_filter({_O_TOKENS},
                  x -> list_contains(['the','a','of','to','and','in','is','it'], x))) AS DOUBLE)
               / CAST(len({_O_TOKENS}) AS DOUBLE) AS en_stop
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(ttr * 0.5
                 + (CASE WHEN n >= 20.0 THEN 1.0 ELSE n / 20.0 END) * 0.5
               AS DECIMAL(25,8))) AS DOUBLE) AS sum_quality,
           CAST(SUM(CASE WHEN en_stop > 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS n_en_guess
    FROM stats GROUP BY lang ORDER BY lang
    """,
)
def text_quality_langid(spark, sf_dir):
    """Quality scoring + stopword language heuristic, aggregated by the
    labeled language so the oracle check covers every document."""
    docs = t(spark, sf_dir, "documents")
    en_stop = text.stopword_ratio("text", "en")
    return (
        docs.select("lang", text.quality_score("text").alias("q"), en_stop.alias("en_stop"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("q").cast("decimal(25,8)")).cast("double").alias("sum_quality"),
            F.sum(F.when(F.col("en_stop") > 0.08, 1).otherwise(0)).alias("n_en_guess"),
        )
        .orderBy("lang")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest({_O_BIGRAMS}) AS s FROM documents
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ), ov AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS ov
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id1, id2,
           CAST(ov AS DOUBLE) / CAST(sa.n + sb.n - ov AS DOUBLE) AS jaccard
    FROM ov JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
    WHERE CAST(ov AS DOUBLE) / CAST(sa.n + sb.n - ov AS DOUBLE) >= 0.8
    ORDER BY id1, id2
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-bigram Jaccard similarity join (inverted-index plan)."""
    docs = t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=2, threshold=0.8).orderBy(
        "id1", "id2"
    )


@register(
    "dedup_minhash_verified",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest({_O_BIGRAMS}) AS s FROM documents
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ), ov AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS ov
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id1, id2,
           CAST(ov AS DOUBLE) / CAST(sa.n + sb.n - ov AS DOUBLE) AS jaccard
    FROM ov JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
    WHERE CAST(ov AS DOUBLE) / CAST(sa.n + sb.n - ov AS DOUBLE) >= 0.9
    ORDER BY id1, id2
    """,
)
def dedup_minhash_verified(spark, sf_dir):
    """MinHash LSH candidates + exact-Jaccard verification: equals the
    exact similarity join above threshold up to LSH recall (≈1 - 4e-8)."""
    docs = t(spark, sf_dir, "documents")
    return dedup.minhash_dedup_verified(docs, "doc_id", "text", threshold=0.9, k=2).orderBy(
        "id1", "id2"
    )


@register("dedup_minhash_lsh_candidates", oracle=None)  # see docstring
def dedup_minhash_lsh_candidates(spark, sf_dir):
    """Production MinHash LSH (xxhash64 base hash).  No oracle BY
    NECESSITY: DuckDB has no xxhash64, and its 64-bit wrapping-multiply
    permutations are not reproducible in DuckDB's overflow-checked
    BIGINTs.  The complete LSH pipeline IS value-verified via
    ``dedup_minhash_lsh_portable`` (identical code path,
    ``portable_hash=True``); this entry additionally pins the xxhash64
    variant's row count."""
    docs = t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, "doc_id", "text", k=2).orderBy("id1", "id2")


@register("dedup_simhash_pairs", oracle=None)  # xxhash-based: not expressible in DuckDB
def dedup_simhash_pairs(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return dedup.simhash_dedup_pairs(docs, "doc_id", "text", max_hamming=8).orderBy("id1", "id2")


# --- embeddings -------------------------------------------------------------

# sequential left-fold twins of opteryx_spark.operators.similarity._dot:
# identical IEEE ops in identical order → bit-equal doubles in both engines
_O_DOT = (
    "list_reduce(list_transform(range(1, len(a.embedding)+1), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), "
    "(x, y) -> x + y)"
)
_O_NORM2 = (
    "list_reduce(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "(x, y) -> x + y)"
)


@register(
    "emb_l2_norms",
    oracle=f"""
    SELECT vec_id, sqrt({_O_NORM2.format(v='embedding')}) AS l2_norm
    FROM embeddings ORDER BY vec_id LIMIT 100
    """,
)
def emb_l2_norms(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return similarity.l2_norms(emb).orderBy("vec_id").limit(100)


@register(
    "emb_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
    SELECT b.vec_id,
           {_O_DOT.replace('a.embedding', 'q.embedding')}
             / (sqrt({_O_NORM2.format(v='q.embedding')})
                * sqrt({_O_NORM2.format(v='b.embedding')})) AS cosim
    FROM q, embeddings b
    WHERE b.vec_id <> 0
    ORDER BY cosim DESC, b.vec_id LIMIT 10
    """,
)
def emb_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k against the vec_id=0 embedding."""
    emb = t(spark, sf_dir, "embeddings")
    qvec = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    return similarity.cosine_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10)


@register(
    "emb_cosine_pairs",
    oracle=f"""
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           {_O_DOT} / (sqrt({_O_NORM2.format(v='a.embedding')})
                       * sqrt({_O_NORM2.format(v='b.embedding')})) AS cosim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_O_DOT} / (sqrt({_O_NORM2.format(v='a.embedding')})
                      * sqrt({_O_NORM2.format(v='b.embedding')})) >= 0.42
    ORDER BY id1, id2
    """,
)
def emb_cosine_pairs(spark, sf_dir):
    """Embedding near-duplicate pairs (cosine >= 0.42 on this corpus)."""
    emb = t(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs(emb, threshold=0.42).orderBy("id1", "id2")


@register(
    "emb_ann_lsh_topk",
    oracle=f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
    SELECT b.vec_id,
           {_O_DOT.replace('a.embedding', 'q.embedding')}
             / (sqrt({_O_NORM2.format(v='q.embedding')})
                * sqrt({_O_NORM2.format(v='b.embedding')})) AS cosim
    FROM q, embeddings b
    WHERE b.vec_id <> 0
    ORDER BY cosim DESC, b.vec_id LIMIT 10
    """,
)
def emb_ann_lsh_topk(spark, sf_dir):
    """Multiprobe hyperplane-LSH ANN.  probe_radius = n_planes covers the
    full Hamming ball, so the result provably equals exact brute-force
    top-k (the oracle) while every LSH mechanic executes: signatures,
    ball expansion, the bucket IN-filter.  Partial-probe recall is
    covered by tests/test_operators.py::test_ann_lsh_recall_vs_brute_force."""
    emb = t(spark, sf_dir, "embeddings")
    qvec = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    return similarity.hyperplane_lsh_topk(
        emb.filter(F.col("vec_id") != 0), qvec, k=10, n_planes=8, probe_radius=8
    )


@register(
    "multimodal_image_features",
    oracle="""
    WITH m AS (
      SELECT CAST(i AS BIGINT) AS media_id,
             CASE WHEN i % 3 = 0 THEN 'image/png' ELSE 'image/jpeg' END AS mime,
             repeat(sha256(CAST(i AS VARCHAR)), 4) AS p
      FROM range(0, 200) t(i)
    )
    SELECT media_id, mime,
           CAST(64 + ((strpos('0123456789abcdef', substring(sha256(p), 1, 1)) - 1) * 16 + (strpos('0123456789abcdef', substring(sha256(p), 2, 1)) - 1)) % 192 AS BIGINT) AS width,
           CAST(64 + ((strpos('0123456789abcdef', substring(sha256(p), 3, 1)) - 1) * 16 + (strpos('0123456789abcdef', substring(sha256(p), 4, 1)) - 1)) % 192 AS BIGINT) AS height,
           CAST(length(p) AS BIGINT) AS n_bytes,
           sha256(p) AS content_sha
    FROM m ORDER BY media_id
    """,
)
def multimodal_image_features(spark, sf_dir):
    """mapInPandas image-feature extraction over synthetic media.  The
    stub decode is DETERMINISTIC (sha256-derived dims over a hex-text
    payload), so DuckDB reproduces every value — the oracle pins the
    whole Arrow-batched plumbing, not just row counts.  Real codecs
    replace ``decode_image`` with identical schema/contract."""
    from opteryx_spark.operators import multimodal

    media = multimodal.synthetic_media(spark, 200)
    return multimodal.image_features(media, fake=True).orderBy("media_id")


# --- events time-series -----------------------------------------------------


@register(
    "events_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(25,8))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2 ORDER BY hour, event_type
    """,
)
def events_hourly_rollup(spark, sf_dir):
    """Tumbling-window rollup on the event stream table (the batch twin of
    the Structured Streaming pipeline in opteryx_spark.streaming)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(25,8)")).cast("double").alias("total_value"),
        )
        .orderBy("hour", "event_type")
    )


@register(
    "events_sessionless_funnel",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases
    FROM events GROUP BY user_id
    HAVING SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
    ORDER BY user_id
    """,
)
def events_sessionless_funnel(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    flag = lambda s: F.sum(F.when(F.col("event_type") == s, 1).otherwise(0))  # noqa: E731
    return (
        ev.groupBy("user_id")
        .agg(
            flag("view").alias("views"),
            flag("click").alias("clicks"),
            flag("purchase").alias("purchases"),
        )
        .filter(F.col("purchases") > 0)
        .orderBy("user_id")
    )


@register(
    "emb_ann_ivf_topk",
    oracle=f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
    SELECT b.vec_id,
           {_O_DOT.replace('a.embedding', 'q.embedding')}
             / (sqrt({_O_NORM2.format(v='q.embedding')})
                * sqrt({_O_NORM2.format(v='b.embedding')})) AS cosim
    FROM q, embeddings b
    WHERE b.vec_id <> 0
    ORDER BY cosim DESC, b.vec_id LIMIT 10
    """,
)
def emb_ann_ivf_topk(spark, sf_dir):
    """IVF (k-means coarse quantizer) ANN — the partition-pruned scale
    path.  Probing nprobe = n_clusters makes the result provably equal
    to exact brute-force top-k (the oracle), while still executing every
    IVF mechanic: k-means assignment, centroid ranking, the cluster
    IN-filter on the inverted lists.  Partial-probe recall (nprobe < n)
    is covered by the recall unit tests (tests/test_operators.py)."""
    emb = t(spark, sf_dir, "embeddings")
    qvec = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    rest = emb.filter(F.col("vec_id") != 0)
    assigned, centroids = similarity.ivf_index(rest, n_clusters=8)
    return similarity.ivf_topk(assigned, centroids, qvec, k=10, nprobe=8)


@register(
    "multimodal_video_frames",
    # value-oracled (r6): the stub's frame key is payload || ':' || idx
    # (ASCII, NUL-free) and dims derive from sha256 of the frame sha's
    # HEX string, so DuckDB's VARCHAR-only sha256 reproduces every value;
    # hex-pair -> byte via strpos arithmetic.
    oracle="""
    WITH m AS (
      SELECT r.range AS media_id,
             repeat(sha256(CAST(r.range AS VARCHAR)), 4) AS payload
      FROM range(50) r
    ), f AS (
      SELECT m.media_id, CAST(j.range * 5 AS BIGINT) AS frame_idx,
             sha256(m.payload || ':' || CAST(j.range * 5 AS VARCHAR)) AS frame_sha
      FROM m, range(4) j
    ), d AS (
      SELECT media_id, frame_idx, frame_sha, sha256(frame_sha) AS d2 FROM f
    )
    SELECT media_id, frame_idx, frame_sha,
      CAST(64 + ((16 * (strpos('0123456789abcdef', substr(d2, 1, 1)) - 1)
            + (strpos('0123456789abcdef', substr(d2, 2, 1)) - 1)) % 192) AS BIGINT)
        AS width,
      CAST(64 + ((16 * (strpos('0123456789abcdef', substr(d2, 3, 1)) - 1)
            + (strpos('0123456789abcdef', substr(d2, 4, 1)) - 1)) % 192) AS BIGINT)
        AS height
    FROM d ORDER BY media_id, frame_idx
    """,
)
def multimodal_video_frames(spark, sf_dir):
    """Video frame sampling (``multimodal.sample_video_frames``): one row
    per (video, sampled frame) with stride 5, capped at 4 frames; frame
    hashes/dims from the declared deterministic stub decode — the oracle
    reproduces the full arithmetic, so the mapInPandas fan-out, batch
    chunking, and schema are value-verified end-to-end."""
    from opteryx_spark.operators import multimodal

    media = multimodal.synthetic_media(spark, 50)
    return multimodal.sample_video_frames(media, every_nth=5, max_frames=4).orderBy(
        "media_id", "frame_idx"
    )


@register(
    "join_asof_last_click",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, MAX(value) AS click_value
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    purch AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.ts AS ts_r, c.click_value
    FROM purch p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.event_id
    """,
)
def join_asof_last_click(spark, sf_dir):
    """As-of join: each purchase annotated with the user's most recent
    click at-or-before it (operators/joins.py::asof_join — union +
    shuffle-sort + last-ignorenulls window, no UDF, one exchange)."""
    from opteryx_spark.operators.joins import asof_join

    ev = t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return asof_join(purch, clicks, on="ts", by="user_id").orderBy("event_id")


@register(
    "join_range_binned",
    oracle=f"""
    WITH w AS (
        SELECT event_type AS wtype, MIN(ts) AS ws,
               MIN(ts) + INTERVAL 12 HOUR AS we
        FROM events GROUP BY event_type
    )
    SELECT wtype, CAST(COUNT(*) AS BIGINT) AS n_in,
           {osum('value')} AS total_value
    FROM events e JOIN w ON e.ts >= w.ws AND e.ts < w.we
    GROUP BY wtype ORDER BY wtype
    """,
)
def join_range_binned(spark, sf_dir):
    """Point-in-interval join via bin equi-join (operators/joins.py::
    range_bin_join): events falling in each type's first-12-hours window.
    Naive Spark would BroadcastNestedLoop this theta join; binning makes
    it a hash join on floor(ts/1h) with exact refinement."""
    from opteryx_spark.operators.joins import range_bin_join

    ev = t(spark, sf_dir, "events")
    win = (
        ev.groupBy(F.col("event_type").alias("wtype"))
        .agg(F.min("ts").alias("ws"))
        .withColumn("we", F.col("ws") + F.expr("INTERVAL 12 HOURS"))
    )
    joined = range_bin_join(
        ev.select("ts", "value"), win, "ts", "ws", "we", bin_width=3600.0
    )
    return (
        joined.groupBy("wtype")
        .agg(F.count(F.lit(1)).alias("n_in"), dsum(F.col("value")).alias("total_value"))
        .orderBy("wtype")
    )


def _det_planes(bands: int, ppb: int, dim: int) -> list[list[float]]:
    """Deterministic integer hyperplanes (Knuth multiplicative mix into
    [-1000, 1000]) — scale is irrelevant to LSH's sign test, and integer
    arithmetic lets the DuckDB oracle regenerate the exact matrix, making
    the whole banded-LSH algorithm value-verifiable (same portable-twin
    strategy as dedup_minhash_lsh_portable)."""
    return [
        [
            float((((i * dim + d) * 2654435761) % 4294967296) % 2001 - 1000)
            for d in range(dim)
        ]
        for i in range(bands * ppb)
    ]


@register(
    "emb_lsh_near_dup_pairs",
    # full portable twin (r6, ex rows-only): the oracle regenerates the
    # deterministic plane matrix, recomputes band signatures, bucket-joins,
    # applies the bucket cap, and refines with exact cosine — bit-identical
    # to the engine because both run the SAME algorithm on the SAME planes.
    oracle=f"""
    WITH pl AS (
      SELECT b.range AS band, p.range AS pj,
             list_transform(range(0, 64), d ->
               CAST(((((b.range * 4 + p.range) * 64 + d) * 2654435761)
                     % 4294967296) % 2001 - 1000 AS DOUBLE)) AS w
      FROM range(4) b, range(4) p
    ), sb AS (
      SELECT e.vec_id, pl.band, pl.pj,
             list_reduce(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE) * pl.w[i]),
               (x, y) -> x + y) AS dot
      FROM embeddings e, pl
    ), sigs AS (
      SELECT vec_id, band,
             CAST(SUM(CASE WHEN dot >= 0 THEN (1 << pj) ELSE 0 END) AS BIGINT)
               AS sig
      FROM sb GROUP BY vec_id, band
      QUALIFY COUNT(*) OVER (PARTITION BY band, sig) <= 10000
    ), cand AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id
    )
    SELECT id1, id2, cosim FROM (
      SELECT c.id1, c.id2,
             {_O_DOT.replace('a.embedding', 'e1.embedding').replace('b.embedding', 'e2.embedding')}
               / (sqrt({_O_NORM2.format(v='e1.embedding')})
                  * sqrt({_O_NORM2.format(v='e2.embedding')})) AS cosim
      FROM cand c
      JOIN embeddings e1 ON e1.vec_id = c.id1
      JOIN embeddings e2 ON e2.vec_id = c.id2
    ) WHERE cosim >= 0.45
    ORDER BY id1, id2
    """,
)
def emb_lsh_near_dup_pairs(spark, sf_dir):
    """Embedding near-dup pairs via banded hyperplane LSH + exact-cosine
    refinement (``similarity.lsh_cosine_pairs``) — the 100 TB path that
    replaces the O(n²) emb_cosine_pairs baseline (bucket-local candidate
    join, never all-pairs).  The entry pins the deterministic integer
    plane matrix so the oracle is a full algorithm twin; Gaussian-plane
    recall is covered by tests/test_operators.py."""
    emb = t(spark, sf_dir, "embeddings")
    return similarity.lsh_cosine_pairs(
        emb,
        threshold=0.45,
        bands=4,
        planes_per_band=4,
        planes=_det_planes(4, 4, 64),
        dim=64,
    ).orderBy("id1", "id2")


@register(
    "text_bpe_token_stats",
    oracle="""
    SELECT lang,
           CAST(SUM(nb) AS BIGINT) AS total_bpe_tokens,
           CAST(MAX(nb) AS BIGINT) AS max_bpe_tokens,
           CAST(FLOOR(CAST(SUM(nb) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 10000) AS BIGINT)
               AS avg_bpe_tokens_x1e4
    FROM (SELECT lang,
                 len(regexp_extract_all(text,
                     '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 '']+')) AS nb
          FROM documents) x
    GROUP BY lang ORDER BY lang
    """,
)
def text_bpe_token_stats(spark, sf_dir):
    """BPE-ish token budgeting per language (regex pretokenizer counts —
    operators/text.py::bpe_tokens; reference has whitespace tokens only,
    this is the training-data-pipeline extension the brief mandates)."""
    docs = t(spark, sf_dir, "documents")
    nb = text.bpe_token_count("text").alias("nb")
    return (
        docs.select("lang", nb)
        .groupBy("lang")
        .agg(
            F.sum("nb").alias("total_bpe_tokens"),
            F.max("nb").alias("max_bpe_tokens"),
            F.floor(
                F.sum("nb").cast("double") / F.count(F.lit(1)).cast("double") * 10000
            ).alias("avg_bpe_tokens_x1e4"),
        )
        .orderBy("lang")
    )


@register(
    "text_winnow_fingerprints",
    oracle="""
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fp,
           CAST(list_min(fps) AS BIGINT) AS min_fp,
           CAST(list_max(fps) AS BIGINT) AS max_fp
    FROM (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(hashes) - 4 + 2),
                                          p -> list_min(hashes[p:p+3]))) AS fps
      FROM (
        SELECT doc_id,
               list_transform(range(1, length(text) - 5 + 2), i ->
                 (CAST(ascii(text[i]) AS BIGINT) * 923521
                  + CAST(ascii(text[i+1]) AS BIGINT) * 29791
                  + CAST(ascii(text[i+2]) AS BIGINT) * 961
                  + CAST(ascii(text[i+3]) AS BIGINT) * 31
                  + CAST(ascii(text[i+4]) AS BIGINT)) % 1000003) AS hashes
        FROM documents) h) w
    WHERE doc_id <= 200
    ORDER BY doc_id
    """,
)
def text_winnow_fingerprints(spark, sf_dir):
    """Winnowing rolling-hash document fingerprints
    (operators/text.py::winnow_fingerprints — polynomial char-5-gram hash,
    window-4 min selection; per-doc fingerprint-set stats, exact oracle)."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    fps = text.winnow_fingerprints("text", k=5, window=4)
    return (
        docs.select("doc_id", fps.alias("fps"))
        .select(
            "doc_id",
            F.size("fps").cast("long").alias("n_fp"),
            F.array_min("fps").alias("min_fp"),
            F.array_max("fps").alias("max_fp"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_winnow_pairs",
    oracle="""
    WITH fps AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(hashes) - 4 + 2),
                                                 p -> list_min(hashes[p:p+3])))) AS fp
      FROM (
        SELECT doc_id,
               list_transform(range(1, length(text) - 5 + 2), i ->
                 (CAST(ascii(text[i]) AS BIGINT) * 923521
                  + CAST(ascii(text[i+1]) AS BIGINT) * 29791
                  + CAST(ascii(text[i+2]) AS BIGINT) * 961
                  + CAST(ascii(text[i+3]) AS BIGINT) * 31
                  + CAST(ascii(text[i+4]) AS BIGINT)) % 1000003) AS hashes
        FROM documents WHERE doc_id <= 300) h),
    kept AS (
      SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 1000)
    SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fps a
    JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    WHERE a.fp IN (SELECT fp FROM kept)
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    ORDER BY id1, id2
    """,
)
def dedup_winnow_pairs(spark, sf_dir):
    """Winnowing fingerprint-share near-dup join
    (operators/dedup.py::winnow_pairs — inverted index on rolling-hash
    fingerprints, df-capped; exact DuckDB oracle on identical arithmetic)."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    return dedup.winnow_pairs(docs, min_shared=2).orderBy("id1", "id2")


# --- composed curation pipeline ---------------------------------------------


@register(
    "curate_pipeline_audit",
    oracle=f"""
    WITH stats AS (
      SELECT doc_id, text,
             CAST(len({_O_TOKENS}) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct({_O_TOKENS})) AS DOUBLE)
               / CAST(len({_O_TOKENS}) AS DOUBLE) * 0.5
             + (CASE WHEN len({_O_TOKENS}) >= 20 THEN 1.0
                     ELSE CAST(len({_O_TOKENS}) AS DOUBLE) / 20.0 END) * 0.5
               AS quality,
             md5(text) AS digest
      FROM documents
    ), exact_keep AS (
      SELECT digest, MIN(doc_id) AS keep_id FROM stats GROUP BY digest
    ), sh AS (
      SELECT doc_id, unnest({_O_BIGRAMS}) AS s FROM documents
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ), ov AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS ov
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), near_drop AS (
      SELECT DISTINCT id2 AS doc_id
      FROM ov JOIN sizes sa ON sa.doc_id = ov.id1
              JOIN sizes sb ON sb.doc_id = ov.id2
      WHERE CAST(ov AS DOUBLE) / CAST(sa.n + sb.n - ov AS DOUBLE) >= 0.9
    ), flagged AS (
      -- LEFT join + invalid_text first: a NULL-text doc has a NULL digest
      -- (joins nothing) and must surface as its own outcome, not vanish
      SELECT s.doc_id, s.n_tokens,
             CASE WHEN s.text IS NULL THEN 'invalid_text'
                  WHEN s.n_tokens < 10 THEN 'too_short'
                  WHEN s.quality < 0.4 THEN 'low_quality'
                  WHEN s.doc_id <> ek.keep_id THEN 'exact_duplicate'
                  WHEN nd.doc_id IS NOT NULL THEN 'near_duplicate'
                  ELSE 'kept' END AS outcome
      FROM stats s
      LEFT JOIN exact_keep ek ON ek.digest = s.digest
      LEFT JOIN near_drop nd ON nd.doc_id = s.doc_id
    )
    SELECT outcome, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM flagged GROUP BY outcome ORDER BY outcome
    """,
)
def curate_pipeline_audit(spark, sf_dir):
    """End-to-end curation accounting (``operators/curate.py`` composed
    pipeline — the thing a training-data user actually runs): flag
    precedence too_short → low_quality → exact_duplicate →
    near_duplicate, aggregated per outcome.  The oracle reproduces every
    stage (quality arithmetic, digest grouping, exact bigram-Jaccard
    near-dup at 0.9) and the precedence CASE in one SQL statement."""
    from opteryx_spark.operators import curate

    docs = t(spark, sf_dir, "documents")
    return curate.curation_report(curate.curate_corpus(docs))


# --- oracle-verifiable MinHash LSH (portable hash) --------------------------

# The default minhash entries use Spark's xxhash64 (fast JVM path, not
# expressible in DuckDB — rows-only checked).  This twin runs the SAME LSH
# pipeline (permutation family, banding, hot-bucket cap, est_jaccard) on
# the portable polynomial hash, making every stage value-verifiable.
from opteryx_spark.operators.hashing import portable_perm_params  # noqa: E402

_PERM_VALUES = ", ".join(
    f"({i}, CAST({a} AS BIGINT), CAST({b} AS BIGINT))"
    for i, (a, b) in enumerate(portable_perm_params(64))
)


@register(
    "dedup_minhash_lsh_portable",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest({_O_BIGRAMS}) AS s FROM documents
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
    ), ok AS (
      SELECT band, bh FROM bnd GROUP BY band, bh HAVING COUNT(*) <= 1000
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM bnd a JOIN bnd b ON a.band = b.band AND a.bh = b.bh
                           AND a.doc_id < b.doc_id
      JOIN ok ON ok.band = a.band AND ok.bh = a.bh
    )
    SELECT id1, id2,
           CAST(len(list_filter(range(1,65), i -> sa.sig[i] = sb.sig[i]))
                AS DOUBLE) / 64.0 AS est_jaccard
    FROM cand JOIN sigs sa ON sa.doc_id = id1 JOIN sigs sb ON sb.doc_id = id2
    ORDER BY id1, id2
    """,
)
def dedup_minhash_lsh_portable(spark, sf_dir):
    """Banded MinHash LSH candidates with the portable polynomial hash:
    the full pipeline (64 permutations mod M31, 16 bands of 4,
    polynomial band hash, ≤1000 hot-bucket cap, matching-component
    est_jaccard) reproduced bit-for-bit by the DuckDB oracle —
    the xxhash64 production twin differs only in the base hash
    (``operators/dedup.py::minhash_signatures``)."""
    docs = t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", k=2, unique_texts=False, portable_hash=True
    ).orderBy("id1", "id2")


# --- cleaning stages: normalize / redact / quantize -------------------------


@register(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g'))) AS norm_md5,
           CAST(length(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g'))) AS BIGINT) AS norm_len
    FROM documents ORDER BY doc_id
    """,
)
def text_normalize(spark, sf_dir):
    """Canonical text form (operators/text.py::normalize_text): lowercase
    + whitespace collapse, the first stage of any dedup/compare pass."""
    docs = t(spark, sf_dir, "documents")
    norm = text.normalize_text("text")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).cast("long").alias("norm_len"),
    ).orderBy("doc_id")


@register(
    "text_redact_pii",
    oracle="""
    WITH red AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
               '[0-9][0-9][0-9][0-9][0-9][0-9][0-9]+', '<NUM>', 'g') AS r
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN r LIKE '%<EMAIL>%' THEN 1 ELSE 0 END) AS BIGINT) AS n_email_docs,
           CAST(SUM(CASE WHEN r LIKE '%<NUM>%' THEN 1 ELSE 0 END) AS BIGINT) AS n_num_docs,
           md5(string_agg(md5(r), '' ORDER BY doc_id)) AS corpus_md5
    FROM red
    """,
)
def text_redact_pii(spark, sf_dir):
    """PII scrub accounting (operators/text.py::redact_pii): emails and
    7+-digit runs replaced with typed placeholders; the corpus digest
    pins every redacted byte, not just the counts."""
    docs = t(spark, sf_dir, "documents")
    red = text.redact_pii("text")
    per_doc = docs.select("doc_id", F.md5(red).alias("rm"), red.alias("r"))
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("r").contains("<EMAIL>"), 1).otherwise(0)).alias("n_email_docs"),
        F.sum(F.when(F.col("r").contains("<NUM>"), 1).otherwise(0)).alias("n_num_docs"),
        F.md5(F.concat_ws("", F.array_sort(F.collect_list(F.struct("doc_id", "rm"))).getField("rm"))).alias("corpus_md5"),
    )


@register(
    "emb_quantize_int8",
    oracle="""
    SELECT vec_id,
           array_to_string(list_transform(embedding, x ->
             CAST(floor(CAST(x AS DOUBLE) *
               (127.0 / list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))))
               + 0.5) AS INT)), ',') AS qvec_csv,
           127.0 / list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS scale
    FROM embeddings WHERE vec_id < 200 ORDER BY vec_id
    """,
)
def emb_quantize_int8(spark, sf_dir):
    """Symmetric int8 embedding quantization
    (operators/similarity.py::quantize_int8): 4x memory cut for ANN
    shortlists; explicit floor(x+0.5) keeps rounding engine-identical.
    qvec serialized as CSV for the driver's value-hash (array cells
    can't be hashed)."""
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    q = similarity.quantize_int8(emb)
    return q.select(
        "vec_id",
        F.array_join(F.transform("qvec", lambda x: x.cast("string")), ",").alias("qvec_csv"),
        "scale",
    ).orderBy("vec_id")


# --- chunking / sampling / dup-grouping -------------------------------------


@register(
    "text_chunk_documents",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_O_TOKENS} AS ts FROM documents WHERE doc_id < 300),
    nch AS (
      SELECT doc_id, ts,
             GREATEST(CAST(ceil(CAST(len(ts) - 16 AS DOUBLE) / 112.0) AS INT), 1) AS n
      FROM tk
    ),
    ch AS (
      SELECT doc_id, i - 1 AS chunk_idx,
             array_to_string(ts[(i-1)*112 + 1 : (i-1)*112 + 128], ' ') AS chunk_text
      FROM nch, unnest(range(1, n + 1)) AS u(i)
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, chunk_text,
           CAST(len(list_filter(string_split(chunk_text, ' '), x -> x <> '')) AS BIGINT)
             AS n_chunk_tokens
    FROM ch ORDER BY doc_id, chunk_idx
    """,
)
def text_chunk_documents(spark, sf_dir):
    """Token-budget chunking (operators/text.py::chunk_documents,
    max_tokens=128 overlap=16): map-only posexplode; every chunk byte is
    value-checked against identical slice arithmetic in DuckDB."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return text.chunk_documents(docs, max_tokens=128, overlap=16).orderBy(
        "doc_id", "chunk_idx"
    )


@register(
    "sample_hash_deterministic",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang, n_chars,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, 9), i ->
                 CAST(strpos('0123456789abcdef',
                             substring(md5('s1' || CAST(doc_id AS VARCHAR)), i, 1)) - 1
                      AS BIGINT))),
               (a, c) -> a * 16 + c) AS bucket
      FROM documents
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM h WHERE bucket < CAST(0.1 * 4294967296 AS BIGINT)
    ORDER BY doc_id
    """,
)
def sample_hash_deterministic(spark, sf_dir):
    """Deterministic 10% hash sample (operators/scale.py::hash_sample):
    md5-bucketed, engine-portable (the oracle folds the same 8 hex chars
    Spark's conv() parses), repartition-stable, key-consistent."""
    from opteryx_spark.operators.scale import hash_sample

    docs = t(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 10.0, salt="s1").select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    ).orderBy("doc_id")


@register(
    "dedup_connected_groups",
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, unnest({_O_BIGRAMS}) AS s FROM documents
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ), ov AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS ov
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id1, id2
      FROM ov JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
      WHERE CAST(ov AS DOUBLE) / CAST(sa.n + sb.n - ov AS DOUBLE) >= 0.8
    ), edges AS (
      SELECT id1 AS a, id2 AS b FROM pairs
      UNION SELECT id2, id1 FROM pairs
    ), walk(node, comp) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
      UNION
      SELECT e.a, w.comp FROM edges e JOIN walk w ON w.node = e.b
    )
    SELECT node, MIN(comp) AS comp FROM walk GROUP BY node ORDER BY node
    """,
)
def dedup_connected_groups(spark, sf_dir):
    """Near-dup pair graph → connected components
    (operators/dedup.py::connected_components, label propagation):
    min-reachable-id labels checked against a DuckDB recursive-CTE
    ground truth on the same exact-Jaccard pair set."""
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=2, threshold=0.8)
    return dedup.connected_components(pairs).orderBy("node")


@register(
    "dedup_simhash_portable",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_O_TOKENS} AS ts FROM documents),
    hs AS (SELECT doc_id, list_transform(ts, s ->
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(s)+1), i -> CAST(ascii(s[i]) AS BIGINT))),
               (acc,c) -> (acc*31+c) % 2147483647)) AS hs, len(ts) AS n
           FROM tk WHERE len(ts) > 0),
    sig AS (SELECT doc_id,
              CAST(list_sum(list_transform(range(0, 28), j ->
                CASE WHEN 2 * len(list_filter(hs, h -> (h >> j) & 1 = 1)) > n
                     THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))
                   AS BIGINT) AS sh
            FROM hs),
    blk AS (SELECT doc_id, sh, i AS blk, (sh >> CAST(i*7 AS INT)) & 127 AS bv
            FROM sig, unnest(range(0,4)) u(i)),
    cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.sh AS h1, b.sh AS h2
             FROM blk a JOIN blk b ON a.blk = b.blk AND a.bv = b.bv
                                  AND a.doc_id < b.doc_id)
    SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(h1, h2)) <= 3 ORDER BY id1, id2
    """,
)
def dedup_simhash_portable(spark, sf_dir):
    """SimHash near-dup pairs on the portable 28-bit polynomial hash —
    the same bit-vote/pigeonhole-banding/popcount pipeline as the
    production 64-bit xxhash64 twin (``dedup_simhash_pairs``, rows-only
    by necessity), with every vote reproduced in DuckDB."""
    docs = t(spark, sf_dir, "documents")
    return dedup.simhash_dedup_pairs(
        docs, "doc_id", "text", max_hamming=3, blocks=4,
        unique_texts=False, bits=28, portable_hash=True,
    ).orderBy("id1", "id2")


@register(
    "emb_ann_sq8_topk",
    # full portable twin: the shortlist ranks by the exact INTEGER
    # quantized dot (bit-deterministic), the rescore is the proven exact
    # cosine — the oracle reruns the identical algorithm in SQL.
    oracle=f"""
    WITH qrow AS (
      SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
    ), qq AS (
      SELECT qe,
             list_transform(qe, x -> CAST(floor(CAST(x AS DOUBLE) *
               (127.0 / list_max(list_transform(qe, y -> abs(CAST(y AS DOUBLE)))))
               + 0.5) AS BIGINT)) AS qv
      FROM qrow
    ), c8 AS (
      SELECT b.vec_id, b.embedding,
             list_transform(b.embedding, x -> CAST(floor(CAST(x AS DOUBLE) *
               (127.0 / list_max(list_transform(b.embedding,
                 y -> abs(CAST(y AS DOUBLE))))) + 0.5) AS BIGINT)) AS bq
      FROM embeddings b WHERE b.vec_id <> 0
    ), sl AS (
      SELECT c8.vec_id, c8.embedding
      FROM c8, qq
      ORDER BY list_reduce(list_transform(range(1, 65),
                 i -> c8.bq[i] * qq.qv[i]), (x, y) -> x + y) DESC,
               c8.vec_id
      LIMIT 40
    )
    SELECT s.vec_id,
           {_O_DOT.replace('a.embedding', 'q.qe').replace('b.embedding', 's.embedding')}
             / (sqrt({_O_NORM2.format(v='q.qe')})
                * sqrt({_O_NORM2.format(v='s.embedding')})) AS cosim
    FROM sl s, qrow q
    ORDER BY cosim DESC, s.vec_id LIMIT 10
    """,
)
def emb_ann_sq8_topk(spark, sf_dir):
    """Scalar-quantized ANN (``similarity.sq8_topk``): int8 integer-dot
    shortlist (40 candidates, deterministic id tiebreak) + exact-cosine
    rescore to top-10 — the FAISS-SQ8 scale path with every stage
    value-verified as a portable twin."""
    emb = t(spark, sf_dir, "embeddings")
    qvec = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    ]
    return similarity.sq8_topk(
        emb.filter(F.col("vec_id") != 0), qvec, k=10, shortlist=40
    )
