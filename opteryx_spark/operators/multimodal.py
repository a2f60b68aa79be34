"""Multimodal column plumbing: binary payloads + typed metadata.

Design (the part that must be right for 100 TB):

- media travels as an opaque ``binary`` column beside a typed metadata
  struct (mime, width/height, sample rate, ...) — never decoded during
  relational ops, so joins/filters/pruning never touch the bytes;
- decode / feature-extract / resize / frame-sample run as
  ``mapInPandas`` stages: Arrow-batched, schema-stable, partition-local;
- batch size is bounded by rows *and* payload bytes (``maxRecordsPerBatch``
  should be set low for media tables — a 10 MB image times 10k rows is an
  OOM, so we re-chunk inside the generator).

The actual codecs (PIL/ffmpeg/etc.) are not available in this container:
``decode_image`` raises ``NotImplementedError`` unless ``fake=True``,
which produces a deterministic fake decode (hash-derived dimensions) so
the Spark-side plumbing — schema, partitioning, UDF signature, batch
shape — is fully real and testable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from opteryx_spark import cache

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime", StringType(), True),
        StructField("payload", BinaryType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime", StringType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("content_sha", StringType(), True),
    ]
)


def _byte_chunks(pdf: "pd.DataFrame", max_batch_bytes: int):
    """Slice an Arrow batch into sub-frames whose summed payload bytes
    stay near ``max_batch_bytes`` (always advancing at least one row) —
    the guard that keeps mixed small/large media from blowing executor
    memory.  Shared by every mapInPandas media operator so the chunk
    bookkeeping exists exactly once."""
    start = 0
    while start < len(pdf):
        size, end = 0, start
        while end < len(pdf) and size <= max_batch_bytes:
            payload = pdf["payload"].iloc[end]
            size += len(payload) if payload is not None else 0
            end += 1
        yield pdf.iloc[start:end]
        start = end


def _fake_decode(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for an image decoder: dimensions derived
    from the content hash.  STUB — replace with PIL in a full runtime."""
    digest = hashlib.sha256(payload or b"").digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    return width, height


def decode_image(payload: bytes, fake: bool = False) -> tuple[int, int]:
    if fake:
        return _fake_decode(payload)
    raise NotImplementedError(
        "image codecs are not available in this container; pass fake=True "
        "to exercise the pipeline with deterministic fake decodes"
    )


def image_features(df: DataFrame, fake: bool = True, max_batch_bytes: int = 64 << 20) -> DataFrame:
    """Per-image feature extraction as a mapInPandas stage.

    The generator re-chunks each Arrow batch so no in-flight pandas frame
    exceeds ``max_batch_bytes`` of payload — the guard that makes this
    safe on mixed small/large media at scale.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for chunk in _byte_chunks(pdf, max_batch_bytes):
                dims = [
                    decode_image(p, fake=fake) if p is not None else (None, None)
                    for p in chunk["payload"]
                ]
                yield pd.DataFrame(
                    {
                        "media_id": chunk["media_id"].values,
                        "mime": chunk["mime"].values,
                        "width": [d[0] for d in dims],
                        "height": [d[1] for d in dims],
                        "n_bytes": [len(p) if p is not None else 0 for p in chunk["payload"]],
                        # NULL payload -> NULL digest (see audio_features)
                        "content_sha": [
                            hashlib.sha256(p).hexdigest() if p is not None else None
                            for p in chunk["payload"]
                        ],
                    }
                )

    return df.select("media_id", "mime", "payload").mapInPandas(extract, IMAGE_FEATURES_SCHEMA)


def synthetic_media(spark, n: int = 100) -> DataFrame:
    """Deterministic fake media table for tests: payload = repeated digest
    bytes keyed by media_id (generated distributed via spark.range)."""
    return (
        spark.range(n)
        .select(
            F.col("id").alias("media_id"),
            F.when(F.col("id") % 3 == 0, "image/png").otherwise("image/jpeg").alias("mime"),
            F.repeat(F.sha2(F.col("id").cast("string"), 256), 4).cast("binary").alias("payload"),
        )
    )


VIDEO_FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("frame_sha", StringType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
    ]
)


def sample_video_frames(
    df: DataFrame, every_nth: int = 10, max_frames: int = 8, fake: bool = True
) -> DataFrame:
    """Frame sampling for video payloads as a mapInPandas stage.

    One input row fans out to <= max_frames rows (frame_idx stride
    ``every_nth``).  STUB decode: frame hashes/dims derive
    deterministically from (payload, frame_idx); swap in ffmpeg/PyAV in a
    full runtime — the Spark-side contract (schema, fan-out shape,
    partition locality) is the part under test.

    Stub arithmetic is deliberately NUL-free so a pure-SQL oracle can
    reproduce it: the frame key is ``payload || ':' || str(frame_idx)``
    (ASCII suffix, not packed bytes) and the dimension digest runs over
    the frame sha's HEX STRING — both expressible over VARCHAR in
    engines whose hash functions cannot take raw blobs.
    """
    if not fake:  # pragma: no cover
        raise NotImplementedError("video codecs unavailable in this container")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_sha": [], "width": [], "height": []}
            for _, row in pdf.iterrows():
                payload = row["payload"] or b""
                for j in range(max_frames):
                    frame_idx = j * every_nth
                    frame_sha = hashlib.sha256(
                        payload + b":" + str(frame_idx).encode()
                    ).hexdigest()
                    w, h = _fake_decode(frame_sha.encode())
                    out["media_id"].append(row["media_id"])
                    out["frame_idx"].append(frame_idx)
                    out["frame_sha"].append(frame_sha)
                    out["width"].append(w)
                    out["height"].append(h)
            yield pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(sample, VIDEO_FRAMES_SCHEMA)


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sample_rate", LongType(), True),
        StructField("n_samples", LongType(), True),
        StructField("duration_s", LongType(), True),
        StructField("n_bytes", LongType(), False),
        StructField("content_sha", StringType(), True),
    ]
)


def _fake_audio_probe(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for an audio decoder: (sample_rate,
    n_samples) derived from the content hash.  STUB — replace with
    soundfile/ffprobe in a full runtime."""
    digest = hashlib.sha256(payload or b"").digest()
    sample_rate = 8000 * (1 + digest[0] % 5)  # 8k..40k
    seconds = 1 + digest[1] % 30
    return sample_rate, sample_rate * seconds


def audio_features(df: DataFrame, fake: bool = True, max_batch_bytes: int = 64 << 20) -> DataFrame:
    """Per-clip audio feature extraction as a mapInPandas stage (same
    Arrow-batch/size-guard plumbing as :func:`image_features`; the codec
    is the declared stub).  Emits sample rate, sample count, and integer
    duration — the columns an audio-curation pass filters on."""
    if not fake:  # pragma: no cover
        raise NotImplementedError("audio codecs unavailable in this container")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for chunk in _byte_chunks(pdf, max_batch_bytes):
                probes = [
                    _fake_audio_probe(p) if p is not None else (None, None)
                    for p in chunk["payload"]
                ]
                yield pd.DataFrame(
                    {
                        "media_id": chunk["media_id"].values,
                        "sample_rate": [pr[0] for pr in probes],
                        "n_samples": [pr[1] for pr in probes],
                        "duration_s": [
                            pr[1] // pr[0] if pr[0] else None for pr in probes
                        ],
                        "n_bytes": [len(p) if p is not None else 0 for p in chunk["payload"]],
                        # NULL payload -> NULL digest: all missing clips
                        # must not collide on sha256(b'') downstream
                        "content_sha": [
                            hashlib.sha256(p).hexdigest() if p is not None else None
                            for p in chunk["payload"]
                        ],
                    }
                )

    return df.select("media_id", "payload").mapInPandas(extract, AUDIO_FEATURES_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("out_width", LongType(), True),
        StructField("out_height", LongType(), True),
        StructField("resized_sha", StringType(), True),
    ]
)


def resize_images(
    df: DataFrame, max_side: int = 128, fake: bool = True, max_batch_bytes: int = 64 << 20
) -> DataFrame:
    """Aspect-preserving thumbnail pass as a mapInPandas stage.

    The scaling arithmetic is real (integer floor scale to ``max_side``,
    never upscales, min 1px); the pixel resample is the declared stub —
    the emitted ``resized_sha`` stands in for the output payload id,
    derived deterministically from (content, target dims) so downstream
    joins/dedup over resized artifacts are exercisable.
    """
    if not fake:  # pragma: no cover
        raise NotImplementedError("image codecs unavailable in this container")

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for chunk in _byte_chunks(pdf, max_batch_bytes):
                out = {k: [] for k in ("media_id", "width", "height", "out_width", "out_height", "resized_sha")}
                for mid, payload in zip(chunk["media_id"], chunk["payload"]):
                    if payload is None:
                        # missing media yields null features, same as the
                        # sibling operators — never phantom artifacts
                        w = h = ow = oh = rsha = None
                    else:
                        w, h = _fake_decode(payload)
                        side = max(w, h)
                        if side <= max_side:
                            ow, oh = w, h
                        else:
                            ow = max(1, (w * max_side) // side)
                            oh = max(1, (h * max_side) // side)
                        sha = hashlib.sha256(payload).hexdigest()
                        rsha = hashlib.sha256(f"{sha}:{ow}x{oh}".encode()).hexdigest()
                    out["media_id"].append(mid)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["out_width"].append(ow)
                    out["out_height"].append(oh)
                    out["resized_sha"].append(rsha)
                yield pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(resize, RESIZE_SCHEMA)


def _dhash_band_expr(h_col: str, band: int) -> str:
    """SQL expression (valid in Spark AND DuckDB: instr/substring only)
    for one 16-bit band of the 64-bit dHash over the 64 hex nibbles of
    ``h_col``: bit j of band b is ``nibble[16b+j] > nibble[16b+j+1]``
    (wrapping at 64), packed little-endian into a BIGINT."""
    terms = []
    for j in range(16):
        k = 16 * band + j
        nxt = (k + 1) % 64
        a = f"(instr('0123456789abcdef', substring({h_col}, {k + 1}, 1)) - 1)"
        b = f"(instr('0123456789abcdef', substring({h_col}, {nxt + 1}, 1)) - 1)"
        terms.append(f"(CASE WHEN {a} > {b} THEN {1 << j} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def dhash_bands(
    df: DataFrame,
    content_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """64-bit difference-hash (dHash) of media content, carried as four
    16-bit BIGINT bands — the perceptual-hash representation image dedup
    pipelines band-join on.  STUB pixel source: with no codec in this
    container, the "pixel" intensities are the 64 hex nibbles of
    ``sha256(content)`` (deterministic, engine-reproducible — the same
    NUL-free arithmetic contract as the other multimodal stubs); a full
    runtime swaps in real 8x9 grayscale differences, the banding and
    join shapes are unchanged.  ``content_col`` is hashed as a STRING
    (DuckDB's sha256 is VARCHAR-only — NOTES_r6).

    bit j of band b: ``nibble[16b+j] > nibble[16b+j+1]`` (wrapping), so
    the whole hash is one codegen'd expression — map-only, no Python.

    Returns ``id_col``, ``b0``..``b3`` (BIGINT, 16 bits each); NULL
    content yields NULL bands.
    """
    h = F.sha2(F.col(content_col).cast("string"), 256)
    with_h = df.select(F.col(id_col), h.alias("_h"))
    return with_h.select(
        id_col,
        *[
            F.when(F.col("_h").isNotNull(), F.expr(_dhash_band_expr("_h", b))).alias(
                f"b{b}"
            )
            for b in range(4)
        ],
    )


def phash_near_dup_pairs(
    df: DataFrame,
    content_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Perceptual-hash near-duplicate pairs: band-join candidates +
    exact Hamming verification — the image-dedup analogue of MinHash
    LSH.  With 4 bands of 16 bits, any pair within ``max_hamming <= 3``
    bits differs in at most 3 bands, so at least one band matches
    EXACTLY (pigeonhole) — candidate generation by band equality has
    perfect recall at the default threshold; larger thresholds trade
    recall like any banding scheme (documented, not silent).

    Scale shape: hashes are map-only; candidates come from ONE explode
    (4 rows/item) + self-equi-join on ``(band_idx, value)`` carrying
    only ids and band scalars; verification is bit_count over XOR — no
    cartesian, no windows.

    Returns ``id_a`` < ``id_b`` and ``hamming`` (BIGINT).
    """
    if not (0 <= max_hamming <= 64):
        raise ValueError("max_hamming in [0, 64]")

    bands = cache.persist(dhash_bands(df, content_col, id_col).filter(
        F.col("b0").isNotNull()
    ))
    sig = bands.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("bi"), F.col(f"b{b}").alias("bv")) for b in range(4)])
        ).alias("_e"),
    ).select("_id", F.col("_e.bi").alias("_bi"), F.col("_e.bv").alias("_bv"))
    cand = (
        sig.alias("l")
        .join(sig.alias("r"), ["_bi", "_bv"])
        .filter(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    a = bands.select(
        F.col(id_col).alias("id_a"), *[F.col(f"b{b}").alias(f"a{b}") for b in range(4)]
    )
    b_ = bands.select(
        F.col(id_col).alias("id_b"), *[F.col(f"b{b}").alias(f"bb{b}") for b in range(4)]
    )
    ham = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"bb{i}"))).cast("long")
        for i in range(4)
    )
    return (
        cand.join(a, "id_a")
        .join(b_, "id_b")
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= F.lit(int(max_hamming)))
    )
