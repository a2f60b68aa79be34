"""The portable hash family: integer hashes that plain SQL replays exactly.

Every hash-based operator that carries a DuckDB oracle (MinHash LSH, HLL,
CMS, KMV, bloom filters, hashed features, hash sampling) hashes through
the recipes below.  Each recipe keeps every intermediate inside BIGINT
range, so the oracle's SQL reproduces it bit for bit; the stream twins
call the same builders as their batch operators, so the two cannot drift.

- :func:`portable_hash_expr` — polynomial char hash mod the Mersenne
  prime M31: ``fold(acc*31 + codepoint) % 2^31-1``.
- :func:`hash32` — the degski/Stafford xorshift-multiply finisher:
  ``h % 2^32``, two rounds of ``xor(h >> 16, h) * 73244475 % 2^32``, then
  a final fold; ``seed=i`` first adds ``i * 2654435761`` (the per-row
  offset of bloom positions and CMS rows).
- :func:`hll_bucket_rho` — HLL bucket (top ``p`` bits) and ρ of the rest.
- :func:`shingle_hashes`, :func:`minhash_signature`, :func:`band_hash` —
  MinHash for both families: xxhash64 with wrapping 64-bit permutations
  (fast, rows-only checkable) and the portable hash with permutations
  mod M31 (oracle-verifiable).

The oracle SQL strings spell these recipes out independently; a change
here must be matched there, or the oracle comparison fails.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from opteryx_spark.operators.text import shingles

# deterministic odd multipliers/offsets for the minhash permutation family
MH_SEED_A = 0x9E3779B97F4A7C15
MH_SEED_B = 0xC2B2AE3D27D4EB4F

# portable-hash variant: all arithmetic stays under 2^62 so the identical
# integer computation is expressible in DuckDB BIGINTs (same pattern that
# made the winnowing oracle exact).  2^31-1 is Mersenne prime M31;
# 1000003 matches winnowing.
PORTABLE_MOD = 2147483647
PORTABLE_P = 1000003


def portable_hash_expr(x: Column) -> Column:
    """Polynomial char hash mod 2^31-1: fold(acc*31 + codepoint).

    Reproducible bit-for-bit in DuckDB (list_reduce over ascii codes);
    products stay < 2^36, far inside long range.

    Folds over ``split(x, '')`` — the code-point sequence in order (an
    empty regex matches only BETWEEN code points in Java, never inside a
    surrogate pair, and combining marks stay separate code points, same
    as ``substr``'s code-point indexing) — so the fold is linear in the
    string length.

    Version sensitivity (ADVICE r11): this depends on Spark's
    ``split(x, '')`` emitting EXACTLY the code-point array with no
    trailing empty element — raw Java ``Pattern.split("", -1)`` keeps a
    trailing '' (``ascii('') = 0`` would inject a spurious ``*31`` step
    and shift every hash, breaking the DuckDB twin).  True on the pinned
    Spark 4.1.2 and pinned by the equivalence battery in
    ``tests/test_hashing.py``; when bumping Spark, keep both folds and
    re-run that battery first.  The per-position ``substr(i, 1)``
    formulation it replaces rescanned the string's UTF-8 bytes from the
    front at every position (O(n^2) per key: ~16x the char work on a
    32-char md5 key); value-identical on every code point, proven by that
    battery against the retained reference fold
    (:func:`portable_hash_expr_reference`).
    """
    n = F.length(x)
    return F.aggregate(
        F.when(n >= 1, F.split(x, "")).otherwise(
            F.array().cast("array<string>")
        ),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(31) + F.ascii(c).cast("long"))
        % F.lit(PORTABLE_MOD),
    )


def portable_hash_expr_reference(x: Column) -> Column:
    """The original per-position fold (substr per index): O(n^2) but
    trivially aligned with the DuckDB twin's definition.  Kept ONLY as
    the equivalence witness for ``portable_hash_expr`` — not called by
    any operator."""
    n = F.length(x)
    return F.aggregate(
        F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
            F.array().cast("array<int>")
        ),
        F.lit(0).cast("long"),
        lambda acc, i: (acc * F.lit(31) + F.ascii(x.substr(i, F.lit(1))).cast("long"))
        % F.lit(PORTABLE_MOD),
    )


def hash32(h0: Column, seed: int | None = None) -> Column:
    """The degski xorshift-multiply finisher over a BIGINT hash: full
    avalanche, every product under 2^63 (BIGINT-safe in any engine).
    ``seed=i`` is the i-th member of the per-row family,
    ``(h0 + i*2654435761) % 2^32`` before the rounds."""
    mod32 = F.lit(4294967296)
    h = h0 if seed is None else h0 + F.lit(seed) * F.lit(2654435761)
    h = h % mod32
    for _ in range(2):
        h = ((F.shiftright(h, 16).bitwiseXOR(h)) * F.lit(0x45D9F3B)) % mod32
    return F.shiftright(h, 16).bitwiseXOR(h)


def hll_bucket_rho(x: Column, p: int) -> tuple[Column, Column]:
    """(bucket, ρ) of value ``x`` for a 2^p-register HLL: bucket = top
    ``p`` bits of ``hash32(x)``, ρ = leading-zero rank of the remaining
    ``32−p`` bits (``length(bin(w))`` — no floats; ``32−p+1`` when they
    are all zero).  NULL ``x`` gives a NULL bucket."""
    wbits = 32 - p
    h = hash32(x.cast("long"))
    bucket = F.shiftright(h, wbits)
    w = h % F.lit(1 << wbits)
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits) - F.length(F.bin(w)) + F.lit(1)
    )
    return bucket, rho


# --- MinHash ----------------------------------------------------------------


def perm_params(num_hashes: int) -> list[tuple[int, int]]:
    out = []
    a, b = MH_SEED_A, MH_SEED_B
    for _ in range(num_hashes):
        a = (a * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = (b * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        out.append((a | 1, b))  # odd multiplier => bijective mod 2^64
    return out


def portable_perm_params(num_hashes: int) -> list[tuple[int, int]]:
    """31-bit reductions of the 64-bit permutation family: a ∈ [1, M-1]
    (never the zero map), b ∈ [0, M-1]; (a*h+b) mod M products < 2^62."""
    return [
        ((a % (PORTABLE_MOD - 1)) + 1, b % PORTABLE_MOD)
        for a, b in perm_params(num_hashes)
    ]


def signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def shingle_hashes(text_col: str, k: int, portable_hash: bool) -> Column:
    """The per-document array of word-k-shingle hashes MinHash folds."""
    if portable_hash:
        return F.transform(shingles(text_col, k), portable_hash_expr)
    return F.transform(shingles(text_col, k), lambda x: F.xxhash64(x))


def minhash_signature(
    harr: Column, num_hashes: int, portable_hash: bool, spark: SparkSession
) -> Column:
    """array<long> signature of the shingle-hash array ``harr``: ONE fold
    whose accumulator is the running component-min vector, each hash
    updating all components via zip_with against the literal permutation
    array.  Duplicate hashes cannot change a min, so ``harr`` need not
    be a set.

    xxhash64 family: ``(a*h + b)`` in wrapping 64-bit arithmetic, which
    ANSI mode rejects as overflow — raises unless ANSI is off for
    ``spark``.  Portable family: ``(a*h + b) % M31``."""
    long_max = (1 << 63) - 1
    if portable_hash:
        perms = F.array(
            *[
                F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
                for a, b in portable_perm_params(num_hashes)
            ]
        )
        step = lambda acc, h: F.zip_with(  # noqa: E731
            acc, perms, lambda m, p: F.least(m, (h * p["a"] + p["b"]) % F.lit(PORTABLE_MOD))
        )
    else:
        if str(spark.conf.get("spark.sql.ansi.enabled", "false")).lower() == "true":
            raise RuntimeError(
                "minhash permutations use wrapping 64-bit arithmetic, which "
                "ANSI mode rejects as overflow: set spark.sql.ansi.enabled="
                "false (opteryx_spark.session.get_session does), or pass "
                "portable_hash=True for the mod-2^31-1 variant"
            )
        perms = F.array(
            *[
                F.struct(F.lit(signed64(a)).alias("a"), F.lit(signed64(b)).alias("b"))
                for a, b in perm_params(num_hashes)
            ]
        )
        step = lambda acc, h: F.zip_with(  # noqa: E731
            acc, perms, lambda m, p: F.least(m, h * p["a"] + p["b"])
        )
    return F.aggregate(
        harr, F.array_repeat(F.lit(long_max).cast("long"), num_hashes), step
    )


def band_hash(sig: Column | str, band: int, rows: int, portable_hash: bool) -> Column:
    """LSH bucket hash of signature components ``band*rows+1 ..
    (band+1)*rows``: xxhash64 over them, or (portable) the polynomial
    fold ``(bh*1000003 + c) % M31`` — DuckDB-expressible."""
    comps = [F.element_at(sig, band * rows + j + 1) for j in range(rows)]
    if not portable_hash:
        return F.xxhash64(*comps)
    bh: Column = F.lit(0).cast("long")
    for c in comps:
        bh = (bh * F.lit(PORTABLE_P) + c) % F.lit(PORTABLE_MOD)
    return bh
