"""Pins for the portable hash family (``opteryx_spark/operators/hashing.py``).

The DuckDB oracles replay these recipes in SQL, and the stream twins call
the same builders as their batch operators; these tests pin the Spark
side against a pure-Python model of the oracle recipe, the linear
polynomial fold against its per-position reference, and the module
boundary (no module reaches into the family's private names).
"""

from __future__ import annotations

import ast
import os
import random

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# 0, 1, 2^31-1, 2^32-1, 2^32, a negative long, NULL
_INPUTS = [0, 1, 2**31 - 1, 2**32 - 1, 2**32, -123456789, None]
_SEEDS = [0, 1, 4]
_PS = [4, 12]


def _tmod(a: int, m: int) -> int:
    """SQL ``%`` on BIGINT: the remainder takes the dividend's sign."""
    r = abs(a) % m
    return -r if a < 0 else r


def _model_hash32(v, seed=None):
    """The oracle recipe: ``h % 4294967296``, then twice
    ``xor(h >> 16, h) * 73244475 % 4294967296``, then ``xor(h >> 16, h)``."""
    if v is None:
        return None
    h = v if seed is None else v + seed * 2654435761
    h = _tmod(h, 4294967296)
    for _ in range(2):
        h = _tmod(((h >> 16) ^ h) * 73244475, 4294967296)
    return (h >> 16) ^ h


def _model_bucket_rho(v, p):
    """Bucket = top ``p`` of the 32 hash bits; ρ = ``32-p`` minus the bit
    length of the rest, plus one (``32-p+1`` when the rest is zero)."""
    h = _model_hash32(v)
    if h is None:
        return None, None
    wbits = 32 - p
    w = h % (1 << wbits)  # never negative: xor(h >> 16, h) of a negative h is positive
    return h >> wbits, (wbits + 1 if w == 0 else wbits - w.bit_length() + 1)


def test_hash32_seeded_and_hll_split_match_oracle_model(spark):
    from opteryx_spark.operators.hashing import hash32, hll_bucket_rho

    df = spark.createDataFrame([(i, v) for i, v in enumerate(_INPUTS)], "i int, v long")
    v = F.col("v")
    cols = [hash32(v).alias("h")]
    cols += [hash32(v, seed=s).alias(f"h_s{s}") for s in _SEEDS]
    for p in _PS:
        bucket, rho = hll_bucket_rho(v, p)
        cols += [bucket.alias(f"b{p}"), rho.alias(f"r{p}")]
    got = {r["i"]: r for r in df.select("i", *cols).collect()}
    for i, x in enumerate(_INPUTS):
        r = got[i]
        assert r["h"] == _model_hash32(x), x
        for s in _SEEDS:
            assert r[f"h_s{s}"] == _model_hash32(x, s), (x, s)
        for p in _PS:
            assert (r[f"b{p}"], r[f"r{p}"]) == _model_bucket_rho(x, p), (x, p)
    # the unseeded finisher and seed 0 differ in their expression tree
    # (no ``+ 0*2654435761`` term), never in value
    assert all(got[i]["h"] == got[i]["h_s0"] for i in got)


def test_portable_hash_linear_fold_matches_reference(spark):
    """The split-to-char-array fold must hash EVERY code-point sequence
    identically to the per-position substr reference it replaced (the
    DuckDB-twin definition): adversarial unicode (astral plane,
    combining marks, surrogate-pair neighbours) plus randomized ASCII /
    multibyte strings.  This is the equivalence witness every portable
    entry (minhash/simhash portable twins, cms/kmv/hll, hashed tokens,
    bloom positions, sample-split salt) leans on."""
    from opteryx_spark.operators.hashing import (
        portable_hash_expr,
        portable_hash_expr_reference,
    )

    rng = random.Random(11)
    pool = (
        "abc XYZ 0123456789 \t\n é é 😀 𐍈 中文 мир ﷺ ‍️"
        " \U0001F600\U0001F3FD é a\U0001D54A b"
    )
    rows = [("",), ("a",), ("😀",), ("a😀b",), ("é",), ("\U0001D54A",),
            ("x" * 300,), ("😀" * 50,), (None,)]
    for _ in range(120):
        n = rng.randrange(0, 40)
        rows.append(("".join(rng.choice(pool) for _ in range(n)),))
    df = spark.createDataFrame(rows, "s string")
    got = df.select(
        portable_hash_expr(F.col("s")).alias("h_new"),
        portable_hash_expr_reference(F.col("s")).alias("h_ref"),
    ).collect()
    assert all(r.h_new == r.h_ref for r in got)
    # NULL and '' both fold to 0 (the guarded empty-array path)
    assert got[0].h_new == 0 and got[8].h_new == 0


_FAMILY_MODULES = {
    "opteryx_spark.operators.dedup",
    "opteryx_spark.operators.profile",
    "opteryx_spark.operators.hashing",
}


def _resolve(path: str, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    pkg = os.path.relpath(os.path.dirname(path), REPO).split(os.sep)
    base = pkg[: len(pkg) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def test_no_private_imports_from_the_hash_family():
    """Nothing under ``opteryx_spark/`` or ``tools/`` imports an
    ``_``-prefixed name from ``operators.dedup``, ``operators.profile`` or
    ``operators.hashing``: shared helpers are public names of one module."""
    bad = []
    for top in ("opteryx_spark", "tools"):
        for root, _dirs, files in os.walk(os.path.join(REPO, top)):
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                path = os.path.join(root, fname)
                with open(path, encoding="utf-8") as f:
                    tree = ast.parse(f.read(), path)
                for node in ast.walk(tree):
                    if not isinstance(node, ast.ImportFrom):
                        continue
                    if _resolve(path, node) not in _FAMILY_MODULES:
                        continue
                    for alias in node.names:
                        if alias.name.startswith("_"):
                            rel = os.path.relpath(path, REPO)
                            bad.append(f"{rel}:{node.lineno} {alias.name}")
    assert not bad, bad
