"""Query suite: every claimed capability as a (Spark impl, DuckDB oracle) pair.

This is the engine's correctness gate (SURVEY.md §5 tier-4: engine-oracle
comparison, mirroring the reference's DuckDB verifier
``tests/verifiers/what_would_duckdb_do.py``).  Each entry is:

- a callable ``(spark, sf_dir) -> DataFrame`` — the Spark-first
  implementation (DataFrame API, broadcast hints, no collect()), and
- optionally an ANSI-SQL oracle string DuckDB runs on the same parquet.

Determinism rules (so value-hashes match bit-for-bit):
- float aggregates are summed as DECIMAL(25,8) then cast to DOUBLE —
  exact, order-independent, identical in both engines;
- averages are computed as double(sum_decimal)/double(count);
- every computed column is aliased identically on both sides;
- top-k queries order by a deterministic tiebreaker before LIMIT.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QueryDef:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB, None => rows-only check
    # estimated ORACLE-side compare cost in seconds at sf0.01 (the DuckDB
    # run, not ours).  Default 1.0 covers almost the whole registry; only
    # outliers annotate it (text_bpe_encode's unrolled BPE CTE chain is
    # ~750 s, SF-insensitive — NOTES_r8).  window_preflight surfaces the
    # window's total so composition never schedules two such entries
    # into one 50-slot driver window unnoticed.
    oracle_cost_s: float = 1.0


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None, oracle_cost_s: float = 1.0):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QueryDef(spark=fn, oracle=oracle, oracle_cost_s=oracle_cost_s)
        return fn

    return deco


# The external correctness harness checks entries in ``load_all()`` order
# and caps how many it verifies per round (50 of the registry).  The order is
# one rule: oracle-bearing entries first, sorted by md5(_ROTATION_SALT +
# name), so a new salt re-confirms a different sample of the registry; then
# the rows-only entries in registration order.  tests/_tiers.py and the
# bench's spotlight cycle key their rotations on the same salt.
_ROTATION_SALT = "r12"


def load_all() -> dict[str, QueryDef]:
    # import side-effect-registered modules (import order sets the
    # registration order the rows-only entries keep)
    import opteryx_spark.suite.battery  # noqa: F401
    import opteryx_spark.suite.battery2  # noqa: F401
    import opteryx_spark.suite.battery3  # noqa: F401
    import opteryx_spark.suite.clickbench  # noqa: F401
    import opteryx_spark.suite.ops  # noqa: F401
    import opteryx_spark.suite.pipeline  # noqa: F401
    import opteryx_spark.suite.pipeline2  # noqa: F401
    import opteryx_spark.suite.pipeline3  # noqa: F401
    import opteryx_spark.suite.pipeline4  # noqa: F401
    import opteryx_spark.suite.pipeline5  # noqa: F401
    import opteryx_spark.suite.pipeline6  # noqa: F401
    import opteryx_spark.suite.pipeline7  # noqa: F401
    import opteryx_spark.suite.pipeline8  # noqa: F401
    import opteryx_spark.suite.pipeline9  # noqa: F401
    import opteryx_spark.suite.pipeline10  # noqa: F401
    import opteryx_spark.suite.pipeline11  # noqa: F401
    import opteryx_spark.suite.pipeline12  # noqa: F401
    import opteryx_spark.suite.pipeline13  # noqa: F401
    import opteryx_spark.suite.pipeline14  # noqa: F401
    import opteryx_spark.suite.pipeline15  # noqa: F401
    import opteryx_spark.suite.pipeline16  # noqa: F401
    import opteryx_spark.suite.pipeline17  # noqa: F401
    import opteryx_spark.suite.tpch  # noqa: F401

    def salted(name: str) -> str:
        return hashlib.md5((_ROTATION_SALT + name).encode()).hexdigest()

    oracled = sorted((n for n, qd in REGISTRY.items() if qd.oracle), key=salted)
    rows_only = [n for n, qd in REGISTRY.items() if not qd.oracle]
    return {name: REGISTRY[name] for name in oracled + rows_only}
