"""Plan inspection: the engine's EXPLAIN surface.

Reference parity: ``ExplainNode`` (``opteryx/operators/explain_node.py``).
Spark-side, EXPLAIN is Catalyst's formatted plan; the cursor's EXPLAIN
ANALYZE runs the statement through the noop sink and prints the executed
plan itself.

Tests use :func:`explain_text` and :func:`broadcast_join_count` to pin the
*physical strategy* (broadcast vs shuffle, pushed filters) — correctness
at 100 TB is a plan property, not just a result property.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_text(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def broadcast_join_count(df: DataFrame) -> int:
    return explain_text(df).count("BroadcastHashJoin")
