"""Local twin of the driver's t2 comparison: row-count + schema + value
comparison between a Spark DataFrame and a DuckDB oracle result.

Values are compared exactly (order-insensitive, columns sorted by name) —
the same bar the driver's value-hash sets, so a pass here predicts a pass
in CORRECTNESS_r{N}.json.  ``same_values`` is the stricter bar for two
Spark result paths: equal values of the same Python type, all the way down.
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

from pyspark.sql.types import VariantVal


def same_values(a, b) -> bool:
    """``a == b`` with equal Python types at every level; NaN equals NaN,
    a ``Row`` also carries its field names and a variant compares its
    bytes (``VariantVal`` has no ``__eq__``)."""
    if type(a) is not type(b):
        return False
    if isinstance(a, float) and math.isnan(a):
        return math.isnan(b)
    if isinstance(a, (tuple, list)):
        return (
            len(a) == len(b)
            and getattr(a, "__fields__", None) == getattr(b, "__fields__", None)
            and all(same_values(x, y) for x, y in zip(a, b))
        )
    if isinstance(a, dict):  # order not compared: collect's is a Java HashMap's
        keys = sorted(a, key=repr)
        return same_values(keys, sorted(b, key=repr)) and all(
            same_values(a[k], b[k]) for k in keys
        )
    if isinstance(a, VariantVal):
        return (a.value, a.metadata) == (b.value, b.metadata)
    return a == b


def _canon_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        out.append(tuple(_canon_value(row[i]) for i in order))
    return sorted(out, key=repr)


def _kind(v) -> str:
    """Type-kind of a canonicalized value.  The driver hashes pandas frames,
    where int 1 and float 1.0 hash differently — so int vs float (or bool vs
    int) column types must match across engines, not just values."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, (float, str)):
        return type(v).__name__
    if isinstance(v, tuple):
        return "array"
    return type(v).__name__


def _col_kinds(canon_rows, ncols):
    kinds = [set() for _ in range(ncols)]
    for row in canon_rows:
        for i, v in enumerate(row):
            k = _kind(v)
            if k != "null":
                kinds[i].add(k)
    return kinds


def compare(spark_df, duck_con, oracle: str, name: str = "") -> None:
    sp_cols = spark_df.columns
    sp_rows = [tuple(r) for r in spark_df.collect()]
    res = duck_con.execute(oracle)
    du_cols = [d[0] for d in res.description]
    du_rows = res.fetchall()
    assert sorted(sp_cols) == sorted(du_cols), (
        f"{name}: column mismatch spark={sorted(sp_cols)} duck={sorted(du_cols)}"
    )
    assert len(sp_rows) == len(du_rows), (
        f"{name}: rowcount mismatch spark={len(sp_rows)} duck={len(du_rows)}"
    )
    a = _canon_rows(sp_cols, sp_rows)
    b = _canon_rows(du_cols, du_rows)
    sorted_cols = sorted(sp_cols)
    ka = _col_kinds(a, len(sorted_cols))
    kb = _col_kinds(b, len(sorted_cols))
    for i, col in enumerate(sorted_cols):
        assert "array" not in ka[i] and "array" not in kb[i], (
            f"{name}: column {col!r} is array-typed — the driver's canonicalizer "
            f"cannot hash array cells; serialize with array_join/to_json"
        )
        assert ka[i] == kb[i], (
            f"{name}: column {col!r} type-kind mismatch spark={ka[i]} duck={kb[i]} "
            f"(driver hashes 1 and 1.0 differently — align types on both sides)"
        )
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches; first: {mismatches[:3]}"
    _check_pandas_dtypes(spark_df, duck_con, oracle, name)


def _check_pandas_dtypes(spark_df, duck_con, oracle: str, name: str) -> None:
    """Dtype lint through the driver's ACTUAL materialization path.

    The driver hashes pandas frames (Spark ``toPandas`` vs DuckDB
    ``.df()``), where dtype matters: DuckDB window/plain ``SUM(BIGINT)``
    returns HUGEINT, which pandas renders float64, while Spark's long stays
    int64 — identical values, different hash (the r5 ``sample_token_budget``
    red row).  ``fetchall()`` masks this (HUGEINT -> Python int), so the
    value comparison above cannot catch it.  Only numeric-kind mismatches
    are asserted: int-with-NULLs legitimately floats to float64 on BOTH
    sides, and date/object kinds are driver-canonicalized.
    """
    sp_pd = spark_df.toPandas()
    du_pd = duck_con.execute(oracle).df()
    for col in sorted(sp_pd.columns):
        ak = sp_pd[col].dtype.kind
        bk = du_pd[col].dtype.kind
        na = "i" if ak in "iu" else ak
        nb = "i" if bk in "iu" else bk
        if na in "if" and nb in "if":
            assert na == nb, (
                f"{name}: column {col!r} pandas-dtype mismatch spark={sp_pd[col].dtype} "
                f"duck={du_pd[col].dtype} — the driver hashes these differently; "
                f"CAST the oracle (HUGEINT sums) or align nullability"
            )
