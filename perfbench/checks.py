"""Output checks: compare an engine result with an independent expectation.

Small results compare value by value, with a relative tolerance on floats
because two engines may sum doubles in different orders.  Large exported
results are projections of stored values, so they compare exactly.
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import pyarrow as pa
import pyarrow.compute as pc

REL_TOL = 1e-9


def canon(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def _sort_key(row):
    # floats rounded so rows that differ only in summation order sort alike
    return tuple(
        (0, "") if v is None else (1, f"{v:.6g}" if isinstance(v, float) else repr(v))
        for v in row
    )


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def rows_match(got, want, ordered: bool) -> str | None:
    """None when the rows agree, else a one-line description of the first
    difference."""
    got = [tuple(canon(v) for v in r) for r in got]
    want = [tuple(canon(v) for v in r) for r in want]
    if len(got) != len(want):
        return f"row count {len(got)} != expected {len(want)}"
    if not ordered:
        got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_same(a, b) for a, b in zip(g, w)):
            return f"row {i}: {g!r} != expected {w!r}"
    return None


def exact_rows_match(got, want) -> str | None:
    """Order-insensitive exact comparison for large projected results."""
    if len(got) != len(want):
        return f"row count {len(got)} != expected {len(want)}"
    g, w = sorted(map(tuple, got)), sorted(map(tuple, want))
    if g == w:
        return None
    first = next(i for i, (a, b) in enumerate(zip(g, w)) if a != b)
    return f"row {first}: {g[first]!r} != expected {w[first]!r}"


def _normalize(table: pa.Table) -> pa.Table:
    cols = []
    for field, col in zip(table.schema, table.columns):
        t = field.type
        if pa.types.is_timestamp(t):
            col = col.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            col = col.cast(pa.large_string())
        cols.append(col)
    out = pa.table(cols, names=table.column_names)
    return out.take(pc.sort_indices(out, [(c, "ascending") for c in out.column_names]))


def arrow_match(got: pa.Table, want: pa.Table) -> str | None:
    """Order-insensitive exact comparison of two Arrow tables by column name;
    timestamps compare as UTC instants."""
    if sorted(got.column_names) != sorted(want.column_names):
        return f"columns {got.column_names} != expected {want.column_names}"
    if got.num_rows != want.num_rows:
        return f"row count {got.num_rows} != expected {want.num_rows}"
    g = _normalize(got.select(want.column_names))
    w = _normalize(want)
    if g.equals(w):
        return None
    for name in w.column_names:
        if not g.column(name).equals(w.column(name)):
            return f"column {name} differs"
    return "tables differ"
