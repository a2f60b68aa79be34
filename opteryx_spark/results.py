"""Python rows from an Arrow result, value for value what ``.collect()`` gives.

The cursor fetches each statement once with ``DataFrame.toArrow()`` and
turns the table into tuples here, column by column.  Every value equals,
and has the same Python type as, the value ``tuple(row)`` holds for the
same row of ``df.collect()``:

- null-free integer and float columns, string columns and ``TIMESTAMP_NTZ``
  columns convert through NumPy, where the values come out identical;
- ``TIMESTAMP`` becomes a naive datetime in the process-local zone, as
  ``TimestampType.fromInternal`` gives;
- structs become ``Row`` and maps ``dict``, also inside arrays, maps and
  structs; binary becomes ``bytes``, or ``bytearray`` when
  ``spark.sql.execution.pyspark.binaryAsBytes`` is false;
- every other column goes through ``to_pylist()``.

A schema holding a type this module does not convert (``VariantType``,
user-defined types, ...) is fetched by :func:`collect_rows`, the one
result path that still calls ``.collect()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_ATOMIC = {
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.StringType, T.BinaryType,
    T.DateType, T.TimestampType, T.TimestampNTZType, T.DayTimeIntervalType,
}

_local_datetime = T.TimestampType().fromInternal


def arrow_convertible(schema: T.StructType) -> bool:
    """True when ``toArrow()`` carries ``schema`` and :func:`table_rows`
    reproduces ``.collect()`` for it."""
    return all(_convertible(f.dataType, f.nullable) for f in schema.fields)


def _convertible(dt: T.DataType, nullable: bool) -> bool:
    """``nullable``: whether a slot of this type can be null."""
    if isinstance(dt, T.StructType):
        # toArrow refuses duplicate field names inside a struct, and a null
        # struct whose field is NOT NULL fails its cast to the Spark schema
        return (
            len(set(dt.names)) == len(dt.names)
            and not (nullable and not all(f.nullable for f in dt.fields))
            and all(_convertible(f.dataType, f.nullable) for f in dt.fields)
        )
    if isinstance(dt, T.ArrayType):
        return _convertible(dt.elementType, dt.containsNull)
    if isinstance(dt, T.MapType):
        return _convertible(dt.keyType, False) and _convertible(
            dt.valueType, dt.valueContainsNull
        )
    if type(dt) is T.NullType:  # Arrow has no NOT NULL null field (`array()`)
        return nullable
    return type(dt) in _ATOMIC


def collect_rows(df: DataFrame) -> list[tuple]:
    """The fallback for schemas :func:`arrow_convertible` rejects."""
    return [tuple(r) for r in df.collect()]


def binary_type(spark) -> type:
    """What ``collect`` gives for BINARY under the session's settings."""
    conf = spark.conf.get("spark.sql.execution.pyspark.binaryAsBytes", "true")
    return bytes if conf.lower() == "true" else bytearray


def table_rows(table, binary: type = bytes) -> list[tuple]:
    """The rows of a ``toArrow()`` table as tuples, as ``collect`` gives them."""
    if not table.num_columns:
        return [()] * table.num_rows
    return list(zip(*(_column(c, binary) for c in table.columns)))


def _column(column, binary: type) -> list:
    """One ``ChunkedArray`` as a list of Python values."""
    if column.num_chunks == 1:
        return _values(column.chunk(0), binary)
    out: list = []
    for chunk in column.chunks:
        out.extend(_values(chunk, binary))
    return out


def _values(arr, binary: type) -> list:
    import pyarrow as pa

    t = arr.type
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        return arr.to_numpy().tolist() if arr.null_count == 0 else arr.to_pylist()
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return arr.to_numpy(zero_copy_only=False).tolist()
    if pa.types.is_timestamp(t):
        if t.tz is None:  # TIMESTAMP_NTZ: datetime64[us] -> datetime, NaT -> None
            return arr.to_numpy(zero_copy_only=False).astype(object).tolist()
        micros = arr.cast(pa.int64()).to_pylist()
        return [None if v is None else _local_datetime(v) for v in micros]
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        values = arr.to_pylist()
        return values if binary is bytes else [None if v is None else binary(v) for v in values]
    if pa.types.is_struct(t):
        names = [t.field(i).name for i in range(t.num_fields)]
        fields = [_values(arr.field(i), binary) for i in range(t.num_fields)]
        rows = [_row(names, v) for v in zip(*fields)] if fields else [_row(names, ())] * len(arr)
        return _with_nulls(arr, rows)
    if pa.types.is_map(t):
        keys = _children(arr, arr.values.field(0), binary)
        items = _children(arr, arr.values.field(1), binary)
        return _with_nulls(arr, [dict(zip(k, v)) for k, v in zip(keys, items)])
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _with_nulls(arr, _children(arr, arr.values, binary))
    return arr.to_pylist()


def _row(names: list[str], values) -> T.Row:
    row = T.Row(*values)
    row.__fields__ = names
    return row


def _children(arr, flat, binary: type) -> list[list]:
    """Per-slot lists of ``flat``, the child values of list or map ``arr``."""
    offsets = arr.offsets.to_numpy().tolist()
    start = offsets[0]
    values = _values(flat.slice(start, offsets[-1] - start), binary)
    return [values[a - start : b - start] for a, b in zip(offsets, offsets[1:])]


def _with_nulls(arr, values: list) -> list:
    if arr.null_count:
        for i, valid in enumerate(arr.is_valid().to_pylist()):
            if not valid:
                values[i] = None
    return values
