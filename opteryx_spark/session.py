"""SparkSession bootstrap for the opteryx_spark engine.

The reference engine (mabel-dev/opteryx) is a single-process push-based
morsel executor (``opteryx/managers/execution/serial_engine.py``).  We do
not port that: Spark's scheduler + Tungsten + AQE replace it wholesale.
This module only encodes the *configuration* that makes Spark behave like
the reference's optimizer hot-paths do by default:

- runtime bloom-filter join pre-filters
  (reference: ``opteryx/operators/inner_join_node.py:84-137``)
- adaptive partial aggregation / skew handling
  (reference: ``opteryx/operators/aggregate_and_group_node.py:253-280``)
- predicate/projection pushdown, partition pruning (Catalyst built-ins).

All settings are chosen to survive a 1000-executor / 100 TB deployment:
AQE coalesces shuffle partitions at runtime so ``shuffle.partitions`` is a
ceiling, not a fixed fan-out; the bloom filter and DPP flags are
data-size-gated by Spark itself.
"""

from __future__ import annotations

import datetime as dt
import os
from zoneinfo import ZoneInfo

from pyspark.sql import DataFrame, SparkSession

# Configs that are safe (and wanted) at any scale.  Only applied when we
# build the session ourselves; a caller-provided session is respected.
_BUILDER_CONF = {
    # Adaptive query execution: runtime re-plan, partition coalescing,
    # skew-join splitting.  This is the scale-out analogue of the
    # reference's adaptive partial aggregation + join-ordering strategies.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime bloom-filter join pre-filter == the reference's bloom
    # pre-probe on inner/left joins.  (Do NOT also enable
    # runtimeFilter.semiJoinReduction: on this Spark build it deadlocks
    # planning of even trivial queries.)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Arrow for any pandas interchange (toPandas / pandas_udf paths).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic wall-clock semantics for timestamp data regardless of
    # the host timezone.
    "spark.sql.session.timeZone": "UTC",
    # Ordinal GROUP BY / ORDER BY (reference supports `GROUP BY 1`).
    "spark.sql.groupByOrdinal": "true",
    "spark.sql.orderByOrdinal": "true",
    # ANSI off: the reference returns NULL for bad casts/div-by-zero in
    # its TRY_* and filter paths; non-ANSI Spark matches DuckDB-ish
    # permissiveness more closely for the correctness battery.
    "spark.sql.ansi.enabled": "false",
    # read parquet TIMESTAMP(NANOS) as long; load_table converts to µs
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # keep stdout machine-readable: stage progress bars interleave with
    # the bench's one-line JSON artifact and made BENCH_r04 unparseable
    "spark.ui.showConsoleProgress": "false",
}
# the part of _BUILDER_CONF that tune_session applies to a session it did not build
_RUNTIME_CONF = (
    "spark.sql.session.timeZone",
    "spark.sql.adaptive.enabled",
    "spark.sql.groupByOrdinal",
    "spark.sql.orderByOrdinal",
    "spark.sql.ansi.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def spread(df: DataFrame) -> DataFrame:
    """Ensure the input is at least default-parallelism partitions wide.

    A small file arrives as one split; without this every per-row kernel
    (shingling, hashing) runs on a single core.  At 100 TB inputs are
    already thousands of splits and this is a no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def get_session(
    app_name: str = "opteryx-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return tune_session(active)

    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    for k, v in _BUILDER_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 32))
    )
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    builder = builder.config("spark.ui.enabled", "false")
    spark = builder.getOrCreate()
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to a session we did not build.

    The correctness driver hands us *its* SparkSession; only
    runtime-mutable settings can be applied here (builder-only settings
    like codegen flags are left alone).
    """
    for k in _RUNTIME_CONF:
        try:
            spark.conf.set(k, _BUILDER_CONF[k])
        except Exception:  # pragma: no cover - immutable conf on some builds
            pass
    return spark


def session_now(spark: SparkSession) -> dt.datetime:
    """The current time in the session time zone, which is the zone Spark
    reads wall-clock timestamp literals in."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        zone = ZoneInfo(tz)
    except (KeyError, ValueError):  # a fixed offset: +05:30, Z
        zone = dt.datetime.strptime(tz, "%z").tzinfo
    return dt.datetime.now(zone)
