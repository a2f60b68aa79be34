"""Layout-aware parquet writing: the sink-side half of the scan-pruning
story.

The reference engine is read-only (its connectors never write —
/root/reference/opteryx/connectors/ are readers); at 100 TB the WRITER
decides whether later scans prune.  Two independent mechanisms, both
exercised here and asserted by tests:

- **Hive partition columns** (``partition_by``): directory-level
  elimination — a filter on the partition key never lists, opens, or
  reads the other directories (``PartitionFilters`` in the scan node).
- **Within-file clustering** (``cluster_by``): rows range-distributed and
  sorted on the cluster key, so parquet row-group min/max statistics are
  tight and a point/range predicate skips whole row groups
  (``PushedFilters`` actually eliminating pages instead of merely being
  present).

``write_clustered`` also bounds the small-files problem: with
``partition_by`` set, data is first repartitioned BY the partition key so
each hive directory is written by the tasks owning that key instead of by
every task (the classic ``partitionBy`` without repartition writes
``tasks × partitions`` fragments).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opteryx_spark import cache

__all__ = ["write_clustered", "layout_report", "zorder_value"]


def zorder_value(cols: list, bits: int = 16) -> "F.Column":
    """Morton / Z-order interleave of non-negative integer columns into
    one BIGINT sort key (the Delta ``OPTIMIZE ZORDER`` / Hudi clustering
    recipe): bit ``i`` of column ``j`` lands at position ``i·n + j``, so
    sorting on the key keeps EVERY input column locally clustered —
    point/range predicates on any of them skip row groups, where a
    lexicographic multi-column sort only serves the leading column.

    Pure bit arithmetic (shift/and/or), whole-stage-codegen'd; ``bits``
    low bits per column are used (16 default ⇒ up to 3 columns in a
    63-bit key).  Columns must be non-negative integers — bucketize or
    offset first otherwise.
    """
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds the 63-bit key")
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            cc = F.col(c) if isinstance(c, str) else c
            bit = F.shiftright(cc.cast("long"), i).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def write_clustered(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet with a scan-friendly layout.

    ``partition_by``: hive directory columns (low-cardinality keys a
    workload filters on — dates, sources, regions).
    ``cluster_by``: range-distribute + sort rows on these columns so each
    file covers a narrow, mostly-disjoint value range (tight row-group
    min/max ⇒ predicate skipping).
    ``num_files``: target output-file count for the range distribution
    (defaults to the session shuffle parallelism); ignored without
    ``cluster_by`` unless given, in which case the frame is coalesced.
    """
    out = df
    if zorder_by:
        if cluster_by:
            raise ValueError("pass cluster_by or zorder_by, not both")
        # normalize every column to the full bit range first (the Delta
        # recipe): raw interleaving hands the sort to whichever column
        # spans more bits, starving the narrow ones of locality
        bounds = df.agg(
            *[F.min(c).cast("long").alias(f"_lo{j}") for j, c in enumerate(zorder_by)],
            *[F.max(c).cast("long").alias(f"_hi{j}") for j, c in enumerate(zorder_by)],
        )
        out = df.crossJoin(F.broadcast(bounds))
        top = (1 << 16) - 1
        # scale in DOUBLE: (x - lo) * 65535 in BIGINT wraps once the
        # column range exceeds ~1.4e14 (epoch-micros spans do), silently
        # destroying the clustering; double bucketing stays monotonic
        scaled = [
            F.floor(
                (F.col(c).cast("long") - F.col(f"_lo{j}")).cast("double")
                * F.lit(float(top))
                / F.greatest(F.lit(1), F.col(f"_hi{j}") - F.col(f"_lo{j}")).cast("double")
            ).cast("long")
            for j, c in enumerate(zorder_by)
        ]
        # interleaved key: every zorder column stays locally clustered;
        # the temp key sorts the layout and is projected away before the
        # write (projection preserves the physical order)
        out = out.withColumn("_z", zorder_value(scaled)).drop(
            *[f"_lo{j}" for j in range(len(zorder_by))],
            *[f"_hi{j}" for j in range(len(zorder_by))],
        )
        # the hive key LEADS the range distribution so each directory is
        # written by the tasks owning it (z-ranges alone are orthogonal to
        # the hive key: every task would hold every partition value and
        # partitionBy would fragment tasks x partitions)
        range_cols = [F.col(c) for c in (partition_by or [])] + [F.col("_z")]
        if num_files:
            out = out.repartitionByRange(int(num_files), *range_cols)
        else:
            out = out.repartitionByRange(*range_cols)
        out = out.sortWithinPartitions(*range_cols).drop("_z")
        writer = out.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        return
    if partition_by and cluster_by:
        # partition key first: each hive dir written by the tasks owning
        # its key; cluster key second: sorted runs within each file
        cols = [F.col(c) for c in list(partition_by) + list(cluster_by)]
        if num_files:
            out = out.repartitionByRange(int(num_files), *cols)
        else:
            out = out.repartitionByRange(*cols)
        out = out.sortWithinPartitions(*cols)
    elif cluster_by:
        cols = [F.col(c) for c in cluster_by]
        if num_files:
            out = out.repartitionByRange(int(num_files), *cols)
        else:
            out = out.repartitionByRange(*cols)
        out = out.sortWithinPartitions(*cols)
    elif partition_by:
        out = out.repartition(*[F.col(c) for c in partition_by])
    elif num_files:
        out = out.coalesce(int(num_files))
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def layout_report(spark: SparkSession, path: str, column: str) -> list[dict]:
    """Per-file row counts and row-group min/max of ``column`` straight
    from the parquet footers (no data read) — the evidence that a
    clustered layout produced tight, mostly-disjoint ranges.  Driver-side
    by design: it reads FOOTERS of a file listing, not rows, and is a
    diagnostic, not a pipeline stage.
    """
    import pyarrow.parquet as pq

    report = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            fp = os.path.join(root, f)
            meta = pq.ParquetFile(fp).metadata
            lo = hi = None
            idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
            if column in idx:
                ci = idx[column]
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        continue
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
            report.append(
                {
                    "file": os.path.relpath(fp, path),
                    "rows": meta.num_rows,
                    "min": lo,
                    "max": hi,
                }
            )
    return report


def compact_dataset(
    spark: SparkSession,
    src: str,
    dst: str,
    target_rows_per_file: int = 1_000_000,
    cluster_by: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ``ceil(rows / target_rows_per_file)`` files at ``dst`` (optionally
    re-clustering on the way — compaction is the natural moment to fix
    layout).  Returns the output file count.

    Streaming sinks and per-micro-batch appends accrete thousands of tiny
    files; at 100 TB the scan-planning overhead (listing, footer reads,
    task scheduling) dominates long before the bytes do.  The write goes
    to a NEW path — swapping directories atomically is the caller's
    deployment concern (object stores: conditional rename / manifest
    flip), losing data mid-rewrite is not a risk this helper can create.
    """
    df = spark.read.parquet(src)
    n = df.count()
    files = max(1, -(-n // int(target_rows_per_file)))
    if cluster_by:
        write_clustered(df, dst, cluster_by=cluster_by, num_files=files)
    else:
        df.coalesce(files).write.mode("overwrite").parquet(dst)
    return files


def upsert_partitions(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
    cluster_by: list[str] | None = None,
) -> dict:
    """Key-level upsert (MERGE) into a hive-partitioned parquet dataset
    without a table format: rows in ``updates`` replace existing rows
    with the same key and new keys append — but ONLY the hive partitions
    that contain updated keys are read, merged and rewritten (dynamic
    partition overwrite); every other directory's files are left
    byte-identical.  This is the plain-parquet upsert pattern Delta/Hudi
    formalize; at 100 TB the cost scales with the touched partitions,
    not the dataset.

    Mechanics: the touched partition values are collected (bounded by
    partitions-per-batch — a documented driver probe, like the IVF
    centroid read), existing data is read with a static IN filter on the
    partition column (directory pruning by construction), merged as
    ``existing LEFT ANTI updates  UNION ALL  updates``, eagerly
    localCheckpointed (the write target appears in the read lineage —
    truncation is what makes overwrite-in-place legal), and written with
    ``partitionOverwriteMode=dynamic`` so only the merged partitions'
    directories are replaced.

    ``updates`` must carry ``partition_col``; a key must not move between
    partitions (enforced for the touched set: a key present in another,
    untouched partition would duplicate — the caller owns partition-stable
    keys, as with any hive-partitioned upsert).

    Returns ``{"partitions": [...], "n_upserted": int}``.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    if partition_col not in updates.columns:
        raise ValueError(f"updates must carry partition column {partition_col!r}")
    parts = [
        r[0]
        for r in updates.select(partition_col).distinct().collect()
    ]
    if not parts:
        return {"partitions": [], "n_upserted": 0}
    existing = spark.read.parquet(path).filter(F.col(partition_col).isin(parts))
    merged = existing.join(
        updates.select(*key_cols).distinct(), key_cols, "left_anti"
    ).unionByName(updates.select(*existing.columns))
    if cluster_by:
        merged = merged.repartitionByRange(
            *[F.col(c) for c in [partition_col] + list(cluster_by)]
        ).sortWithinPartitions(*[F.col(c) for c in [partition_col] + list(cluster_by)])
    with cache.cache_scope():
        # eager checkpoint: the overwrite target is in the read lineage
        merged = cache.checkpoint(merged)
        n = merged.count()
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )
    return {"partitions": sorted(parts), "n_upserted": n}
