"""Mabel date-partitioned path scheme resolver.

The reference resolves time-travel (`FOR DATES ...`) against blob stores
laid out as ``root/year_YYYY/month_MM/day_DD[/by_hour/hour=HH]``
(``opteryx/managers/schemes/mabel_partitions.py:60-140``).  Spark's Hive
partition discovery doesn't understand that dialect, so this module maps
a date range to the concrete existing paths and hands them to one
``spark.read`` call — partition pruning happens here, before any I/O.

At scale this is exactly how the reference prunes too: path enumeration
against the store listing, not data inspection.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession

from opteryx_spark import errors


def partition_path(root: str, day: dt.date, hour: int | None = None) -> str:
    p = os.path.join(root, f"year_{day.year:04d}", f"month_{day.month:02d}", f"day_{day.day:02d}")
    if hour is not None:
        p = os.path.join(p, "by_hour", f"hour={hour:02d}")
    return p


def resolve_partition_paths(
    root: str,
    start: dt.date,
    end: dt.date,
    existing_only: bool = True,
) -> list[str]:
    """All partition directories for [start, end] (inclusive)."""
    out = []
    day = start
    while day <= end:
        p = partition_path(root, day)
        if not existing_only or os.path.isdir(p):
            out.append(p)
        day += dt.timedelta(days=1)
    return out


def read_partitioned(
    spark: SparkSession,
    root: str,
    start: dt.date,
    end: dt.date,
    fmt: str = "parquet",
    **options: str,
) -> DataFrame:
    """Read a date range of a Mabel-partitioned dataset as one DataFrame.

    Missing days are skipped (the reference tolerates absent partitions);
    an empty range raises, matching the reference's DatasetNotFound.
    """
    paths = resolve_partition_paths(root, start, end)
    if not paths:
        raise FileNotFoundError(f"no partitions for {root} in [{start}, {end}]")
    reader = spark.read.format(fmt).options(**options)
    if fmt in ("parquet", "orc"):
        reader = reader.option("mergeSchema", "true")
    return reader.load(paths)


class UnsupportedSegmentation(errors.ProgrammingError):
    """A ``by_*`` segment other than ``by_hour`` (reference
    ``managers/schemes/mabel_partitions.py`` raises
    UnsupportedSegementationError for the same layouts)."""


def _latest_frame(d: str) -> str | None:
    """Frame selection inside a leaf dir: the reference writes atomic
    snapshot frames as ``as_at_NNN/`` with a ``frame.complete`` marker
    (and a ``frame.ignore`` marker to retract one) and serves the newest
    complete, non-ignored frame; dirs without frames serve their files
    directly.  A dir whose frames are all ignored/incomplete serves
    nothing (returns None)."""
    frames = sorted(e for e in os.listdir(d) if e.startswith("as_at_"))
    if not frames:
        return d
    live = [
        f
        for f in frames
        if os.path.exists(os.path.join(d, f, "frame.complete"))
        and not os.path.exists(os.path.join(d, f, "frame.ignore"))
    ]
    return os.path.join(d, live[-1]) if live else None


def resolve_day_paths(root: str, day: dt.date, hour: int | None = None) -> list[str]:
    """Leaf data directories for one day: descends ``by_hour`` segments
    (restricted to ``hour`` when given) and picks the latest complete
    ``as_at`` frame per leaf."""
    d = partition_path(root, day)
    if not os.path.isdir(d):
        return []
    entries = os.listdir(d)
    segments = [e for e in entries if e.startswith("by_")]
    if any(e != "by_hour" for e in segments):
        raise UnsupportedSegmentation(
            f"unsupported segmentation {sorted(set(segments) - {'by_hour'})} in {d}"
        )
    if "by_hour" in segments:
        hdir = os.path.join(d, "by_hour")
        hours = sorted(e for e in os.listdir(hdir) if e.startswith("hour="))
        if hour is not None:
            hours = [h for h in hours if int(h.split("=", 1)[1]) == hour]
        leaves = [_latest_frame(os.path.join(hdir, h)) for h in hours]
        return [p for p in leaves if p is not None]
    leaf = _latest_frame(d)
    return [leaf] if leaf is not None else []


def read_for_range(
    spark: SparkSession,
    root: str,
    start: "dt.datetime",
    end_exclusive: "dt.datetime",
    **options: str,
) -> DataFrame:
    """Read a Mabel dataset for ``FOR``-clause datetime bounds.

    An explicit time-of-day on a point query restricts ``by_hour``
    segments to that hour (datasets without hour segments ignore it,
    matching the reference: ``FOR '2024-02-03 12:00'`` on a daily
    dataset reads the whole day).  Missing days are skipped; zero
    resolved leaves raises (→ EmptyDataset/DataError upstream).
    """
    from opteryx_spark.sources.registry import _dir_ext, read_any

    hour: int | None = None
    if (
        (start.hour or start.minute)
        and end_exclusive - start <= dt.timedelta(days=1)
    ):
        hour = start.hour
    leaves: list[str] = []
    day = start.date()
    last = (end_exclusive - dt.timedelta(microseconds=1)).date()
    if end_exclusive == start + dt.timedelta(days=1):
        # point query FOR '<day> <time>': the reference reads the NAMED
        # day's partition only — don't spill into the next day
        last = start.date()
    while day <= last:
        leaves.extend(resolve_day_paths(root, day, hour))
        day += dt.timedelta(days=1)
    if not leaves:
        raise FileNotFoundError(
            f"no partitions for {root} in [{start}, {end_exclusive})"
        )
    parts = []
    for p in leaves:
        # frame leaves carry a zero-byte ``frame.complete`` marker next to
        # the data — restrict the read to the detected data extension
        ext = _dir_ext(p)
        opts = {**options, "pathGlobFilter": f"*{ext}"} if ext else options
        parts.append(read_any(spark, p, **opts))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out
