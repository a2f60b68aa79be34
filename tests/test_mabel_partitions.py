"""Tests for the Mabel year_/month_/day_ partition scheme resolver."""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import time

import pytest

from opteryx_spark.sources import mabel_partitions as mp


@contextlib.contextmanager
def local_time_zone(name: str):
    """The process's local time zone set to ``name`` (``TZ`` + tzset)."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = name
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


@pytest.fixture(scope="module")
def mabel_root(spark, sf_dir, tmp_path_factory):
    """events table re-written into year_YYYY/month_MM/day_DD dirs."""
    from pyspark.sql import functions as F

    from opteryx_spark.catalog import load_table

    root = str(tmp_path_factory.mktemp("mabel"))
    ev = load_table(spark, sf_dir, "events")
    days = [r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().limit(4).collect()]
    for day in days:
        part = ev.filter(F.to_date("ts") == F.lit(day))
        part.write.mode("overwrite").parquet(mp.partition_path(root, day))
    return root, sorted(days)


def test_partition_path_layout():
    p = mp.partition_path("/data/events", dt.date(2024, 3, 7))
    assert p == "/data/events/year_2024/month_03/day_07"
    p = mp.partition_path("/data/events", dt.date(2024, 3, 7), hour=5)
    assert p.endswith("day_07/by_hour/hour=05")


def test_resolve_skips_missing_days(mabel_root):
    root, days = mabel_root
    paths = mp.resolve_partition_paths(root, days[0], days[-1] + dt.timedelta(days=30))
    assert len(paths) == len(days)
    for p in paths:
        assert os.path.isdir(p)


def test_read_partitioned_range(spark, mabel_root):
    root, days = mabel_root
    two = mp.read_partitioned(spark, root, days[0], days[1])
    all_days = mp.read_partitioned(spark, root, days[0], days[-1])
    assert 0 < two.count() < all_days.count()


def test_read_partitioned_empty_range_raises(spark, mabel_root):
    root, _ = mabel_root
    with pytest.raises(FileNotFoundError):
        mp.read_partitioned(spark, root, dt.date(1999, 1, 1), dt.date(1999, 1, 2))


def _mabel_store(root) -> str:
    """The reference's ``partitioned/`` layouts under ``root``:

    - ``framed``: 2021-03-28 holds two complete ``as_at`` frames of 100,000
      rows and a newer incomplete one; 2021-03-29 one complete frame;
      every frame of 2021-03-30 carries ``frame.ignore``.
    - ``hourly``: 2024-01-01 has one row in each of two ``by_hour`` hours.
    - ``mixed``: 2020-02-03 has a ``by_hour`` and a foreign ``by_*`` segment.
    - ``dated``: one past day only, so today has no partition.
    - ``today``: today (in the session time zone, UTC) has one row in each
      of two ``by_hour`` hours.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    def leaf(*parts, rows=1, markers=()):
        d = root.joinpath("partitioned", *parts)
        d.mkdir(parents=True)
        pq.write_table(pa.table({"id": pa.array(range(rows), pa.int64())}), d / "data.parquet")
        for marker in markers:
            (d / marker).touch()

    def day(name, y, m, dd):
        return (name, f"year_{y:04d}", f"month_{m:02d}", f"day_{dd:02d}")

    complete = ("frame.complete",)
    leaf(*day("framed", 2021, 3, 28), "as_at_0001", rows=100_000, markers=complete)
    leaf(*day("framed", 2021, 3, 28), "as_at_0002", rows=100_000, markers=complete)
    leaf(*day("framed", 2021, 3, 28), "as_at_0003", rows=7)
    leaf(*day("framed", 2021, 3, 29), "as_at_0001", rows=100_000, markers=complete)
    leaf(*day("framed", 2021, 3, 30), "as_at_0001", rows=100_000,
         markers=complete + ("frame.ignore",))
    leaf(*day("framed", 2021, 3, 30), "as_at_0002", rows=3, markers=("frame.ignore",))
    leaf(*day("hourly", 2024, 1, 1), "by_hour", "hour=00")
    leaf(*day("hourly", 2024, 1, 1), "by_hour", "hour=01")
    leaf(*day("mixed", 2020, 2, 3), "by_hour", "hour=00")
    leaf(*day("mixed", 2020, 2, 3), "by_minute", "minute=00")
    leaf(*day("dated", 2020, 1, 1))
    today = dt.datetime.now(dt.timezone.utc).date()
    leaf(*day("today", today.year, today.month, today.day), "by_hour", "hour=00")
    leaf(*day("today", today.year, today.month, today.day), "by_hour", "hour=01")
    return str(root)


def _reftest(spark, tmp_path):
    import opteryx_spark as ox
    from opteryx_spark.sources.registry import register_store

    register_store("reftest", root=_mabel_store(tmp_path))
    return ox.connect(spark=spark)


def test_frame_selection_and_hour_segments(spark, tmp_path):
    """Reference fixture layouts: latest complete non-ignored frame wins,
    by_hour segments restrict to the FOR hour, foreign by_* raises."""
    _frame_selection(_reftest(spark, tmp_path))


def test_frame_selection_in_new_york_time(spark, tmp_path):
    """The same statements with the process in New York time: FOR names
    wall-clock days of the session time zone, whatever the process's."""
    conn = _reftest(spark, tmp_path)
    with local_time_zone("America/New_York"):
        _frame_selection(conn)


def test_unqualified_reference_reads_today(spark, tmp_path):
    """A Mabel dataset named without FOR reads what FOR TODAY reads: every
    hour of today, not only the current one."""
    conn = _reftest(spark, tmp_path)
    sql = "SELECT COUNT(*) AS n FROM reftest.partitioned.today"
    for_today = conn.cursor().execute(sql + " FOR TODAY").fetchone()[0]
    assert conn.cursor().execute(sql).fetchone()[0] == for_today == 2


def _frame_selection(conn):
    from opteryx_spark import errors

    n = conn.cursor().execute(
        "SELECT COUNT(*) AS n FROM reftest.partitioned.framed FOR '2021-03-28'"
    ).fetchone()[0]
    assert n == 100000  # one complete frame, not both
    # day 30's frames are all frame.ignore'd: contributes nothing
    n = conn.cursor().execute(
        "SELECT COUNT(*) AS n FROM reftest.partitioned.framed "
        "FOR DATES BETWEEN '2021-03-29' AND '2021-03-30'"
    ).fetchone()[0]
    assert n == 100000
    one_hour = conn.cursor().execute(
        "SELECT COUNT(*) AS n FROM reftest.partitioned.hourly FOR '2024-01-01 01:00'"
    ).fetchone()[0]
    whole_day = conn.cursor().execute(
        "SELECT COUNT(*) AS n FROM reftest.partitioned.hourly FOR '2024-01-01'"
    ).fetchone()[0]
    assert (one_hour, whole_day) == (1, 2)
    with pytest.raises(errors.Error):
        conn.cursor().execute(
            "SELECT * FROM reftest.partitioned.mixed FOR '2020-02-03'"
        ).fetchall()
    with pytest.raises(errors.Error):  # no partitions for today
        conn.cursor().execute("SELECT * FROM reftest.partitioned.dated").fetchall()
