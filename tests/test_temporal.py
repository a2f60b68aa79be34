"""Temporal ``FOR`` clauses: every form against a time column, a Mabel
store and ``$planets``, with the process in UTC and in New York time.

The statement time is fixed (``NOW``, a Friday shortly after midnight UTC
that is still Thursday in New York), so relative days are deterministic and
a bound computed in the process's local zone would show.  The expected
ranges below are written out by hand, not computed by the resolver."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import opteryx_spark as ox
from opteryx_spark import cursor, rewriter
from opteryx_spark.catalog import register_sf_dir
from opteryx_spark.session import session_now
from opteryx_spark.sources import mabel_partitions as mp
from opteryx_spark.sources.registry import register_store
from tests.test_mabel_partitions import local_time_zone

NOW = dt.datetime(2024, 3, 1, 2, 30, tzinfo=dt.timezone.utc)
D = dt.datetime

# FOR spec -> [start, end) at NOW; None is an open end
FORMS = {
    "'2024-01-05'": (D(2024, 1, 5), D(2024, 1, 6)),
    "'2024-01-05 01:00'": (D(2024, 1, 5, 1), D(2024, 1, 6, 1)),
    "2024-01-05": (D(2024, 1, 5), D(2024, 1, 6)),
    "'1800-01-01'": (D(1800, 1, 1), D(1800, 1, 2)),
    "TODAY": (D(2024, 3, 1), D(2024, 3, 2)),
    "YESTERDAY": (D(2024, 2, 29), D(2024, 3, 1)),
    "MONDAY": (D(2024, 2, 26), D(2024, 2, 27)),
    "friday": (D(2024, 3, 1), D(2024, 3, 2)),
    "SATURDAY": (D(2024, 2, 24), D(2024, 2, 25)),
    "DATES BETWEEN '2024-01-03' AND '2024-01-05'": (D(2024, 1, 3), D(2024, 1, 6)),
    "DATES BETWEEN TUESDAY AND YESTERDAY": (D(2024, 2, 27), D(2024, 3, 1)),
    "DATES SINCE '2024-02-20'": (D(2024, 2, 20), None),
    "DATES SINCE MONDAY": (D(2024, 2, 26), None),
    "LAST 3 DAYS": (D(2024, 2, 27), None),
    "DATES IN THIS_MONTH": (D(2024, 3, 1), D(2024, 3, 2)),
    "DATES IN LAST_MONTH": (D(2024, 2, 1), D(2024, 3, 1)),
    "DATES IN PREVIOUS_MONTH": (D(2024, 2, 1), D(2024, 3, 1)),
    "DATES IN THIS_YEAR": (D(2024, 1, 1), D(2024, 3, 2)),
    "DATES IN LAST_YEAR": (D(2023, 1, 1), D(2024, 1, 1)),
}
TODAY = D(2024, 3, 1)
DAY = dt.timedelta(days=1)
# a partition / a few rows on each day next to every bound
DAYS = sorted(
    {
        (t + k * DAY).date()
        for start, end in FORMS.values()
        for t in (start, end or TODAY + DAY)
        for k in (-1, 0)
    }
    | {start.date() for start, _ in FORMS.values()}
)
CLOCK = [
    dt.datetime.combine(d, t)
    for d in DAYS
    for t in (dt.time(0), dt.time(0, 59, 59), dt.time(1), dt.time(23, 59, 59, 999999))
]


@pytest.fixture(scope="module")
def store(tmp_path_factory) -> str:
    root = tmp_path_factory.mktemp("for_forms")
    for day in DAYS:
        path = mp.partition_path(str(root / "daily"), day)
        os.makedirs(path)
        pq.write_table(pa.table({"d": [day.isoformat()]}), os.path.join(path, "data.parquet"))
    register_store("forforms", root=str(root))
    return "forforms.daily"


@pytest.fixture
def conn(spark, monkeypatch):
    monkeypatch.setattr(cursor, "session_now", lambda _spark: NOW)
    stamps = ", ".join(f"TIMESTAMP '{t}'" for t in CLOCK)
    spark.sql(f"SELECT explode(array({stamps})) AS ts").createOrReplaceTempView("for_clock")
    return ox.connect(spark=spark, time_columns={"for_clock": "ts"})


def _mabel_days(start: dt.datetime, end: dt.datetime | None) -> list[str]:
    """Days a daily Mabel dataset serves for [start, end): an open end
    stops at today, and a one-day range names one day only."""
    end = end or TODAY + DAY
    last = start.date() if end - start == DAY else (end - dt.timedelta(microseconds=1)).date()
    return [d.isoformat() for d in DAYS if start.date() <= d <= last]


def _planets_known(start: dt.datetime) -> int:
    for cutoff, known in ((D(1781, 4, 26), 6), (D(1846, 11, 13), 7), (D(1930, 3, 13), 8)):
        if start < cutoff:
            return known
    return 9


@pytest.mark.parametrize("spec", list(FORMS))
def test_for_bounds(spec):
    assert rewriter.for_bounds(spec, NOW) == FORMS[spec]
    # the date of the statement is the session's: in New York it is a day earlier
    ny = NOW.astimezone(dt.timezone(dt.timedelta(hours=-5)))
    if "TODAY" in spec:
        assert rewriter.for_bounds(spec, ny)[0] == FORMS[spec][0] - DAY


@pytest.mark.parametrize("zone", ["UTC", "America/New_York"])
@pytest.mark.parametrize("spec", list(FORMS))
def test_for_forms(conn, store, zone, spec):
    start, end = FORMS[spec]
    with local_time_zone(zone):
        rows = conn.cursor().execute(f"SELECT COUNT(*) FROM for_clock FOR {spec}").fetchall()
        assert rows == [(sum(start <= t and (end is None or t < end) for t in CLOCK),)]
        rows = conn.cursor().execute(f"SELECT d FROM {store} FOR {spec} ORDER BY d").fetchall()
        assert [d for (d,) in rows] == _mabel_days(start, end)
        rows = conn.cursor().execute(f"SELECT COUNT(*) FROM $planets FOR {spec}").fetchall()
        assert rows == [(_planets_known(start),)]


def test_show_columns_for_reads_the_named_day(conn, store):
    cur = conn.cursor().execute(f"SHOW COLUMNS FROM {store} FOR DATES IN LAST_MONTH")
    assert [r[0] for r in cur.fetchall()] == ["d"]
    with pytest.raises(ox.Error):  # no partition on 2022-06-15
        conn.cursor().execute(f"SHOW COLUMNS FROM {store} FOR '2022-06-15'").fetchall()


def test_unparsable_date_is_a_programming_error(conn):
    with pytest.raises(ox.ProgrammingError, match="not a date"):
        conn.cursor().execute("SELECT COUNT(*) FROM for_clock FOR '2024-13-45'")


def test_session_now_reads_the_session_time_zone(spark):
    zone = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz, offsets in (("UTC", {0}), ("America/New_York", {-4, -5}), ("+05:30", {5.5})):
            spark.conf.set("spark.sql.session.timeZone", tz)
            now = session_now(spark)
            assert now.utcoffset().total_seconds() / 3600 in offsets
            assert abs(now - dt.datetime.now(dt.timezone.utc)) < dt.timedelta(minutes=1)
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def test_events_for_matches_where(spark, sf_dir):
    """The FOR range on a file-backed table is the WHERE range on its time
    column, in either process time zone."""
    register_sf_dir(spark, sf_dir)
    conn = ox.connect(spark=spark)
    sql = "SELECT COUNT(*) FROM events FOR DATES BETWEEN '2024-01-03' AND '2024-01-05'"
    where = "SELECT COUNT(*) FROM events WHERE ts >= '2024-01-03' AND ts < '2024-01-06'"
    want = [tuple(spark.sql(where).first())]
    for zone in ("UTC", "America/New_York"):
        with local_time_zone(zone):
            assert conn.cursor().execute(sql).fetchall() == want
