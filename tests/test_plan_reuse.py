"""Repeated statements: a connection reuses the DataFrame that already ran
a statement's optimized plan over the same input files.  Each invalidation
rule gets one test that asserts fresh results and no reuse."""

from __future__ import annotations

import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import opteryx_spark as ox
from opteryx_spark import cursor
from opteryx_spark.catalog import register_sf_dir
from tests.test_cursor_api import _jobs

GROUPED = "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1"


@pytest.fixture
def conn(spark, sf_dir):
    register_sf_dir(spark, sf_dir)
    return ox.connect(spark=spark)


def _rows(conn, sql, params=None):
    return conn.cursor().execute(sql, params).fetchall()


def _reused(conn) -> int:
    return conn.statistics["plans_reused"]


# -- hits ---------------------------------------------------------------------


def test_verbatim_repeat_reuses_the_dataframe(conn, spark):
    first = conn.cursor().execute(GROUPED)
    rows = first.fetchall()
    again = conn.cursor().execute(GROUPED)
    fetched = []
    assert _jobs(spark, "plan-reuse-hit", lambda: fetched.append(again.fetchall())) <= 1
    assert fetched == [rows]
    assert again.df is first.df
    assert _reused(conn) == 1


def test_for_repeat_reuses(conn):
    sql = "SELECT COUNT(*) FROM events FOR DATES BETWEEN '2024-01-03' AND '2024-01-05'"
    rows = _rows(conn, sql)
    assert _rows(conn, sql) == rows and _reused(conn) == 1


def test_threads_match_serial(conn):
    """Three threads sending one statement get the serial result."""
    serial = _rows(conn, GROUPED)
    out, failures = [], []

    def send():
        try:
            out.append(_rows(conn, GROUPED))
        except Exception as exc:  # re-raised below
            failures.append(exc)

    threads = [threading.Thread(target=send) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not failures and out == [serial] * 3
    assert _reused(conn) == 3


def test_map_is_bounded_first_in_first_out(conn, monkeypatch):
    monkeypatch.setattr(cursor, "PLAN_MAP_SIZE", 2)
    for n in (1, 2, 3):
        _rows(conn, f"SELECT COUNT(*) FROM range({n})")
    assert len(conn._plans) == 2
    _rows(conn, "SELECT COUNT(*) FROM range(1)")  # evicted: runs again
    assert _reused(conn) == 0
    _rows(conn, "SELECT COUNT(*) FROM range(3)")
    assert _reused(conn) == 1


# -- misses -------------------------------------------------------------------


def test_broadcast_join_is_not_remembered(conn):
    """A run that broadcast a relation would pin it on the driver heap."""
    sql = (
        "SELECT n_name, COUNT(*) AS n FROM customer JOIN nation "
        "ON c_nationkey = n_nationkey GROUP BY 1 ORDER BY 1"
    )
    cur = conn.cursor().execute(sql)
    rows = cur.fetchall()
    assert "BroadcastHashJoin" in cur.df._jdf.queryExecution().executedPlan().toString()
    assert _rows(conn, sql) == rows
    assert _reused(conn) == 0 and not conn._plans
    # a single-table statement still hits
    assert _rows(conn, GROUPED) == _rows(conn, GROUPED)
    assert _reused(conn) == 1 and len(conn._plans) == 1


def test_rewritten_file_misses(conn, tmp_path):
    path = tmp_path / "t.parquet"
    sql = f"SELECT SUM(x) FROM '{path}'"
    pq.write_table(pa.table({"x": [1, 2, 3]}), path)
    assert _rows(conn, sql) == [(6,)]
    pq.write_table(pa.table({"x": [10, 20, 30, 40]}), path)
    assert _rows(conn, sql) == [(100,)]
    assert _reused(conn) == 0


def test_redefined_view_misses(conn, spark):
    conn.cursor().execute("CREATE OR REPLACE TEMP VIEW reuse_v AS SELECT 1 AS x")
    assert _rows(conn, "SELECT x FROM reuse_v") == [(1,)]
    conn.cursor().execute("CREATE OR REPLACE TEMP VIEW reuse_v AS SELECT 2 AS x")
    assert _rows(conn, "SELECT x FROM reuse_v") == [(2,)]
    # the same, straight on the session, outside the cursor
    spark.sql("SELECT 3 AS x").createOrReplaceTempView("reuse_v")
    assert _rows(conn, "SELECT x FROM reuse_v") == [(3,)]
    assert _reused(conn) == 0


def test_renamed_column_misses(conn):
    """Canonical plans drop output names: ``SELECT 1 AS x`` and ``SELECT 1
    AS one`` have the same plan and must not share a result."""
    assert conn.cursor().execute("SELECT 1 AS x").arrow().to_pydict() == {"x": [1]}
    assert conn.cursor().execute("SELECT 1 AS one").arrow().to_pydict() == {"one": [1]}
    assert _reused(conn) == 0


def test_set_variable_misses(conn):
    sql = "SELECT COUNT(*) FROM range(10) WHERE id < @lim"
    conn.cursor().execute("SET @lim = 3")
    assert _rows(conn, sql) == [(3,)]
    conn.cursor().execute("SET @lim = 5")
    assert _rows(conn, sql) == [(5,)]
    assert _reused(conn) == 0


def test_now_misses(conn):
    (first,) = _rows(conn, "SELECT now()")
    time.sleep(0.01)
    (second,) = _rows(conn, "SELECT now()")
    assert second > first and _reused(conn) == 0


def test_unseeded_rand_misses(conn):
    sql = "SELECT rand() AS r FROM range(3)"
    assert _rows(conn, sql) != _rows(conn, sql)
    assert _reused(conn) == 0


def test_nondeterministic_udf_misses(conn, spark):
    from pyspark.sql.functions import udf

    spark.udf.register(
        "reuse_clock", udf(lambda x: time.time_ns(), "bigint").asNondeterministic()
    )
    sql = "SELECT reuse_clock(id) AS t FROM range(1)"
    first = _rows(conn, sql)
    assert _rows(conn, sql) != first
    assert _reused(conn) == 0


def test_logical_rdd_source_misses(conn, spark):
    spark.createDataFrame([(1,), (2,)], "x BIGINT").createOrReplaceTempView("reuse_rdd")
    sql = "SELECT SUM(x) FROM reuse_rdd"
    assert _rows(conn, sql) == _rows(conn, sql) == [(3,)]
    assert _reused(conn) == 0


def test_other_for_range_misses(conn, spark):
    sql = "SELECT COUNT(*) FROM events FOR DATES BETWEEN '2024-01-{}' AND '2024-01-{}'"
    direct = "SELECT COUNT(*) FROM events WHERE ts >= '2024-01-{}' AND ts < '2024-01-{}'"
    for lo, hi, end in (("03", "05", "06"), ("03", "09", "10")):
        assert _rows(conn, sql.format(lo, hi)) == [tuple(spark.sql(direct.format(lo, end)).first())]
    assert _reused(conn) == 0


def test_failed_run_is_not_remembered(conn):
    for _ in range(2):
        with pytest.raises(ox.OperationalError, match="boom"):
            _rows(conn, "SELECT raise_error('boom') AS e")
    assert _reused(conn) == 0 and not conn._plans
