"""A statement's temporal, quoted-path and store relations are bound to that
statement alone (``spark.sql(sql, **relations)``), never published under a
name in the session that every connection shares."""

from __future__ import annotations

import inspect
import threading

import pyarrow as pa
import pyarrow.parquet as pq

import opteryx_spark as ox
from opteryx_spark import cursor
from opteryx_spark.catalog import register_sf_dir
from opteryx_spark.sources.registry import register_store

THREADS, STATEMENTS = 4, 40


def _statements(tmp_path, i: int) -> list[str]:
    """Thread ``i``'s statements: its own FOR range and its own file."""
    path = tmp_path / f"t{i}.parquet"
    pq.write_table(pa.table({"x": list(range(10 * (i + 1)))}), path)
    lo, hi = 1 + 5 * i, 3 + 5 * i
    return [
        f"SELECT COUNT(*) AS n FROM events FOR DATES BETWEEN '2024-01-{lo:02d}' AND '2024-01-{hi:02d}'",
        f"SELECT SUM(x) AS s, '{{\"t\": {i}}}' AS j FROM '{path}'",
        f"SELECT COUNT(*) AS n FROM events e FOR '2024-01-{hi:02d}' "
        f"JOIN '{path}' p ON e.event_id % 40 = p.x",
    ]


def test_threads_on_one_session_read_their_own_relations(spark, sf_dir, tmp_path):
    register_sf_dir(spark, sf_dir)
    serial_conn = ox.connect(spark=spark)
    work = [_statements(tmp_path, i) for i in range(THREADS)]
    serial = {sql: serial_conn.cursor().execute(sql).fetchall() for sqls in work for sql in sqls}
    assert len(set(map(str, serial.values()))) > THREADS  # the threads' answers differ
    wrong, failures = [], []

    def send(sqls):
        conn = ox.connect(spark=spark)  # one connection per thread, one session
        try:
            for k in range(STATEMENTS):
                sql = sqls[k % len(sqls)]
                rows = conn.cursor().execute(sql).fetchall()
                if rows != serial[sql]:
                    wrong.append((sql, rows))
        except Exception as exc:  # re-raised below
            failures.append(exc)

    threads = [threading.Thread(target=send, args=(sqls,)) for sqls in work]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not failures
    assert wrong == []


def test_statement_relations_leave_no_views(spark, sf_dir, tmp_path):
    register_sf_dir(spark, sf_dir)
    (tmp_path / "t").mkdir()
    pq.write_table(pa.table({"x": [1, 2, 3]}), tmp_path / "t" / "data.parquet")
    register_store("relstore", root=str(tmp_path))
    path = tmp_path / "p.parquet"
    pq.write_table(pa.table({"x": [2, 3]}), path)
    conn = ox.connect(spark=spark)
    sql = (
        "SELECT COUNT(*) FROM relstore.t s JOIN '{}' p ON s.x = p.x "
        "JOIN events e FOR DATES BETWEEN '2024-01-01' AND '2024-01-31' ON e.event_id = p.x"
    )
    cur = conn.cursor().execute(sql.format(path))
    assert cur.fetchall() == conn.cursor().execute(
        f"SELECT COUNT(*) FROM relstore.t s JOIN '{path}' p ON s.x = p.x "
        "JOIN events e ON e.event_id = p.x WHERE e.ts < '2024-02-01'"
    ).fetchall()
    conn.cursor().execute("EXPLAIN " + sql.format(path)).fetchall()
    prefixes = ("_pyspark_", "__temporal_", "path_table_", "store_")
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith(prefixes)]


def test_execute_publishes_no_view():
    for fn in (cursor.Cursor._execute_one, cursor.Cursor._resolve_store_refs):
        assert "createOrReplaceTempView" not in inspect.getsource(fn)
    assert ".collect()" not in inspect.getsource(cursor)
