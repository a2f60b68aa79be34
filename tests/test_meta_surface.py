"""Meta surface: SHOW COLUMNS, prepared statements, views, visibility filters."""

from __future__ import annotations

import pytest

import opteryx_spark as ox
from opteryx_spark.catalog import register_sf_dir


@pytest.fixture(scope="module")
def conn(spark, sf_dir):
    register_sf_dir(spark, sf_dir)
    return ox.connect(
        spark=spark,
        prepared_statements={
            "customers_in_segment": "SELECT COUNT(*) AS n FROM customer WHERE c_mktsegment = :seg"
        },
        views={"big_orders": "SELECT * FROM orders WHERE o_totalprice > 200000.0"},
    )


def test_show_columns(conn):
    cur = conn.cursor().execute("SHOW COLUMNS FROM nation")
    rows = cur.fetchall()
    assert ("n_nationkey", "int", True, []) in rows
    assert ("n_name", "string", True, []) in rows


def test_show_columns_virtual(conn):
    cur = conn.cursor().execute("SHOW COLUMNS FROM $planets")
    assert any(r[0] == "name" for r in cur.fetchall())


def test_prepared_statement(conn):
    cur = conn.cursor().execute("EXECUTE customers_in_segment(seg='BUILDING')")
    assert cur.fetchone()[0] > 0


def test_prepared_statement_missing(conn):
    from opteryx_spark import errors

    with pytest.raises(errors.ProgrammingError):
        conn.cursor().execute("EXECUTE nope()")


def test_view_from_config(conn):
    cur = conn.cursor().execute("SELECT COUNT(*) AS n FROM big_orders")
    n = cur.fetchone()[0]
    all_n = conn.cursor().execute("SELECT COUNT(*) AS n FROM orders").fetchone()[0]
    assert 0 < n < all_n


def test_visibility_filter(spark, sf_dir):
    register_sf_dir(spark, sf_dir)
    all_n = spark.table("nation").count()
    c = ox.connect(spark=spark, visibility_filters={"nation": "n_regionkey = 0"})
    cur = c.cursor().execute("SELECT COUNT(*) AS n FROM nation")
    assert 0 < cur.fetchone()[0] < all_n
    # restore unfiltered view for other tests
    register_sf_dir(spark, sf_dir)


def test_cli_main(spark, sf_dir, capsys):
    from opteryx_spark.__main__ import main

    rc = main(["SELECT COUNT(*) AS n FROM nation", "--data-dir", sf_dir])
    assert rc == 0
    out = capsys.readouterr().out
    assert "25" in out


def test_cli_error_is_one_line_and_exit_status_1(spark, capsys):
    from opteryx_spark.__main__ import main

    assert main(["SELECT raise_error('boom')"]) == 1
    err = capsys.readouterr().err.strip().splitlines()
    assert err[-1].startswith("OperationalError: ") and "boom" in err[-1]


def test_explain_analyze(conn):
    cur = conn.cursor().execute("EXPLAIN ANALYZE SELECT COUNT(*) FROM nation")
    rows = cur.fetchall()
    # reference ANALYZE adds metric columns past (tree, operator, config)
    assert [d[0] for d in cur.description][:3] == ["tree", "operator", "config"]
    assert len(cur.description) == 7
    assert any("HashAggregate" in r[1] for r in rows)


def test_visibility_filter_applies_to_late_registered_table(spark, sf_dir):
    import opteryx_spark as ox
    from opteryx_spark.catalog import register_sf_dir as _reg

    spark.catalog.dropTempView("supplier")
    c = ox.connect(spark=spark, visibility_filters={"supplier": "s_suppkey <= 5"})
    _reg(spark, sf_dir)  # table registered AFTER the connection
    n = c.cursor().execute("SELECT COUNT(*) AS n FROM supplier").fetchone()[0]
    all_n = spark.read.parquet(f"{sf_dir}/supplier.parquet").count()
    assert 0 < n < all_n  # filter still enforced
    _reg(spark, sf_dir)


def test_temporal_for_unconfigured_table_raises(conn):
    import opteryx_spark as ox
    import pytest as _pytest

    with _pytest.raises(ox.ProgrammingError, match="no\\s+configured time column"):
        conn.cursor().execute("SELECT COUNT(*) AS n FROM nation FOR '2024-01-01'")
