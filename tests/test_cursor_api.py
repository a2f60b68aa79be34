"""End-to-end tests of the DBAPI surface (cursor, params, dialect SQL)."""

from __future__ import annotations

import os
import time

import pytest

import opteryx_spark as ox
from opteryx_spark import results
from opteryx_spark.catalog import register_sf_dir
from tests._compare import same_values


@pytest.fixture(scope="module")
def conn(spark, sf_dir):
    c = ox.connect(spark=spark)
    register_sf_dir(spark, sf_dir)
    return c


def test_basic_query(conn):
    cur = conn.cursor().execute("SELECT COUNT(*) AS n FROM nation")
    assert cur.fetchall() == [(25,)]
    assert cur.description[0].name == "n"


def test_fetch_protocol(conn):
    """PEP-249: fetchone, fetchmany and fetchall share one position."""
    cur = conn.cursor().execute("SELECT n_nationkey FROM nation ORDER BY 1")
    assert cur.fetchone() == (0,)
    assert cur.fetchmany(2) == [(1,), (2,)]
    assert cur.fetchall() == [(k,) for k in range(3, 25)]
    assert cur.fetchone() is None
    assert cur.fetchmany(5) == [] and cur.fetchall() == []
    assert cur.rowcount == 25
    cur.execute("SELECT n_nationkey FROM nation ORDER BY 1")  # resets it
    assert len(cur.fetchall()) == 25


def test_arrow_and_pandas(conn):
    cur = conn.cursor().execute("SELECT n_name FROM nation ORDER BY 1 LIMIT 3")
    tbl = cur.arrow()
    assert tbl.num_rows == 3
    assert cur.pandas().shape == (3, 1)


def _jobs(spark, group, action) -> int:
    """Spark jobs ``action`` starts, counted under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_rowcount_and_arrow_reuse_the_fetched_result(conn, spark):
    sql = "SELECT n_regionkey, COUNT(*) AS n FROM nation GROUP BY 1"
    cur = conn.cursor().execute(sql)
    assert cur.rowcount == len(cur.fetchall()) == 5
    cur = conn.cursor().execute(sql)
    assert len(cur.fetchall()) == cur.rowcount == 5

    def fetch_only():
        conn.cursor().execute(sql).fetchall()

    def fetch_then_reuse():
        cur = conn.cursor().execute(sql)
        rows = cur.fetchall()
        assert cur.rowcount == len(rows) and cur.arrow().num_rows == len(rows)
        assert cur.arrow() is cur.arrow()

    alone = _jobs(spark, "cursor-fetch-only", fetch_only)
    assert alone > 0
    assert _jobs(spark, "cursor-fetch-reuse", fetch_then_reuse) <= alone


# (name, SQL, whether the Arrow path carries it); every case must fetch
# exactly what tuple(row) from .collect() holds, value and Python type
FETCH_CASES = [
    ("decimal", "SELECT CAST(x AS DECIMAL(28,4)) d FROM VALUES (1.5), (NULL), (0), "
     "(-123456789012.1234) t(x)", True),
    ("timestamp", "SELECT TIMESTAMP'2024-03-10 02:30:00' a, TIMESTAMP'1900-01-01 "
     "00:00:00.123456' b, CAST(NULL AS TIMESTAMP) c", True),
    ("timestamp_ntz", "SELECT TIMESTAMP_NTZ'2024-03-10 02:30:00.5' a, "
     "CAST(NULL AS TIMESTAMP_NTZ) b UNION ALL SELECT TIMESTAMP_NTZ'1901-12-31 "
     "23:59:59.999999', TIMESTAMP_NTZ'2000-01-01 00:00:00'", True),
    ("date", "SELECT DATE'2024-02-29' d, CAST(NULL AS DATE) n "
     "UNION ALL SELECT DATE'0001-01-01', DATE'9999-12-31'", True),
    ("binary", "SELECT X'00FF10' b, CAST(NULL AS BINARY) n, array(X'01') a, "
     "map('k', X'02') m", True),
    ("array_int_null", "SELECT array(1, NULL, 3) a, CAST(NULL AS ARRAY<INT>) n", True),
    ("struct", "SELECT named_struct('x', id, 'y', CAST(id AS STRING)) s, "
     "IF(id = 0, NULL, named_struct('x', IF(id = 1, NULL, id))) n FROM range(3)", True),
    ("map", "SELECT map('a', 1, 'b', NULL) m UNION ALL SELECT NULL", True),
    ("array_struct", "SELECT array(named_struct('x', id, 't', DATE'2020-01-01'), "
     "named_struct('x', id + 1, 't', DATE'2020-01-02')) a FROM range(2)", True),
    ("map_string_array_int", "SELECT map('k', array(1, NULL), 'j', "
     "CAST(NULL AS ARRAY<INT>)) m UNION ALL SELECT map('e', array())", True),
    ("all_null", "SELECT NULL AS n, CAST(NULL AS INT) i, CAST(NULL AS STRING) s "
     "FROM range(3)", True),
    ("nan_inf", "SELECT CAST(x AS DOUBLE) d FROM VALUES ('NaN'), ('Infinity'), "
     "('-Infinity'), ('-0.0'), (NULL) t(x)", True),
    ("float32", "SELECT CAST(x AS FLOAT) f, CAST(x AS FLOAT) + 0 g FROM VALUES "
     "('0.1'), ('NaN'), ('3.4e38') t(x)", True),
    ("day_time_interval", "SELECT INTERVAL '1 02:03:04.5' DAY TO SECOND i, "
     "-INTERVAL '3' HOUR j", True),
    ("year_month_interval", "SELECT INTERVAL '5-6' YEAR TO MONTH ym", True),
    ("empty", "SELECT id, CAST(id AS STRING) s, array(id) a FROM range(0)", True),
    ("variant", "SELECT parse_json('{\"a\": [1, null]}') v, 1 AS i", False),
    ("null_struct_not_null_field", "SELECT IF(id = 0, NULL, named_struct('x', id)) s "
     "FROM range(2)", False),
]


@pytest.mark.parametrize("session_tz", ["UTC", "America/New_York"])
@pytest.mark.parametrize("name,sql,arrow", FETCH_CASES, ids=[c[0] for c in FETCH_CASES])
def test_fetch_types_match_collect(conn, spark, name, sql, arrow, session_tz):
    """The New York leg also changes what the conversion reads: the process-
    local zone (TIMESTAMP is naive in it) and binaryAsBytes (bytearray)."""
    prev_tz, prev_local = spark.conf.get("spark.sql.session.timeZone"), os.environ.get("TZ")
    spark.conf.set("spark.sql.session.timeZone", session_tz)
    if session_tz != "UTC":
        spark.conf.set("spark.sql.execution.pyspark.binaryAsBytes", "false")
        os.environ["TZ"] = "Asia/Kolkata"
        time.tzset()
    try:
        cur = conn.cursor().execute(sql)
        assert results.arrow_convertible(cur.df.schema) is arrow
        want = [tuple(r) for r in cur.df.collect()]
        got = cur.fetchall()
        assert len(got) == len(want) and all(map(same_values, want, got)), (want, got)
        cur.execute(sql)
        first = cur.fetchone()
        got = ([] if first is None else [first]) + cur.fetchmany(2) + cur.fetchall()
        assert len(got) == len(want) and all(map(same_values, want, got)), (want, got)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
        spark.conf.unset("spark.sql.execution.pyspark.binaryAsBytes")
        if prev_local is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev_local
        time.tzset()
    if name == "struct":
        assert [r[0].x for r in got] == [0, 1, 2]


def test_json_operator_sql(conn):
    cur = conn.cursor().execute("SELECT props ->> 'k' AS k FROM events LIMIT 1")
    (k,) = cur.fetchone()
    assert k.isdigit() or k.lstrip("-").isdigit()


def test_virtual_dataset(conn):
    cur = conn.cursor().execute("SELECT COUNT(*) AS n FROM $planets")
    assert cur.fetchall() == [(9,)]


def test_generate_series_sql(conn):
    cur = conn.cursor().execute("SELECT SUM(g) AS s FROM GENERATE_SERIES(1, 10) t(g)")
    assert cur.fetchall() == [(55,)]


def test_temporal_for(conn):
    all_n = conn.cursor().execute("SELECT COUNT(*) AS n FROM events").fetchone()[0]
    day1 = conn.cursor().execute(
        "SELECT COUNT(*) AS n FROM events FOR DATES BETWEEN '2024-01-01' AND '2024-01-02'"
    ).fetchone()[0]
    assert 0 < day1 < all_n


def test_set_and_show_variable(conn):
    conn.cursor().execute("SET @threshold = 9000.0")
    cur = conn.cursor().execute("SELECT COUNT(*) AS n FROM customer WHERE c_acctbal > @threshold")
    n = cur.fetchone()[0]
    assert n > 0


def test_named_params(conn):
    cur = conn.cursor().execute(
        "SELECT COUNT(*) AS n FROM customer WHERE c_mktsegment = :seg", {"seg": "BUILDING"}
    )
    assert cur.fetchone()[0] > 0


def test_multi_statement(conn):
    cur = conn.cursor().execute("SET @x = 2; SELECT @x * 3 AS y")
    assert cur.fetchall() == [(6,)]


def test_explain(conn):
    cur = conn.cursor().execute("EXPLAIN SELECT COUNT(*) FROM lineitem WHERE l_quantity > 10")
    rows = cur.fetchall()
    # reference EXPLAIN shape: (tree, operator, config) rows
    assert [d[0] for d in cur.description] == ["tree", "operator", "config"]
    text = "\n".join(r[2] for r in rows)
    assert "PushedFilters" in text


def test_query_to_arrow_module_level(conn):
    # module-level query() builds its own default connection; use conn's spark
    cur = conn.cursor().execute("SELECT 1 AS one")
    assert cur.arrow().to_pydict() == {"one": [1]}


def test_register_df(conn, spark):
    import pandas as pd

    ox.register_df("my_dim", pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}))
    df = conn.registry.resolve(spark, "my_dim")
    assert df.count() == 2


def test_read_path_table(conn, sf_dir):
    cur = conn.cursor().execute(f"SELECT COUNT(*) AS n FROM '{sf_dir}/nation.parquet'")
    assert cur.fetchone() == (25,)


def test_generate_series_date_range_sql(conn):
    cur = conn.cursor().execute(
        "SELECT COUNT(*) AS n FROM generate_series('2022-01-01', '2022-01-02', '1 hour') AS GS"
    )
    assert cur.fetchall() == [(25,)]  # inclusive bounds, reference semantics


def test_positional_params_after_set_variable(conn):
    conn.cursor().execute("SET @unused_flag = 1")
    cur = conn.cursor().execute(
        "SELECT COUNT(*) AS n FROM customer WHERE c_mktsegment = ?", ["BUILDING"]
    )
    assert cur.fetchone()[0] > 0


def test_virtual_satellites(conn):
    cur = conn.cursor().execute(
        "SELECT COUNT(*) AS n, COUNT(DISTINCT planetId) AS p FROM $satellites"
    )
    n, p = cur.fetchone()
    assert n >= 25 and p >= 6
    moons = conn.cursor().execute(
        "SELECT name FROM $satellites WHERE planetId = 5 ORDER BY gm DESC LIMIT 1"
    ).fetchone()[0]
    assert moons == "Ganymede"


def test_virtual_astronauts(conn):
    cur = conn.cursor().execute(
        "SELECT name, birth_place['state'] AS st FROM $astronauts "
        "WHERE 'Apollo 11' IN (SELECT explode(missions)) ORDER BY name"
    )
    # struct access + array membership both work through the dialect
    rows = conn.cursor().execute(
        "SELECT COUNT(*) AS n FROM $astronauts WHERE space_flights >= 2"
    ).fetchone()
    assert rows[0] >= 5


def test_virtual_astronauts_struct_arrow(conn):
    st = conn.cursor().execute(
        "SELECT birth_place.state AS st FROM $astronauts WHERE name LIKE 'Neil%'"
    ).fetchone()[0]
    assert st == "OH"


def test_virtual_missions(conn):
    ok = conn.cursor().execute(
        "SELECT COUNT(*) AS n FROM $missions WHERE Mission_Status = 'Success'"
    ).fetchone()[0]
    assert ok >= 9
    first = conn.cursor().execute(
        "SELECT Mission FROM $missions WHERE Lauched_at IS NOT NULL "
        "ORDER BY Lauched_at LIMIT 1"
    ).fetchone()[0]
    assert first == "Sputnik-1"


def test_virtual_variables_reflects_set(conn):
    conn.cursor().execute("SET @vv_probe = 42")
    rows = conn.cursor().execute(
        "SELECT value, type FROM $variables WHERE name = 'vv_probe'"
    ).fetchall()
    assert rows == [("42", "INT")]


def test_virtual_statistics_counts_queries(conn):
    before = int(
        conn.cursor().execute(
            "SELECT value FROM $statistics WHERE key = 'queries_executed'"
        ).fetchone()[0]
    )
    conn.cursor().execute("SELECT 1 AS x")
    after = int(
        conn.cursor().execute(
            "SELECT value FROM $statistics WHERE key = 'queries_executed'"
        ).fetchone()[0]
    )
    assert after >= before + 1


def test_virtual_user(conn):
    name = conn.cursor().execute(
        "SELECT value FROM $user WHERE attribute = 'name'"
    ).fetchone()[0]
    assert isinstance(name, str) and name


def test_context_views_do_not_leak_across_connections(spark):
    import opteryx_spark as ox

    c1 = ox.connect(spark=spark, memberships=["Apollo 11"])
    c2 = ox.connect(spark=spark)  # registers the view with empty memberships
    rows1 = c1.cursor().execute("SELECT * FROM my_mission_reports").fetchall()
    assert len(rows1) == 3  # c1 still sees its own membership context
    rows2 = c2.cursor().execute("SELECT * FROM my_mission_reports").fetchall()
    assert rows2 == []
    # Spark view names are case-insensitive: an upper-case reference must
    # still refresh the view with THIS connection's context (ADVICE r3)
    rows1_uc = c1.cursor().execute("SELECT * FROM MY_MISSION_REPORTS").fetchall()
    assert len(rows1_uc) == 3


def test_unknown_sysvar_raises(spark):
    import opteryx_spark as ox
    from opteryx_spark import errors

    conn = ox.connect(spark=spark)
    import pytest as _pytest

    with _pytest.raises(errors.Error):
        conn.cursor().execute("SELECT @@no_such_variable")


def test_execute_positional_skips_cast_colons(spark):
    import opteryx_spark as ox

    conn = ox.connect(
        spark=spark,
        prepared_statements={"tcast": "SELECT :x::INTEGER * :y AS r"},
    )
    row = conn.cursor().execute("EXECUTE tcast (3, 4)").fetchone()
    assert row[0] == 12


def test_temporal_and_plain_same_table(spark):
    import opteryx_spark as ox

    conn = ox.connect(spark=spark)
    rows = conn.cursor().execute(
        "SELECT COUNT(*) FROM $planets FOR '1800-01-01' AS old_p CROSS JOIN $planets"
    ).fetchone()
    # 7 planets known in 1800 x 9 known today
    assert rows[0] == 63


def test_table_plan_cache_is_lru_capped(spark, sf_dir, monkeypatch):
    """catalog plan cache must stay bounded in a long-lived session."""
    from opteryx_spark import catalog

    monkeypatch.setattr(catalog, "_TABLE_CACHE_MAX", 3)
    catalog._TABLE_CACHE.clear()
    for name in ("region", "nation", "customer", "supplier", "part", "orders"):
        catalog.load_table(spark, sf_dir, name)
    assert len(catalog._TABLE_CACHE) <= 3
    # most-recently-used survives
    assert any(k[1].endswith("orders.parquet") for k in catalog._TABLE_CACHE)
    catalog._TABLE_CACHE.clear()


@pytest.mark.slow  # repeated-materialization storage probe - full tier only
def test_long_lived_session_storage_stays_flat(spark):
    """100 sequential cursor queries must not accumulate persisted
    storage (VERDICT r3 next-round #10)."""
    import opteryx_spark as ox
    from opteryx_spark.operators import dedup

    dedup.release_text_group_caches()  # drop any prior test's bounded cache
    conn = ox.connect(spark=spark)
    for i in range(100):
        conn.cursor().execute(
            f"SELECT COUNT(*) AS n FROM $planets WHERE id > {i % 9}"
        ).fetchone()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0


def test_notebook_magic_registration_gated():
    """The %%opteryx magic registers only inside IPython; plain imports
    must not fail or leak (reference opteryx/__init__.py:297-314)."""
    import importlib

    import opteryx_spark

    importlib.reload(opteryx_spark)  # executes the gated block again
    assert hasattr(opteryx_spark, "connect")
    try:
        from IPython.testing.globalipapp import get_ipython as _gi
    except ImportError:
        return  # no IPython in this environment: the gate is the test
    shell = _gi()
    importlib.reload(opteryx_spark)
    assert "opteryx" in shell.magics_manager.magics["cell"]


def test_atq_with_star_projection_falls_back(spark):
    """SELECT * plus @? must not leak __variant into the schema and must
    still execute (string-JSON fallback), and '.*' inside a string
    literal must not disable the variant route."""
    import opteryx_spark as ox

    conn = ox.Connection(spark)
    conn.registry.register_store("atqtest", root="/root/reference/testdata")
    cur = conn.cursor()
    rows = cur.execute(
        "SELECT * FROM atqtest.flat.atquestion WHERE dict @? 'list'"
    ).fetchall()
    assert len(rows) == 4
    cols = [d.name for d in cur.description]
    assert "__variant" not in cols and len(cols) == 3
    # regex-literal '.*' must not trip the star guard: variant semantics
    # hold (explicit-null key still counts as existing -> 4 rows)
    rows2 = cur.execute(
        "SELECT id FROM atqtest.flat.atquestion "
        "WHERE nested @? '$.level1.key' AND 'x' NOT RLIKE 'q.*z'"
    ).fetchall()
    assert len(rows2) == 4
