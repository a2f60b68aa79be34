"""Unit tests for the function parity layer and the source registry."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from opteryx_spark import functions as oxf
from opteryx_spark.sources import registry as srcreg


# --- functions --------------------------------------------------------------


def test_product_aggregate(spark):
    df = spark.createDataFrame([(1, 2.0), (1, 3.0), (1, -4.0), (2, 0.0), (2, 9.0)], ["g", "x"])
    rows = {
        r["g"]: r["p"]
        for r in df.groupBy("g").agg(oxf.product(F.col("x")).alias("p")).collect()
    }
    assert abs(rows[1] - (-24.0)) < 1e-9
    assert rows[2] == 0.0


def test_min_max_struct(spark):
    df = spark.createDataFrame([(1,), (5,), (3,)], ["x"])
    row = df.agg(oxf.min_max(F.col("x")).alias("mm")).first()["mm"]
    assert (row["min"], row["max"]) == (1, 5)


def test_search_and_iif(spark):
    df = spark.createDataFrame([("Hello World",)], ["s"])
    row = df.select(
        oxf.search(F.col("s"), "WORLD").alias("found"),
        oxf.iif(F.length("s") > 5, F.lit("long"), F.lit("short")).alias("sz"),
    ).first()
    assert row["found"] is True and row["sz"] == "long"


def test_levenshtein_ratio(spark):
    df = spark.createDataFrame([("kitten", "sitting")], ["a", "b"])
    r = df.select(oxf.levenshtein_ratio(F.col("a"), F.col("b")).alias("r")).first()["r"]
    assert abs(r - (1 - 3 / 7)) < 1e-9


def test_registered_sql_udfs(spark):
    oxf.register_sql_functions(spark)
    row = spark.sql(
        "SELECT base85_decode(base85_encode('hello')) AS rt,"
        "       humanize(1234567.0) AS h,"
        "       ip_in_cidr('10.1.2.3', '10.0.0.0/8') AS inside,"
        "       ip_in_cidr('192.168.1.1', '10.0.0.0/8') AS outside,"
        "       soundex_py('Robert') AS sx"
    ).first()
    assert row["rt"] == "hello"
    assert row["h"] == "1.2 million"
    assert row["inside"] is True and row["outside"] is False
    assert row["sx"] == "R163"


def test_time_bucket(spark):
    df = spark.createDataFrame([("2024-03-05 10:47:00",)], ["s"]).select(
        F.col("s").cast("timestamp").alias("ts")
    )
    row = df.select(oxf.time_bucket(F.col("ts"), "1 hour").alias("b")).first()
    assert row["b"].minute == 0 and row["b"].hour == 10


# --- sources ----------------------------------------------------------------


@pytest.fixture(scope="module")
def fmt_dir(spark, sf_dir):
    """The nation table re-written in several formats."""
    d = tempfile.mkdtemp(prefix="oxs_formats")
    df = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(os.path.join(d, "nation_csv"))
    df.coalesce(1).write.mode("overwrite").json(os.path.join(d, "nation_jsonl"))
    df.coalesce(1).write.mode("overwrite").orc(os.path.join(d, "nation_orc"))
    df.coalesce(1).write.mode("overwrite").option("header", True).option("sep", "\t").csv(
        os.path.join(d, "nation_tsv")
    )
    return d


def test_read_any_formats(spark, fmt_dir):
    for sub, fmt in [
        ("nation_csv", "csv"),
        ("nation_jsonl", "json"),
        ("nation_orc", "orc"),
    ]:
        df = srcreg.read_any(spark, os.path.join(fmt_dir, sub), fmt=fmt)
        assert df.count() == 25, f"{fmt} read failed"


def test_read_any_by_extension(spark, sf_dir, fmt_dir):
    assert srcreg.read_any(spark, os.path.join(sf_dir, "nation.parquet")).count() == 25
    import glob

    csv_file = glob.glob(os.path.join(fmt_dir, "nation_csv", "*.csv"))[0]
    assert srcreg.read_any(spark, csv_file).count() == 25


def test_feather_roundtrip(spark):
    import pyarrow as pa
    import pyarrow.feather as feather

    d = tempfile.mkdtemp(prefix="oxs_feather")
    path = os.path.join(d, "t.feather")
    feather.write_feather(pa.table({"a": [1, 2, 3]}), path)
    assert srcreg.read_any(spark, path).count() == 3


def test_register_store_prefix(spark, sf_dir):
    reg = srcreg.SourceRegistry()
    reg.register_store("tpch", root=sf_dir, fmt="parquet")
    df = reg.resolve(spark, "tpch.nation.parquet")
    assert df.count() == 25


def test_register_frames(spark):
    import pandas as pd
    import pyarrow as pa

    reg = srcreg.SourceRegistry()
    reg.register_frame("pdf", pd.DataFrame({"x": [1, 2]}))
    reg.register_frame("atb", pa.table({"y": ["a"]}))
    assert reg.resolve(spark, "pdf").count() == 2
    assert reg.resolve(spark, "atb").count() == 1


def test_iceberg_conf_and_sql():
    from opteryx_spark.sources import iceberg

    conf = iceberg.catalog_conf("lake", "hadoop", warehouse="/tmp/wh")
    assert conf["spark.sql.catalog.lake"] == "org.apache.iceberg.spark.SparkCatalog"
    assert conf["spark.sql.catalog.lake.warehouse"] == "/tmp/wh"
    assert "TIMESTAMP AS OF '2024-01-01'" in iceberg.time_travel_sql(
        "lake.db.t", timestamp="2024-01-01"
    )
    assert "VERSION AS OF 42" in iceberg.time_travel_sql("lake.db.t", snapshot_id=42)


def test_match_against(spark):
    df = spark.createDataFrame(
        [(1, "the quick Brown fox"), (2, "quick grey wolf")], ["id", "txt"]
    )
    got = {
        r["id"]: r["m"]
        for r in df.select("id", oxf.match_against(F.col("txt"), ["quick", "brown"]).alias("m")).collect()
    }
    assert got == {1: True, 2: False}


def test_sql_store_sqlite_roundtrip(spark, tmp_path):
    """kind='sql' store backed by a real SQLite file (reference
    connectors/sql_connector.py:64)."""
    import sqlite3

    from opteryx_spark.sources.registry import SourceRegistry

    db = tmp_path / "dims.db"
    with sqlite3.connect(db) as con:
        con.execute("CREATE TABLE color (id INTEGER, name TEXT)")
        con.executemany("INSERT INTO color VALUES (?, ?)", [(1, "red"), (2, "green"), (3, "blue")])
        con.commit()
    reg = SourceRegistry()
    reg.register_store("dims", kind="sql", connection=f"sqlite:///{db}")
    df = reg.resolve(spark, "dims.color")
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == [(1, "red"), (2, "green"), (3, "blue")]


def test_sql_store_through_cursor(spark, tmp_path):
    import sqlite3

    import opteryx_spark as ox

    db = tmp_path / "ref.db"
    with sqlite3.connect(db) as con:
        con.execute("CREATE TABLE flags (k TEXT, v INTEGER)")
        con.executemany("INSERT INTO flags VALUES (?, ?)", [("a", 1), ("b", 2)])
        con.commit()
    conn = ox.connect(spark=spark)
    conn.registry.register_store("refdb", kind="sql", connection=str(db))
    cur = conn.cursor().execute("SELECT SUM(v) AS s FROM refdb.flags")
    assert cur.fetchall() == [(3,)]


def test_http_dataset(spark, tmp_path):
    """HTTP table function + FROM 'http://...' via a local HTTP server."""
    import http.server
    import threading

    import opteryx_spark as ox

    doc = tmp_path / "lookup.csv"
    doc.write_text("code,label\n1,alpha\n2,beta\n")

    class Handler(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(tmp_path), **kw)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/lookup.csv"
        conn = ox.connect(spark=spark)
        cur = conn.cursor().execute(f"SELECT COUNT(*) AS n FROM HTTP('{url}')")
        assert cur.fetchall() == [(2,)]
        cur2 = conn.cursor().execute(f"SELECT label FROM '{url}' ORDER BY code")
        assert [r[0] for r in cur2.fetchall()] == ["alpha", "beta"]
    finally:
        srv.shutdown()


def test_show_create_view(spark):
    import opteryx_spark as ox
    from opteryx_spark import errors

    conn = ox.connect(spark=spark, views={"my_view": "SELECT 1 AS one"})
    cur = conn.cursor().execute("SHOW CREATE VIEW my_view")
    assert cur.fetchall() == [("SELECT 1 AS one",)]
    assert cur.description[0].name == "my_view"
    try:
        conn.cursor().execute("SHOW CREATE VIEW nope")
        raise AssertionError("expected ProgrammingError")
    except errors.ProgrammingError:
        pass


def test_nosql_reader_specs():
    """Mongo/Cassandra store kinds map to the official DataSource-V2
    connectors with the right option surface (jar-free unit check)."""
    from opteryx_spark.sources.registry import _Store, nosql_reader_spec

    fmt, opts = nosql_reader_spec(
        _Store(kind="mongodb", root="mongodb://db:27017", options={"database": "app"}),
        "users",
    )
    assert fmt == "mongodb"
    assert opts == {
        "connection.uri": "mongodb://db:27017",
        "collection": "users",
        "database": "app",
    }

    fmt, opts = nosql_reader_spec(_Store(kind="cql", options={}), "ks.events")
    assert fmt == "org.apache.spark.sql.cassandra"
    assert opts == {"keyspace": "ks", "table": "events"}


def test_nosql_store_missing_jar_raises_typed_error(spark):
    from opteryx_spark import errors
    from opteryx_spark.sources.registry import SourceRegistry

    reg = SourceRegistry()
    reg.register_store("appdb", kind="mongodb", connection="mongodb://db:27017")
    try:
        reg.resolve(spark, "appdb.users")
        raise AssertionError("expected NotSupportedError")
    except errors.NotSupportedError as exc:
        assert "mongo-spark-connector" in str(exc)


def test_firestore_store_missing_dependency(spark):
    from opteryx_spark import errors
    from opteryx_spark.sources.registry import SourceRegistry

    reg = SourceRegistry()
    reg.register_store("fs", kind="firestore", project="demo")
    try:
        reg.resolve(spark, "fs.users")
        raise AssertionError("expected NotSupportedError")
    except errors.NotSupportedError as exc:
        assert "google-cloud-firestore" in str(exc)


def test_vortex_format_gated(spark, tmp_path):
    from opteryx_spark import errors
    from opteryx_spark.sources.registry import read_any

    fake = tmp_path / "data.vortex"
    fake.write_bytes(b"\x00")
    try:
        read_any(spark, str(fake))
        raise AssertionError("expected NotSupportedError")
    except errors.NotSupportedError as exc:
        assert "vortex-data" in str(exc)


def test_xxh3_matches_reference_vectors():
    """Pure-Python XXH3-64 pinned against XXH3_64bits outputs generated
    from the public xxHash C library (all length paths)."""
    from opteryx_spark.functions.xxh3 import xxh3_64

    vectors = {
        b"": 3244421341483603138,
        b"a": 16629034431890738719,
        b"ab": 12138170336140424028,
        b"abc": 8696274497037089104,
        b"abcd": 7248448420886124688,
        b"abcdefgh": 8017998777839871107,
        b"abcdefghi": 16203358805722239136,
        b"kennedy": 1066654036757533894,
        b"space": 18306324851360899317,
        b"center": 10860765450963203913,
        b"florida": 11789309442454398244,
        b"usa": 16209480731345119461,
        b"lc-39a": 5081454774202192020,
        b"0123456789012345678901234567890123456789": 1436699666609158866,
    }
    for data, expect in vectors.items():
        assert xxh3_64(data) == expect, data


def test_text_cosine_reference_row_count():
    """The reference battery's text-mode COSINE_SIMILARITY statement:
    666 of 4630 mission locations score > 0.7 vs the LC-18A query
    (tokenizer + lemmatizer + XXH3 vector parity end-to-end)."""
    from opteryx_spark.functions.textvec import cosine_similarities, tokenize
    from opteryx_spark.virtual import _STOP_WORDS

    import pyarrow.parquet as pq

    stops = frozenset(w.encode() for w in _STOP_WORDS)
    assert tokenize("The LC-18A, & Cape-Canaveral launched!", stops) == {
        b"lc-18a", b"cape-canaveral", b"launch"
    }
    locs = pq.read_table("opteryx_spark/data/missions.parquet").column("Location").to_pylist()
    sims = cosine_similarities(locs, "LC-18A, Cape Canaveral AFS, Florida, USA", stops)
    assert sum(1 for s in sims if s is not None and s > 0.7) == 666


def test_read_any_extension_name_formats(spark, tmp_path):
    from opteryx_spark.sources.registry import read_any

    p = tmp_path / "data.unknownext"
    p.write_text("a\tb\n1\t2\n")
    df = read_any(spark, str(p), fmt="tsv")  # extension name, not a Spark format
    assert df.columns == ["a", "b"] and df.count() == 1
