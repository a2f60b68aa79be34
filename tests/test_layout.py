"""Sink-side layout: writes must produce scans that PRUNE.

Two mechanisms asserted separately: hive partition columns eliminate
directories (``PartitionFilters`` carries the predicate), and range
clustering gives files tight, mostly-disjoint min/max so row-group
statistics can skip (verified from the parquet footers themselves).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from opteryx_spark.catalog import load_table
from opteryx_spark.plans import explain_text
from opteryx_spark.sources import layout


def test_partitioned_write_prunes_directories(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("oxs_layout_part"))
    ev = load_table(spark, sf_dir, "events")
    layout.write_clustered(ev, out, partition_by=["event_type"])

    got = spark.read.parquet(out).filter(F.col("event_type") == "click")
    text = explain_text(got)
    part_lines = [ln for ln in text.splitlines() if "PartitionFilters" in ln]
    assert part_lines and "event_type" in part_lines[0]
    # the partition predicate must NOT degrade to a data filter (a scan
    # with no remaining data filters omits the PushedFilters line entirely)
    pushed = [ln for ln in text.splitlines() if "PushedFilters" in ln]
    assert not pushed or "event_type" not in pushed[0]
    # one directory per type, and each directory written as few files
    dirs = [d for d in os.listdir(out) if d.startswith("event_type=")]
    assert len(dirs) >= 3
    want = ev.filter(F.col("event_type") == "click").count()
    assert got.count() == want


def test_clustered_write_tightens_rowgroup_stats(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("oxs_layout_clust"))
    ev = load_table(spark, sf_dir, "events")
    layout.write_clustered(ev, out, cluster_by=["user_id"], num_files=8)

    rep = [r for r in layout.layout_report(spark, out, "user_id") if r["rows"]]
    assert len(rep) >= 4
    # ranges must be mostly disjoint: total overlap-free coverage means the
    # sum of per-file spans is close to the global span, not n x global
    spans = sorted((r["min"], r["max"]) for r in rep)
    overlaps = sum(
        1 for (a, b) in zip(spans, spans[1:]) if b[0] < a[1]
    )
    assert overlaps <= 1  # range partitioner boundaries may share one key
    # a point predicate on the cluster key reads, at most, one file's range
    probe = spans[0][1]
    hits = [r for r in rep if r["min"] <= probe <= r["max"]]
    assert len(hits) <= 2

    got = spark.read.parquet(out).filter(F.col("user_id") == int(probe))
    text = explain_text(got)
    pushed = [ln for ln in text.splitlines() if "PushedFilters" in ln]
    assert pushed and "user_id" in pushed[0]
    assert got.count() == ev.filter(F.col("user_id") == int(probe)).count()


def test_partition_plus_cluster_roundtrip(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("oxs_layout_both"))
    docs = load_table(spark, sf_dir, "documents")
    layout.write_clustered(docs, out, partition_by=["source"], cluster_by=["doc_id"])
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # every hive directory holds exactly one data file: the repartition by
    # the partition key bounds the small-files blowup
    for d in os.listdir(out):
        if d.startswith("source="):
            files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)


def test_zorder_interleaves_bits(spark):
    df = spark.createDataFrame([(3, 5)], "a long, b long")
    # a=0b011, b=0b101 -> z bits: a0@0, b0@1, a1@2, b1@3, a2@4, b2@5
    # = 1 + 2 + 4 + 0 + 0 + 32 = 39
    assert df.select(layout.zorder_value(["a", "b"]).alias("z")).first().z == 39


def test_zorder_layout_prunes_on_both_columns(spark, sf_dir, tmp_path_factory):
    """A Z-ordered layout keeps BOTH columns locally clustered: a point
    probe on either one hits a small fraction of the files, where a
    lexicographic sort serves only its leading column."""
    out = str(tmp_path_factory.mktemp("oxs_layout_z"))
    lex = str(tmp_path_factory.mktemp("oxs_layout_lex"))
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("minute_of_day", F.hour("ts") * 60 + F.minute("ts"))
        .select("event_id", "user_id", "minute_of_day", "value")
    )
    layout.write_clustered(ev, out, zorder_by=["user_id", "minute_of_day"], num_files=16)
    layout.write_clustered(ev, lex, cluster_by=["user_id", "minute_of_day"], num_files=16)

    def hit_fraction(path, column, probe):
        rep = [r for r in layout.layout_report(spark, path, column) if r["rows"]]
        hits = [r for r in rep if r["min"] <= probe <= r["max"]]
        return len(hits) / len(rep)

    # z-order: BOTH columns prune (normalized interleave shares locality)
    assert hit_fraction(out, "user_id", 7) < 0.7
    assert hit_fraction(out, "minute_of_day", 17) < 0.7
    # lexicographic: only the leading column is served this well; the
    # trailing column cannot beat the z-order layout
    assert hit_fraction(lex, "user_id", 7) < 0.7
    assert hit_fraction(lex, "minute_of_day", 17) >= hit_fraction(out, "minute_of_day", 17)
    # correctness: the layout changes bytes, never rows
    got = spark.read.parquet(out).filter(F.col("minute_of_day") == 17).count()
    assert got == ev.filter(F.col("minute_of_day") == 17).count()


def test_compact_dataset_bounds_file_count(spark, sf_dir, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("oxs_small_files"))
    dst = str(tmp_path_factory.mktemp("oxs_compacted"))
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(32).write.mode("overwrite").parquet(src)  # the accretion problem
    n_small = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_small >= 16

    n = ev.count()
    files = layout.compact_dataset(spark, src, dst, target_rows_per_file=(n + 3) // 4)
    assert files == 4
    n_out = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    assert n_out <= 4
    assert spark.read.parquet(dst).count() == n


def test_zorder_survives_epoch_micros_ranges(spark, sf_dir, tmp_path_factory):
    """Regression: (x - lo) * 65535 in BIGINT wraps for ranges beyond
    ~1.4e14 (epoch-micros spans) — the scaling must bucket in double and
    still produce a clustered layout."""
    out = str(tmp_path_factory.mktemp("oxs_layout_zwide"))
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
        .select("event_id", "user_id", "ts_us")
    )
    span = ev.agg(F.max("ts_us") - F.min("ts_us")).first()[0]
    assert span > 0
    layout.write_clustered(ev, out, zorder_by=["ts_us", "user_id"], num_files=8)
    rep = [r for r in layout.layout_report(spark, out, "ts_us") if r["rows"]]
    probe = rep[0]["min"]
    hits = [r for r in rep if r["min"] <= probe <= r["max"]]
    assert len(hits) <= max(2, len(rep) // 2)  # clustered, not shredded
    assert spark.read.parquet(out).count() == ev.count()


def test_zorder_with_partition_by_bounds_fragments(spark, sf_dir, tmp_path_factory):
    """Regression: the hive key must LEAD the z-range distribution, or
    partitionBy writes tasks x partitions fragments."""
    out = str(tmp_path_factory.mktemp("oxs_layout_zpart"))
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("minute_of_day", F.hour("ts") * 60 + F.minute("ts"))
        .select("event_id", "user_id", "minute_of_day", "event_type")
    )
    layout.write_clustered(
        ev, out, partition_by=["event_type"], zorder_by=["user_id", "minute_of_day"],
        num_files=8,
    )
    n_types = ev.select("event_type").distinct().count()
    total_files = sum(
        1
        for d in os.listdir(out)
        if d.startswith("event_type=")
        for f in os.listdir(os.path.join(out, d))
        if f.endswith(".parquet")
    )
    # bounded by the range-partition count (8), never tasks x partitions
    assert total_files <= 8 + n_types
    assert spark.read.parquet(out).count() == ev.count()


def test_upsert_partitions_rewrites_only_touched_dirs(spark, tmp_path_factory):
    """Upsert replaces matched keys and appends new ones, and files in
    untouched hive partitions stay byte-identical (same paths, sizes,
    mtimes)."""
    import os

    from opteryx_spark.sources import layout

    path = str(tmp_path_factory.mktemp("oxs_upsert")) + "/ds"
    base = spark.createDataFrame(
        [(d, k, f"v{d}{k}") for d in ("d1", "d2", "d3") for k in range(5)],
        "day string, id long, val string",
    )
    layout.write_clustered(base, path, partition_by=["day"])

    def snapshot(day):
        root = os.path.join(path, f"day={day}")
        return {
            f: (os.path.getsize(os.path.join(root, f)),
                os.path.getmtime(os.path.join(root, f)))
            for f in os.listdir(root)
            if f.endswith(".parquet")
        }

    before_d1, before_d3 = snapshot("d1"), snapshot("d3")

    updates = spark.createDataFrame(
        [("d2", 1, "UPDATED"), ("d2", 99, "NEW")], "day string, id long, val string"
    )
    pinned = spark.sparkContext._jsc.getPersistentRDDs().size()
    rep = layout.upsert_partitions(spark, path, updates, ["id"], "day")
    assert rep == {"partitions": ["d2"], "n_upserted": 6}
    # the merge checkpoint is released inside the call, not leaked
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == pinned

    after = spark.read.parquet(path)
    assert after.count() == 16  # 15 - 1 replaced + 1 replacement + 1 new
    d2 = {r.id: r.val for r in after.filter(F.col("day") == "d2").collect()}
    assert d2[1] == "UPDATED" and d2[99] == "NEW" and d2[0] == "vd20"
    # untouched partitions: files byte-identical
    assert snapshot("d1") == before_d1 and snapshot("d3") == before_d3

    import pytest

    with pytest.raises(ValueError):
        layout.upsert_partitions(spark, path, updates, [], "day")
    with pytest.raises(ValueError):
        layout.upsert_partitions(spark, path, updates.drop("day"), ["id"], "day")
