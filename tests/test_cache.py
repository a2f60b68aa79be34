"""Cache and checkpoint lifetime (``opteryx_spark.cache``): what a scope
releases at its exit, and what it must leave to other scopes and threads."""

from __future__ import annotations

import sys
import threading
from concurrent.futures import ThreadPoolExecutor

from opteryx_spark import cache
from opteryx_spark.cache import cache_scope
from opteryx_spark.operators import dedup
from tests._compare import _canon_rows

WAIT_S = 120


def _pinned(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _in_threads(*fns):
    """Run each function on its own thread (no scope open there) and
    return their results, re-raising the first failure."""
    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        return [f.result(timeout=WAIT_S) for f in [pool.submit(fn) for fn in fns]]


def test_scope_releases_its_persists_at_exit(spark):
    """Repeated identical operator calls inside one scope alias one cache
    per plan; everything is released when the scope exits."""
    df = spark.createDataFrame(
        [(i, f"doc body {i % 3} common words here") for i in range(12)],
        ["doc_id", "text"],
    )
    before = _pinned(spark)
    with cache_scope():
        dedup.ngram_jaccard_pairs(df, threshold=0.5).count()
        dedup.minhash_dedup_verified(df, threshold=0.5).count()
        after_first = _pinned(spark)
        assert after_first > before
        for _ in range(3):
            dedup.ngram_jaccard_pairs(df, threshold=0.5).count()
            dedup.minhash_dedup_verified(df, threshold=0.5).count()
        assert _pinned(spark) == after_first
    assert _pinned(spark) == before


def test_connected_components_blocks_released_at_scope_exit(spark):
    """Superseded rounds and the edge list are released inside the loop;
    the final labels stay pinned until the scope exits."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (3, 4)], ["id1", "id2"]
    )
    before = _pinned(spark)
    with cache_scope():
        out = dedup.connected_components(pairs)
        assert out.count() == 9
        assert _pinned(spark) == before + 1
    assert _pinned(spark) == before


def test_checkpoint_survives_other_scopes_releases(spark):
    """Other scopes persisting, exiting and draining never touch the
    blocks an unmaterialized checkpointed result rides on."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["id1", "id2"])
    with cache_scope():
        out = dedup.connected_components(pairs)  # NOT materialized yet
        for i in range(8):
            with cache_scope():
                cache.persist(spark.range(i + 1, i + 3)).count()
                dedup.release_text_group_caches()
        comp = {r.node: r.comp for r in out.collect()}  # raises on missing blocks
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_repeated_identical_persists_keep_the_frame_cached(spark):
    """Spark keeps one cache entry for every alias of a plan: persisting
    the same plan again in the same scope must not release it."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "t"])
    with cache_scope():
        for _ in range(9):
            tracked = cache.persist(df.select("id", "t"))
            tracked.collect()
        assert tracked.storageLevel.useMemory
    assert not df.select("id", "t").storageLevel.useMemory


def test_nested_scope_keeps_a_plan_the_outer_scope_holds(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "t"])
    with cache_scope():
        outer = cache.persist(df.select("id"))
        outer.count()
        with cache_scope():
            cache.persist(df.select("id")).count()
        assert outer.storageLevel.useMemory
    assert not outer.storageLevel.useMemory


def test_without_a_scope_the_drain_releases_the_shared_fallback(spark, monkeypatch):
    monkeypatch.setattr(cache, "_FALLBACK", cache._Scope())

    def no_scope():
        f = cache.persist(spark.range(3, 7))
        f.count()
        cached = f.storageLevel.useMemory
        dedup.release_text_group_caches()
        return cached, f.storageLevel.useMemory

    assert _in_threads(no_scope) == [(True, False)]


def test_drain_in_another_scope_keeps_checkpointed_result(spark):
    """Thread A's checkpointed result stays readable while thread B, in
    its own scope, drains."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["id1", "id2"])
    built, drained = threading.Event(), threading.Event()

    def a():
        with cache_scope():
            out = dedup.connected_components(pairs)
            built.set()
            assert drained.wait(WAIT_S)
            return {r.node: r.comp for r in out.collect()}

    def b():
        assert built.wait(WAIT_S)
        with cache_scope():
            dedup.release_text_group_caches()
        drained.set()

    comp, _ = _in_threads(a, b)
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_scope_exit_keeps_a_plan_another_scope_holds(spark):
    """Two threads persist the identical plan in separate scopes; one
    scope exiting must leave the other's frame cached."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "t"])
    held, left = threading.Event(), threading.Event()

    def holder():
        with cache_scope():
            f = cache.persist(df.select("id", "t"))
            f.count()
            held.set()
            assert left.wait(WAIT_S)
            return f.storageLevel.useMemory

    def leaver():
        assert held.wait(WAIT_S)
        with cache_scope():
            cache.persist(df.select("id", "t")).count()
        left.set()

    still_cached, _ = _in_threads(holder, leaver)
    assert still_cached
    assert not df.select("id", "t").storageLevel.useMemory


def test_reference_counts_hold_under_thread_churn(spark):
    """Eight threads, more than the cores, open and close scopes over the
    same three plans with a tiny switch interval: each plan stays cached
    while a scope that persisted it is open, and no count is lost."""
    base = spark.range(0, 10)
    plans = [base.filter(base.id > i) for i in range(3)]

    def churn():
        held = True
        for _ in range(5):
            with cache_scope():
                for p in plans:
                    cache.persist(p)
                held = held and all(p.storageLevel.useMemory for p in plans)
        return held

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        assert all(_in_threads(*[churn] * 8))
    finally:
        sys.setswitchinterval(interval)
    assert not {p.semanticHash() for p in plans} & cache._HELD.keys()
    assert not any(p.storageLevel.useMemory for p in plans)


def test_concurrent_bench_entries_match_serial(spark, sf_dir, monkeypatch):
    """Every legacy bench entry that persists or checkpoints, run on three
    threads twice with one scope per task, returns its serial result, and
    nothing stays pinned afterwards."""
    import bench
    from opteryx_spark.suite import load_all

    reg = load_all()
    registered: list[int] = []
    for name in ("persist", "checkpoint"):
        real = getattr(cache, name)
        monkeypatch.setattr(
            cache, name, lambda df, real=real: registered.append(1) or real(df)
        )

    def run(name, only_if_registering=False):
        with cache_scope():
            n = len(registered)
            df = reg[name].spark(spark, sf_dir)  # operators register while building
            if only_if_registering and len(registered) == n:
                return None
            return _canon_rows(df.columns, df.collect())

    before = _pinned(spark)
    serial = {}
    for name in bench.BENCH_QUERIES:
        rows = run(name, only_if_registering=True)
        if rows is not None:
            serial[name] = rows
    assert len(serial) >= 20, sorted(serial)
    names = sorted(serial) * 2
    with ThreadPoolExecutor(max_workers=3) as pool:
        results = list(pool.map(run, names))
    mismatched = [n for n, rows in zip(names, results) if rows != serial[n]]
    assert not mismatched
    assert _pinned(spark) == before
