"""Cache and checkpoint lifetime: caller-owned scopes.

Operators that reuse an intermediate call :func:`persist`; iterative
operators that cut lineage call :func:`checkpoint`.  Both register the
frame in the innermost open :func:`cache_scope`, and whoever runs the
action owns that scope::

    with cache_scope():
        rows = dedup.connected_components(pairs).collect()

Leaving the scope releases what was registered in it, so materialize
results inside it: a released ``localCheckpoint`` cannot be recomputed.
The current scope lives in a ``contextvars`` variable, so a scope opened
in one thread or asyncio task is invisible to the others; a new thread
starts with no scope open.  With no scope open, registrations go to one
shared fallback scope that only :func:`drain` releases.

Spark's CacheManager keeps one entry for every alias of a plan, so two
scopes that persist the same plan share one cache.  A reference count per
``semanticHash()`` unpersists it only when no other live scope holds it.
A hash collision can only delay a release, never make it early.  A
checkpoint RDD belongs to the one call that made it and needs no count.
"""

from __future__ import annotations

import contextlib
import threading
from contextvars import ContextVar

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
# semanticHash -> [live scopes holding it, the distinct frames persisted under it]
_HELD: dict[int, list] = {}


class _Scope:
    def __init__(self) -> None:
        self.plans: set[int] = set()  # semanticHashes this scope holds
        self.rdds: dict[int, object] = {}  # pinned checkpoint RDD id -> SparkContext

    def hold(self, df: DataFrame) -> None:
        h = df.semanticHash()
        with _LOCK:
            entry = _HELD.setdefault(h, [0, []])
            if h not in self.plans:
                self.plans.add(h)
                entry[0] += 1
            # sameSemantics runs only on a hash match, and then almost
            # always finds the alias on its first comparison
            if not any(f.sameSemantics(df) for f in entry[1]):
                entry[1].append(df)

    def close(self) -> None:
        """Release everything registered so far; the scope stays usable."""
        with _LOCK:
            # unpersist under the lock, so that a scope registering the
            # same plan meanwhile persists it only after this release
            for h in self.plans:
                entry = _HELD[h]
                entry[0] -= 1
                if not entry[0]:
                    for f in _HELD.pop(h)[1]:
                        try:
                            f.unpersist()
                        except Exception:
                            pass  # session stopped: nothing left to release
            self.plans = set()
            rdds, self.rdds = self.rdds, {}
        for rid, sc in rdds.items():
            _unpersist_rdd(sc, rid)


_CURRENT: ContextVar[_Scope | None] = ContextVar("opteryx_cache_scope", default=None)
_FALLBACK = _Scope()


def _scope() -> _Scope:
    return _CURRENT.get() or _FALLBACK


@contextlib.contextmanager
def cache_scope():
    """Open a scope; every persist and checkpoint made inside it (and not in
    a nested scope) is released when it exits."""
    scope = _Scope()
    token = _CURRENT.set(scope)
    try:
        yield
    finally:
        _CURRENT.reset(token)
        scope.close()


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, held until the current scope exits."""
    _scope().hold(df)  # before persisting: see _Scope.close
    return df.persist()


def checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()``, its blocks pinned until the current scope
    exits or :func:`release` drops them."""
    out = df.localCheckpoint()
    rid = _rdd_id(out)
    if rid is not None:
        with _LOCK:
            _scope().rdds[rid] = df.sparkSession.sparkContext
    return out


def release(df: DataFrame) -> None:
    """Drop a frame returned by :func:`checkpoint` before its scope exits:
    the superseded round of an iterative loop.  Frames the current scope
    did not checkpoint are left alone."""
    rid = _rdd_id(df)
    with _LOCK:
        sc = _scope().rdds.pop(rid, None)
    if sc is not None:
        _unpersist_rdd(sc, rid)


def drain() -> None:
    """Release the current scope now, or the shared fallback when no scope
    is open.  Other scopes, and so other threads, keep their caches."""
    _scope().close()


def _rdd_id(df: DataFrame) -> int | None:
    """The id of the RDD a ``localCheckpoint`` frame reads, from its own
    plan (a ``LogicalRDD``); None for any other plan."""
    try:
        return df._jdf.queryExecution().analyzed().rdd().id()
    except Exception:
        return None


def _unpersist_rdd(sc, rid: int) -> None:
    try:
        rdd = sc._jsc.getPersistentRDDs().get(rid)
        if rdd is not None:
            rdd.unpersist()
    except Exception:
        pass  # context stopped: nothing left to release
