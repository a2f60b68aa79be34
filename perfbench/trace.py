"""In-memory spans recorded around calls into the engine's layers.

Only the benchmark's own files record spans: ``Tracer.wrap`` replaces a
module attribute with a timing wrapper for the length of a traced run,
and the benchmark opens spans around the calls it makes itself.  A span
is recorded only while its thread is inside a traced operation.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass(frozen=True)
class Span:
    span_id: int
    parent: int | None
    op: str
    name: str
    start_ns: int
    end_ns: int


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def op(self, op_id: str):
        """Attribute the spans this thread records to ``op_id``."""
        if not self.enabled:
            yield
            return
        self._local.op, self._local.stack = op_id, []
        try:
            yield
        finally:
            self._local.op = None

    @contextmanager
    def span(self, name: str):
        op = getattr(self._local, "op", None)
        if op is None:
            yield
            return
        stack = self._local.stack
        span_id = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(span_id)
        start = time.perf_counter_ns()
        try:
            yield
        finally:
            end = time.perf_counter_ns()
            stack.pop()
            with self._lock:
                self.spans.append(Span(span_id, parent, op, name, start, end))

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Record a ``name`` span around every call of ``owner.attr``."""
        if not self.enabled:
            return
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)


def _union_ns(intervals: list[tuple[int, int]]) -> int:
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, int]:
    """Span id -> its duration minus the part its children cover (ns)."""
    children: dict[int, list[tuple[int, int]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start_ns, s.end_ns))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s.start_ns), min(b, s.end_ns))
            for a, b in children.get(s.span_id, [])
            if min(b, s.end_ns) > max(a, s.start_ns)
        ]
        out[s.span_id] = (s.end_ns - s.start_ns) - _union_ns(clipped)
    return out


def layer_self_ns(spans: list[Span]) -> dict[str, dict[str, int]]:
    """Layer name -> op id -> summed self time of that layer's spans in the op."""
    own = self_times(spans)
    out: dict[str, dict[str, int]] = {}
    for s in spans:
        per_op = out.setdefault(s.name, {})
        per_op[s.op] = per_op.get(s.op, 0) + own[s.span_id]
    return out


def top_level_cover_ns(spans: list[Span], op: str) -> int:
    """Wall time the op's top-level spans cover, overlaps counted once."""
    return _union_ns([(s.start_ns, s.end_ns) for s in spans if s.op == op and s.parent is None])
