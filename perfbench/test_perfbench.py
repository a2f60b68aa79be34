"""Tests of the benchmark's own logic; none of them starts Spark.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import argparse
import os
import time
from collections import Counter

import duckdb
import numpy as np
import pyarrow as pa
import pytest

from perfbench import checks, data, measure, run, trace, workloads


# --- percentile rule --------------------------------------------------------


def test_percentile_is_the_harrell_davis_estimate():
    values = [float(v) for v in range(1, 40)]
    assert measure.median(values) == pytest.approx(20.0)  # symmetric weights
    assert measure.percentile([5.0], 0.5) == 5.0
    assert measure.percentile([3.0, 1.0, 2.0], 0.5) == pytest.approx(2.0)
    p90 = measure.percentile(values, 0.9)
    assert 35.0 < p90 < 37.0  # near rank 0.9 * (n + 1) = 36
    # One cluster of 19 fast and one of 20 slow samples: moving one sample
    # across the gap moves the sample median by the whole gap, and this
    # estimate by a fraction of it.
    fast, slow = [1.0 + 0.01 * i for i in range(19)], [2.0 + 0.01 * i for i in range(20)]
    before, after = fast + slow, fast + [1.2] + slow[1:]
    assert measure.median(after) < measure.median(before)
    assert measure.median(before) - measure.median(after) < 0.25 * (2.0 - 1.18)


@pytest.mark.parametrize("n, q, ok", [
    (100, 0.9, True),    # 10 samples above p90
    (99, 0.9, False),    # 9 above
    (20, 0.5, True),     # 10 above the median
    (19, 0.5, False),
    (21, 0.9, False),
    (0, 0.5, False),
])
def test_percentile_needs_ten_samples_beyond(n, q, ok):
    assert measure.reportable(n, q) is ok


def test_summary_withholds_p90_without_ten_samples_beyond():
    args = argparse.Namespace(workload="sql_mixed", seed=1, trace=0)
    out = run.Outcome(ops=[run.Op(f"o{i}", "t", 0.1 * (i + 1)) for i in range(21)],
                      ops_per_s=1.0, rows_per_s=1.0, cpu_py_s=0.0, cpu_jvm_s=0.0)
    assert "latency_p90_s withheld" in run.summary(args, out, 1.0)
    out.ops = [run.Op(f"o{i}", "t", float(i)) for i in range(100)]
    p90 = measure.percentile([float(i) for i in range(100)], 0.9)
    assert f"latency_p90_s={p90:.4f}" in run.summary(args, out, 1.0)


# --- self time from nested spans -------------------------------------------


def _span(span_id, parent, name, start, end, op="op"):
    return trace.Span(span_id, parent, op, name, start, end)


def test_self_time_subtracts_children_counted_once():
    spans = [
        _span(1, None, "cursor.execute", 0, 100),
        _span(2, 1, "rewriter.rewrite", 10, 40),
        _span(3, 1, "rewriter.rewrite", 30, 60),  # overlaps span 2
        _span(4, 2, "inner", 15, 20),  # grandchild: only span 2 loses it
        _span(5, 1, "late", 90, 130),  # clipped to the parent's end
    ]
    own = trace.self_times(spans)
    assert own[1] == 100 - 50 - 10
    assert own[2] == 30 - 5
    assert own[4] == 5
    layers = trace.layer_self_ns(spans)
    assert layers["rewriter.rewrite"]["op"] == 25 + 30
    assert trace.top_level_cover_ns(spans, "op") == 100


def test_tracer_records_only_inside_an_operation():
    tracer = trace.Tracer(enabled=True)

    class Layer:
        @staticmethod
        def call(x):
            return x + 1

    tracer.wrap(Layer, "call", "layer.call")
    assert Layer.call(1) == 2 and tracer.spans == []
    with tracer.op("op-1"), tracer.span("outer"):
        Layer.call(1)
    tracer.unwrap_all()
    assert [(s.name, s.op) for s in tracer.spans] == [("layer.call", "op-1"), ("outer", "op-1")]
    inner, outer = tracer.spans
    assert inner.parent == outer.span_id and outer.parent is None
    Layer.call(1)
    assert len(tracer.spans) == 2


# --- CPU seconds from /proc -------------------------------------------------


def test_stat_fields_survive_parentheses_in_the_command_name():
    raw = "42 (a (b) c) S 1 2 3 4 5 6 7 8 9 10 250 50 0 0 20 0 4 0 1234 0 0"
    fields = measure.stat_fields(raw)
    assert fields[0] == "S"
    assert measure.cpu_ticks(fields) == 300
    assert int(fields[19]) == 1234


def test_cpu_seconds_follow_the_process_cpu_clock():
    before, clock0 = measure.cpu_seconds(os.getpid()), time.process_time()
    while time.process_time() - clock0 < 0.3:
        pass
    used, clock = measure.cpu_seconds(os.getpid()) - before, time.process_time() - clock0
    assert abs(used - clock) <= 3 / measure.CLK_TCK + 0.02


# --- a failed output check counts as an error --------------------------------


class _FakeCursor:
    def __init__(self, rows):
        self.rows, self._df = rows, None

    def execute(self, sql, params=None):
        return self

    def fetchall(self):
        return self.rows


class _FakeConn:
    def __init__(self, rows):
        self.rows = rows

    def cursor(self):
        return _FakeCursor(self.rows)


class _FakeSpark:
    class sparkContext:  # noqa: N801 - mirrors SparkSession.sparkContext
        @staticmethod
        def setJobGroup(*args):
            pass


def _bench(rows):
    return run.Bench(
        args=argparse.Namespace(trace=0, seed=1, seconds=1),
        tracer=trace.Tracer(enabled=False),
        spark=_FakeSpark,
        conn=_FakeConn(rows),
        jvm_pid=os.getpid(),
        tables=None,
        run_dir=None,
        duck=duckdb.connect(),
    )


def test_wrong_result_is_a_failed_operation():
    st = workloads.Statement("probe", "SELECT 1 AS x, 2.5 AS y")
    good = run._sql_op(_bench([(1, 2.5)]), st, "op-0")
    bad = run._sql_op(_bench([(1, 2.75)]), st, "op-1")
    assert good.error is None
    assert bad.error.startswith("wrong result: row 0")
    out = run.Outcome(ops=[good, bad], ops_per_s=1.0, rows_per_s=1.0, cpu_py_s=0.0,
                      cpu_jvm_s=0.0)
    line = run.result(out, {})
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 2, 1)


def test_a_check_that_raises_is_a_failed_operation():
    missing = workloads.Statement("probe", "SELECT 1 AS x", oracle="SELECT x FROM no_such_table")
    op = run._sql_op(_bench([(1,)]), missing, "op-0")
    assert op.error.startswith("check failed: CatalogException")
    # exact comparison of rows holding None cannot sort them
    export = workloads.Statement("probe", "SELECT * FROM (VALUES (NULL), (1)) t(x)",
                                 ordered=False, export=True)
    op = run._sql_op(_bench([(None,), (1,)]), export, "op-1")
    assert op.error.startswith("check failed: TypeError")
    line = run.result(run.Outcome(ops=[op], ops_per_s=1.0, rows_per_s=1.0, cpu_py_s=0.0,
                                  cpu_jvm_s=0.0), {})
    assert (line["correct"], line["failed"]) == (False, 1)


def test_stored_expected_rows_are_checked():
    st = workloads._planets(np.random.default_rng(0))
    assert run._check_sql(_bench([]), st, list(st.expected)) is None
    assert run._check_sql(_bench([]), st, list(st.expected)[1:]) is not None


def test_float_tolerance_and_exact_exports():
    assert checks.rows_match([(1, 0.1 + 0.2)], [(1, 0.3)], ordered=True) is None
    assert checks.rows_match([(2,), (1,)], [(1,), (2,)], ordered=False) is None
    assert checks.rows_match([(2,), (1,)], [(1,), (2,)], ordered=True) is not None
    assert checks.exact_rows_match([(1, 0.3)], [(1, 0.1 + 0.2)]) is not None
    got = pa.table({"ts": pa.array([1, 0], pa.timestamp("us", tz="UTC")), "s": ["b", "a"]})
    want = pa.table({"s": pa.array(["a", "b"], pa.large_string()),
                     "ts": pa.array([0, 1], pa.timestamp("us"))})
    assert checks.arrow_match(got, want) is None


# --- seeded inputs ---------------------------------------------------------


@pytest.fixture(scope="module")
def tables():
    return data.build_tables()


def test_tables_have_the_stated_shape(tables):
    assert {name: t.num_rows for name, t in tables.items()} == data.ROWS
    texts = tables["documents"].column("text").to_pylist()
    n_dup = round(data.ROWS["documents"] * data.DOC_DUP_SHARE)
    assert sum(t.endswith(" dup") for t in texts) == n_dup
    assert data.build_tables()["documents"].equals(tables["documents"])


def test_inputs_follow_the_seed(tables):
    docs = tables["documents"]
    a, b = data.derive_corpus(docs, 3), data.derive_corpus(docs, 3)
    assert a.equals(b) and not a.equals(data.derive_corpus(docs, 4))
    n_base = data.CORPUS_BASE_DOCS
    n_copies = round(n_base * data.EXACT_DUP_SHARE) + round(n_base * data.NEAR_DUP_SHARE)
    assert a.num_rows == n_base + n_copies
    texts = a.column("text").to_pylist()
    assert len(set(texts)) == len(set(texts[:n_base])) + round(n_base * data.NEAR_DUP_SHARE)
    rng = np.random.default_rng
    assert workloads.sql_cycle(rng(5)) == workloads.sql_cycle(rng(5))


@pytest.mark.parametrize("seed", range(1, 21))
def test_cycle_holds_the_same_mix_whatever_the_seed(seed):
    cycle = workloads.sql_cycle(np.random.default_rng(seed))
    counts = Counter(st.template for st in cycle)
    exports = {st.template for st in cycle if st.export}
    assert len(exports) == len(workloads.EXPORTS) == sum(st.export for st in cycle)
    assert len(counts) == len(workloads.INTERACTIVE) + len(workloads.EXPORTS)
    for template, n in counts.items():
        want = 1 if template in exports else workloads.ROUNDS + (template in workloads.REPEATED)
        assert n == want, template
    texts = [(st.sql, repr(st.params)) for st in cycle]
    assert len(texts) - len(set(texts)) >= len(workloads.REPEATED)


def test_warm_up_sends_every_template_once_and_the_arrow_export():
    warm = workloads.warm_up(np.random.default_rng([7, 1]))
    counts = Counter(st.template for st in warm if not st.export)
    assert len(counts) == len(workloads.INTERACTIVE) and set(counts.values()) == {1}
    assert [st.fetch for st in warm if st.export] == ["arrow"]


def test_benchmark_json_lists_exactly_the_measured_metrics():
    out = run.Outcome(ops=[run.Op("o", "t", 1.0)], ops_per_s=1.0, rows_per_s=1.0,
                      cpu_py_s=1.0, cpu_jvm_s=1.0)
    spans = [trace.Span(1, None, "o", "cursor.execute", 0, 10**9)]
    layers = run.with_units(run.per_layer(out, spans, 1.0), "per_layer")
    assert layers["trace.span_cover_min"] == {"value": 1.0, "unit": "ratio"}
    assert set(run.with_units(run.end_to_end(out, 1.0), "end_to_end")) == {
        "setup_s", "latency_p50_s", "ops_per_s", "rows_per_s", "cpu_s_per_op"}
