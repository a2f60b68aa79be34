"""End-to-end benchmark of the opteryx_spark engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload sql_mixed --seed 1 --seconds 5 --trace 0

Builds its inputs under ``.perfbench/`` from the seed, sets up the engine
(session, ``opteryx_spark.connect()``, table registration), runs the
workload's closed loop (``sql_mixed``: whole cycles until ``--seconds`` of
measured time; ``curate_batch``: one batch of fixed size), checks every
output outside the timed region, and prints one JSON object as the last
line of stdout.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
records spans around the engine's layers and reports the per-layer
metrics.  ``BENCHMARK.json`` names the metrics; ``README.md`` says what
each per-layer metric should move.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import measure  # noqa: E402

WORKLOADS = ("sql_mixed", "curate_batch")
THREAD_TIMEOUT_S = 150


@dataclass
class Op:
    op_id: str
    kind: str  # statement template or pipeline name
    latency_s: float
    rows: int = 0
    error: str | None = None
    counters: dict = field(default_factory=dict)  # CPU deltas; Spark counters when traced


@dataclass
class Outcome:
    ops: list[Op]
    ops_per_s: float
    rows_per_s: float
    cpu_py_s: float
    cpu_jvm_s: float
    notes: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)  # workload-specific per-layer values


@dataclass
class Bench:
    args: argparse.Namespace
    tracer: object
    spark: object
    conn: object
    jvm_pid: int
    tables: Path
    run_dir: Path
    duck: object

    def cpu(self) -> tuple[float, float]:
        return measure.cpu_seconds(), measure.cpu_seconds(self.jvm_pid)


def describe(exc: BaseException) -> str:
    first = (str(exc).strip().splitlines() or [""])[0]
    return f"{type(exc).__name__}: {first[:300]}"


def checked(check) -> str | None:
    """Run an output check, which returns None or what is wrong with the
    output.  A check that raises fails the operation as well."""
    try:
        return check()
    except Exception as exc:  # e.g. the oracle errs or the rows do not sort
        return f"check failed: {describe(exc)}"


# --------------------------------------------------------------------------
# sql_mixed


def _sql_op(b: Bench, st, op_id: str, check: bool = True) -> Op:
    from perfbench import engine

    span = b.tracer.span
    b.spark.sparkContext.setJobGroup(op_id, st.template, False)
    py0, jvm0 = b.cpu()
    result, error, cur = None, None, None
    with b.tracer.op(op_id):
        t0 = time.perf_counter()
        try:
            cur = b.conn.cursor()
            with span("cursor.execute"):
                cur.execute(st.sql, st.params)
            with span("cursor.fetch"):
                result = cur.fetchall() if st.fetch == "fetchall" else cur.arrow()
        except Exception as exc:  # a failed statement is a finding, not a crash
            error = describe(exc)
        latency = time.perf_counter() - t0
    py1, jvm1 = b.cpu()
    op = Op(op_id, st.template, latency, counters={"py": py1 - py0, "jvm": jvm1 - jvm0})
    if result is not None:
        op.rows = len(result) if isinstance(result, list) else result.num_rows
        if check:
            op.error = checked(lambda: _check_sql(b, st, result))
    else:
        op.error = error
    if b.args.trace and cur is not None and cur._df is not None:
        op.counters.update(engine.phase_ms(cur._df))
        engine.drain_listener(b.spark)
        op.counters.update(engine.group_stats(b.spark, op_id))
    return op


def _check_sql(b: Bench, st, result) -> str | None:
    from perfbench import checks

    if st.expected is not None:
        mismatch = checks.rows_match(result, st.expected, st.ordered)
    else:
        res = b.duck.execute(st.oracle or st.sql)
        if st.fetch == "arrow":
            mismatch = checks.arrow_match(result, res.arrow())
        elif st.export:
            mismatch = checks.exact_rows_match(result, res.fetchall())
        else:
            mismatch = checks.rows_match(result, res.fetchall(), st.ordered)
    return mismatch and f"wrong result: {mismatch}"


def run_sql(b: Bench) -> Outcome:
    import numpy as np

    from perfbench import workloads

    # Warm-up, unmeasured and unchecked, with parameters from a separate
    # stream so the measured texts are unseen.
    for i, st in enumerate(workloads.warm_up(np.random.default_rng([b.args.seed, 1]))):
        _sql_op(b, st, f"warm-{i}", check=False)
    rng = np.random.default_rng(b.args.seed)
    ops: list[Op] = []
    sent = []
    busy = 0.0
    while busy < b.args.seconds:
        for st in workloads.sql_cycle(rng):
            op = _sql_op(b, st, f"sql-{len(ops)}")
            ops.append(op)
            sent.append(st)
            busy += op.latency_s
    texts = {repr((st.sql, st.params)) for st in sent}
    rows = sum(op.rows for op in ops)
    exports = [op for op, st in zip(ops, sent) if st.export]
    return Outcome(
        ops=ops,
        ops_per_s=len(ops) / busy,
        rows_per_s=sum(op.rows for op in exports) / sum(op.latency_s for op in exports),
        cpu_py_s=sum(op.counters["py"] for op in ops),
        cpu_jvm_s=sum(op.counters["jvm"] for op in ops),
        notes={"measured_s": busy, "repeat_share": 1 - len(texts) / len(sent)},
        layers={"cursor.rows_fetched": rows / len(ops)},
    )


# --------------------------------------------------------------------------
# curate_batch


def _read_rows(path: Path) -> list[tuple]:
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    return list(zip(*(col.to_pylist() for col in table.columns)))


def run_curate(b: Bench) -> Outcome:
    import pyarrow.parquet as pq

    from opteryx_spark.catalog import load_table
    from opteryx_spark.operators import dedup
    from perfbench import checks, data, engine, workloads

    corpus = data.derive_corpus(pq.read_table(b.tables / "documents.parquet"), b.args.seed)
    corpus_dir = b.run_dir / "corpus"
    corpus_dir.mkdir(parents=True)
    pq.write_table(corpus, corpus_dir / "documents.parquet")
    docs = load_table(b.spark, str(corpus_dir), "documents")
    pipes = workloads.Pipelines(b.spark, docs, b.tracer.span)
    n = workloads.CURATE_THREADS
    k = len(workloads.PIPELINES)

    def pipeline(thread: int, step: int) -> str:
        return workloads.PIPELINES[(thread + step) % k]

    # The single-threaded reference run of each pipeline, unmeasured, comes
    # first: it is what every concurrent result is checked against, and it
    # warms the JVM and the code generator, so the measured batch is what a
    # long-lived curation service sees.
    check0 = time.perf_counter()
    ref_dir = b.run_dir / "reference"
    ref_error: dict[str, str] = {}
    for name in workloads.PIPELINES:
        try:
            pipes.run(name, str(ref_dir / name))
        except Exception as exc:  # every run of this pipeline then fails its check
            ref_error[name] = f"single-threaded run failed: {describe(exc)}"
    dedup.release_text_group_caches()  # no pipeline thread is running
    check_s = time.perf_counter() - check0

    per_thread: list[list[Op]] = [[] for _ in range(n)]
    busy = [0.0] * n
    live = {"max": 0, "cached_mb_max": 0.0}
    live_lock = threading.Lock()
    start = threading.Barrier(n)
    out_dir = b.run_dir / "out"

    crashed: list[BaseException] = []

    def worker(i: int) -> None:
        try:
            start.wait()
            loop(i)
        except BaseException as exc:  # re-raised on the main thread below
            crashed.append(exc)
            start.abort()

    def loop(i: int) -> None:
        for step in range(workloads.CURATE_STEPS):
            name = pipeline(i, step)
            op_id = f"t{i}-{step}-{name}"
            b.spark.sparkContext.setJobGroup(op_id, name, False)
            op = Op(op_id, name, 0.0)
            with b.tracer.op(op_id):
                t0 = time.perf_counter()
                try:
                    pipes.run(name, str(out_dir / op_id))
                except Exception as exc:  # recorded as a failed operation
                    op.error = describe(exc)
                op.latency_s = time.perf_counter() - t0
            busy[i] += op.latency_s
            if b.args.trace:
                engine.drain_listener(b.spark)
                op.counters.update(engine.group_stats(b.spark, op_id))
                count, cached = engine.persisted(b.spark)
                with live_lock:
                    live["max"] = max(live["max"], count)
                    live["cached_mb_max"] = max(live["cached_mb_max"], cached)
            per_thread[i].append(op)

    threads = [threading.Thread(target=worker, args=(i,), daemon=True) for i in range(n)]
    py0, jvm0 = b.cpu()
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=THREAD_TIMEOUT_S)
    py1, jvm1 = b.cpu()
    if any(t.is_alive() for t in threads):
        raise RuntimeError(f"curate_batch threads still running after {THREAD_TIMEOUT_S}s")
    if crashed:
        raise crashed[0]
    live_end = engine.persisted(b.spark)[0]
    dedup.release_text_group_caches()  # every pipeline thread has joined

    # Output checks, unmeasured: every concurrent result must equal the
    # single-threaded run of its pipeline, which itself must equal the
    # suite's DuckDB oracle for that pipeline.
    check0 = time.perf_counter()
    b.duck.execute(
        "CREATE OR REPLACE VIEW documents AS SELECT * FROM "
        f"read_parquet('{corpus_dir / 'documents.parquet'}')"
    )
    reference, oracle_error = {}, dict(ref_error)

    def against_oracle(name: str) -> str | None:
        reference[name] = _read_rows(ref_dir / name)
        suite_entry, reduce_sql = workloads.ORACLES[name]
        want = b.duck.execute(workloads.oracle_sql(suite_entry)).fetchall()
        got = b.duck.execute(reduce_sql.format(out=ref_dir / name)).fetchall()
        mismatch = checks.rows_match(got, want, ordered=False)
        return mismatch and f"differs from DuckDB oracle {suite_entry}: {mismatch}"

    for name in workloads.PIPELINES:
        if name not in ref_error:
            error = checked(lambda: against_oracle(name))
            if error:
                oracle_error[name] = f"single-threaded run: {error}"
    rows_by_thread = [0] * n
    for i, thread_ops in enumerate(per_thread):
        for op in thread_ops:
            if op.error is not None:
                continue
            if op.kind in oracle_error:
                op.error = oracle_error[op.kind]
                continue

            def against_reference(op=op) -> str | None:
                got = _read_rows(out_dir / op.op_id)
                op.rows = len(got)
                mismatch = checks.rows_match(got, reference[op.kind], ordered=False)
                return mismatch and f"differs from the single-threaded run: {mismatch}"

            op.error = checked(against_reference)
            rows_by_thread[i] += op.rows
    ops_per_s = sum(len(per_thread[i]) / busy[i] for i in range(n))
    return Outcome(
        ops=[op for thread_ops in per_thread for op in thread_ops],
        ops_per_s=ops_per_s,
        rows_per_s=sum(rows_by_thread[i] / busy[i] for i in range(n)),
        cpu_py_s=py1 - py0,
        cpu_jvm_s=jvm1 - jvm0,
        notes={
            "corpus_docs": corpus.num_rows,
            "docs_per_s": ops_per_s * corpus.num_rows,
            "check_s": check_s + time.perf_counter() - check0,
        },
        layers={
            "dedup.persisted_live_max": float(max(live["max"], live_end)),
            "dedup.persisted_live_end": float(live_end),
            "dedup.cached_mb_max": live["cached_mb_max"],
        },
    )


# --------------------------------------------------------------------------
# reporting


def with_units(values: dict[str, float], section: str) -> dict:
    """Attach each metric's unit from BENCHMARK.json, which must list exactly
    the metrics measured."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())[section]
    units = {m["name"]: m["unit"] for m in spec}
    if set(units) != set(values):
        raise RuntimeError(f"{section} in BENCHMARK.json differs from the measured "
                           f"metrics: {sorted(set(units) ^ set(values))}")
    return {name: {"value": values[name], "unit": units[name]} for name in units}


def end_to_end(out: Outcome, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "latency_p50_s": measure.median([op.latency_s for op in out.ops]),
        "ops_per_s": out.ops_per_s,
        "rows_per_s": out.rows_per_s,
        "cpu_s_per_op": (out.cpu_py_s + out.cpu_jvm_s) / len(out.ops),
    }


SETUP_LAYERS = {  # per-layer metric -> span, seconds of set-up
    "session.boot_s": "session.boot",
    "cursor.connect_s": "cursor.connect",
    "virtual.register_s": "virtual.register",
    "functions.register_s": "functions.register",
    "catalog.register_s": "catalog.register",
}
OP_LAYERS = {  # per-layer metric -> (span, scale from ns), mean self time per op
    "cursor.execute_ms": ("cursor.execute", 1e-6),
    "rewriter.rewrite_ms": ("rewriter.rewrite", 1e-6),
    "cursor.fetch_ms": ("cursor.fetch", 1e-6),
    "operators.build_ms": ("operators.build", 1e-6),
    "operators.write_s": ("operators.write", 1e-9),
}
COUNTERS = {  # per-layer metric -> Spark counter, mean per op
    "session.analysis_ms": "analysis",
    "session.optimization_ms": "optimization",
    "session.planning_ms": "planning",
    "session.jobs_per_op": "jobs",
    "session.stages_per_op": "stages",
    "session.tasks_per_op": "tasks",
    "session.task_run_s": "run_s",
    "session.task_cpu_s": "cpu_s",
    "session.input_mb": "input_mb",
    "session.shuffle_write_mb": "shuffle_write_mb",
    "session.shuffle_read_mb": "shuffle_read_mb",
    "session.spill_mb": "spill_mb",
    "session.output_mb": "output_mb",
}
# measured by the workload itself; 0 where its layer does no work
WORKLOAD_LAYERS = (
    "cursor.rows_fetched",
    "dedup.persisted_live_max",
    "dedup.persisted_live_end",
    "dedup.cached_mb_max",
)


def per_layer(out: Outcome, spans, rss_mb: float) -> dict[str, float]:
    from perfbench import trace

    n = len(out.ops)
    layers = trace.layer_self_ns(spans)
    values: dict[str, float] = {}
    for name, layer in SETUP_LAYERS.items():
        values[name] = layers.get(layer, {}).get("setup", 0) / 1e9
    for name, (layer, scale) in OP_LAYERS.items():
        per_op = layers.get(layer, {})
        values[name] = sum(per_op.get(op.op_id, 0) for op in out.ops) * scale / n
    for name, key in COUNTERS.items():
        values[name] = sum(op.counters.get(key, 0.0) for op in out.ops) / n
    values["session.failed_tasks"] = float(sum(op.counters.get("failed_tasks", 0) for op in out.ops))
    values["proc.python_cpu_s_per_op"] = out.cpu_py_s / n
    values["proc.jvm_cpu_s_per_op"] = out.cpu_jvm_s / n
    values["proc.peak_rss_mb"] = rss_mb
    for name in WORKLOAD_LAYERS:
        values[name] = out.layers.get(name, 0.0)
    cover = [trace.top_level_cover_ns(spans, op.op_id) / 1e9 / op.latency_s for op in out.ops]
    values["trace.span_cover_min"] = min(cover)
    values["trace.latency_p50_s"] = measure.median([op.latency_s for op in out.ops])
    return values


def result(out: Outcome, metrics: dict) -> dict:
    """The result line: a failed operation or a wrong output counts as failed."""
    failed = sum(1 for op in out.ops if op.error)
    return {"correct": failed == 0, "attempted": len(out.ops), "failed": failed,
            "metrics": metrics}


def summary(args, out: Outcome, setup_s: float) -> str:
    lat = [op.latency_s for op in out.ops]
    n = len(lat)
    p90 = (
        f"latency_p90_s={measure.percentile(lat, 0.9):.4f}"
        if measure.reportable(n, 0.9)
        else f"latency_p90_s withheld ({measure.samples_beyond(n, 0.9)} samples beyond p90,"
        f" {measure.MIN_BEYOND} needed)"
    )
    failed = [op for op in out.ops if op.error]
    lines = [
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}: samples={n}"
        f" setup_s={setup_s:.3f} latency_p50_s={measure.median(lat):.4f} {p90}"
        f" ops_per_s={out.ops_per_s:.4f} rows_per_s={out.rows_per_s:.1f}"
        f" error_rate={len(failed) / n:.4f}"
        + "".join(f" {k}={v:.4g}" for k, v in out.notes.items()),
        f"output checks: {n - len(failed)} of {n} operations correct",
    ]
    by_kind: dict[str, list[float]] = {}
    for op in out.ops:
        by_kind.setdefault(op.kind, []).append(op.latency_s)
    lines.append("median latency by kind (s): " + " ".join(
        f"{k}={measure.median(v):.3f}" for k, v in sorted(by_kind.items())))
    lines += [f"  FAILED {op.op_id} ({op.kind}): {op.error}" for op in failed]
    return "\n".join(lines)


# --------------------------------------------------------------------------


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(run_dir: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    for sub in ("spark-local", "tmp"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def _duck(run_dir: Path, tables: Path):
    import duckdb

    con = duckdb.connect(config={
        "autoinstall_known_extensions": False,
        "threads": len(os.sched_getaffinity(0)),
        "temp_directory": str(run_dir / "duckdb"),
    })
    for path in sorted(tables.glob("*.parquet")):
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM read_parquet('{path}')")
    return con


def main(argv=None) -> int:
    launched = time.perf_counter() - measure.process_age_s()
    args = parse_args(argv)
    if importlib.util.find_spec("opteryx_spark") is None:
        print(f"perfbench: no opteryx_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench import data, engine, trace

    work = ROOT / ".perfbench"
    run_dir = work / f"run-{os.getpid()}"
    _environment(run_dir)
    gen0 = time.perf_counter()
    tables = data.ensure_tables(work / "data")
    generate_s = time.perf_counter() - gen0

    tracer = trace.Tracer(bool(args.trace))
    spark = None
    try:
        import opteryx_spark
        from opteryx_spark import catalog, cursor, functions, rewriter, session

        tracer.wrap(rewriter, "rewrite", "rewriter.rewrite")
        tracer.wrap(cursor, "register_virtual_datasets", "virtual.register")
        tracer.wrap(functions, "register_sql_functions", "functions.register")
        with tracer.op("setup"):
            with tracer.span("session.boot"):
                spark = session.get_session()
            with tracer.span("cursor.connect"):
                conn = opteryx_spark.connect()
            with tracer.span("catalog.register"):
                catalog.register_sf_dir(spark, str(tables))
        setup_s = time.perf_counter() - launched - generate_s

        b = Bench(args, tracer, spark, conn, engine.jvm_pid(spark), tables, run_dir,
                  _duck(run_dir, tables))
        out = run_sql(b) if args.workload == "sql_mixed" else run_curate(b)
        rss_mb = measure.peak_rss_mb() + measure.peak_rss_mb(b.jvm_pid)
        b.duck.close()
    finally:
        tracer.unwrap_all()
        if spark is not None:
            engine.shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        spans_path = work / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
        spans_path.parent.mkdir(parents=True, exist_ok=True)
        with open(spans_path, "w") as f:
            for s in tracer.spans:
                f.write(json.dumps(s.__dict__) + "\n")
        metrics = with_units(per_layer(out, tracer.spans, rss_mb), "per_layer")
    else:
        metrics = with_units(end_to_end(out, setup_s), "end_to_end")
    print(summary(args, out, setup_s))
    print(json.dumps(result(out, metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
