"""Readings taken from the running Spark application over py4j.

Per-operation counters come from Spark's status tracker and status store,
keyed by the job group the benchmark gives each operation; Catalyst phase
times come from the query tracker of the statement's own DataFrame.
"""

from __future__ import annotations

import subprocess

PHASES = ("analysis", "optimization", "planning")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def phase_ms(df) -> dict[str, float]:
    """Catalyst phase durations (ms) recorded for ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in PHASES:
        found = phases.get(name)
        out[name] = float(found.get().durationMs()) if found.isDefined() else 0.0
    return out


def drain_listener(spark) -> None:
    """Wait until the status store has seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and executor metrics of one job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    empty = sc._jvm.java.util.ArrayList()
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "input_mb",
         "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "output_mb"),
        0.0,
    )
    job_ids = list(tracker.getJobIdsForGroup(group))
    out["jobs"] = float(len(job_ids))
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    mb = 1024.0 * 1024.0
    for sid in stage_ids:
        attempts = store.stageData(sid, False, empty, False, no_quantiles)
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["input_mb"] += sd.inputBytes() / mb
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / mb
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / mb
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / mb
            out["output_mb"] += sd.outputBytes() / mb
    return out


def persisted(spark) -> tuple[int, float]:
    """(persisted RDD count, MiB they hold in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    cached = sum(r.memSize() + r.diskSize() for r in infos) / (1024.0 * 1024.0)
    return int(jsc.getPersistentRDDs().size()), cached


def shutdown(spark) -> None:
    """Stop the session, then end the JVM process and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
