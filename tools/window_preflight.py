"""Pre-flight the driver's correctness window locally.

Takes the entry order from ``opteryx_spark.suite.load_all``
(oracle entries sorted by md5(``_ROTATION_SALT`` + name), then the
rows-only ones), then runs the oracle entries among the first
``--limit`` through the harness-equivalent compare (``tests/_compare.py``
— rows + schema + exact values + pandas-dtype lint) at ``--sf``, and
warns when the window's annotated oracle cost passes its budget.  A
clean run here predicts a green correctness window.

Usage:
    python tools/window_preflight.py                 # full 50-slot window, sf0.01
    python tools/window_preflight.py --limit 10      # just the window head
    python tools/window_preflight.py --only ts_acf_daily quality_fk_audit
    python tools/window_preflight.py --heavy         # heaviest entries at sf0.1

``--heavy`` (VERDICT r7 #4) re-runs the most expensive oracle entries at
sf0.1 instead of sf0.01: every cross-engine divergence found so far
(NULLS placement, HUGEINT promotion) surfaced only when conditions
changed, and the standard compare never leaves sf0.01 — this is the
opt-in larger-scale pass.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# The most expensive oracle-bearing entries by sf0.1 bench/pytest cost —
# the --heavy set (kept ~a dozen; update as the bench's top lines move).
HEAVY_ENTRIES = [
    "dedup_fuzzy_keepers",
    "emb_kmeans_portable",
    "dedup_minhash_incremental",
    "events_sessionize",
    "curate_incremental",
    "emb_ann_pq_indexed",
    "emb_ann_sq8_indexed",
    "curate_pipeline_v3",
    "text_bm25_search_index",
    "dedup_bloom_prefilter",
    "events_point_in_time_state",
    "text_bpe_encode",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--limit", type=int, default=50, help="window size to check")
    ap.add_argument("--only", nargs="*", help="check just these entries instead")
    ap.add_argument("--heavy", action="store_true",
                    help="run the heaviest oracle entries at sf0.1 (larger-scale compare)")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    args = ap.parse_args()
    if args.heavy:
        args.only = list(HEAVY_ENTRIES)
        if args.sf == "/root/testdata/sf0.01":
            args.sf = "/root/testdata/sf0.1"

    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    sys.path.insert(0, REPO)
    sys.path.insert(0, os.path.join(REPO, "tests"))

    import duckdb

    from _compare import compare  # tests/_compare.py
    from opteryx_spark.session import get_session
    from opteryx_spark.suite import load_all

    qs = load_all()
    if args.only:
        missing = [n for n in args.only if n not in qs]
        if missing:
            print(f"unknown entries: {missing}")
            return 2
        names = list(args.only)
    else:
        names = [n for n in list(qs)[: args.limit] if qs[n].oracle]

    # oracle-cost budget (VERDICT r8 #7): surface the window's total
    # annotated DuckDB-side cost so composition never schedules two
    # ~750 s oracles into one driver window unnoticed
    total_cost = sum(qs[n].oracle_cost_s for n in names)
    heavy = [(n, qs[n].oracle_cost_s) for n in names if qs[n].oracle_cost_s >= 120.0]
    if heavy:
        print(
            f"WARNING: window contains {len(heavy)} expensive oracle(s): "
            + ", ".join(f"{n} (~{c:.0f}s)" for n, c in heavy)
        )
    if total_cost > 1200.0:
        print(
            f"WARNING: window's annotated oracle cost ~{total_cost:.0f}s "
            f"exceeds the 1200s budget — recompose before the driver runs"
        )

    spark = get_session(shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(args.sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    fails = 0
    for i, n in enumerate(names, 1):
        qd = qs[n]
        t0 = time.time()
        try:
            compare(qd.spark(spark, args.sf), con, qd.oracle, n)
            print(f"PASS {i:3d}/{len(names)} {n} {time.time() - t0:.1f}s", flush=True)
        except Exception as e:  # report every failure, keep going
            fails += 1
            print(f"FAIL {i:3d}/{len(names)} {n}: {type(e).__name__}: {str(e)[:400]}", flush=True)
            traceback.print_exc()
    print(f"DONE {len(names) - fails}/{len(names)} pass")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
