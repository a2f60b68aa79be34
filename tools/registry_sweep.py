"""Time EVERY registry entry once at the given SF dir (default sf0.1).

The fixed bench sets plus the 15-entry spotlight leave most of the
registry untimed in any given round; this sweep is the pathology net
that caught `emb_lsh_near_dup_pairs` (13.5 s) and
`window_value_functions` (111 s) in r11.  Single cold runs — treat the
output as a triage list, then re-measure candidates steady-state.

Usage: python tools/registry_sweep.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from opteryx_spark.cache import cache_scope
    from opteryx_spark.session import get_session
    from opteryx_spark.suite import load_all

    spark = get_session(app_name="registry-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    reg["tpch_q6_forecast_revenue"].spark(spark, sf).collect()  # warm boot
    out = []
    for name in sorted(reg):
        try:
            spark.sparkContext.setJobDescription(f"sweep: {name}")
            t0 = time.perf_counter()
            with cache_scope():
                n = len(reg[name].spark(spark, sf).collect())
                dt = time.perf_counter() - t0
            out.append((dt, name, n))
            print(f"{dt:7.2f}s {name} rows={n}", flush=True)
        except Exception as exc:  # noqa: BLE001 — sweep the rest regardless
            print(f"   FAIL {name}: {str(exc)[:120]}", flush=True)
    print("== top 25 ==")
    for dt, name, n in sorted(out, reverse=True)[:25]:
        print(f"{dt:7.2f}s {name} rows={n}")
    spark.stop()


if __name__ == "__main__":
    main()
