"""Isolated per-query measurement + plan capture (guide §1).

For each named query: capture .explain("formatted") to
plans/r14/<name>_<tag>.txt, then time best-of-N executions with the noop
sink (computes every column, discards output) and with .collect() (the
bench's historical action), clearing the Spark cache between runs so no
invocation reuses a previous one's persisted intermediates.

Usage:
  python tools/perf_probe.py [--tag before] [--runs 3] [--action both]
                             [--sf /root/testdata/sf0.1] [name ...]
Prints one JSON line per query:
  {"name": ..., "noop_best": s, "collect_best": s, "runs": [...]}
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_revenue_forecast", "q9_product_profit", "q13_customer_distribution",
    "q18_large_volume_customer", "q21_waiting_supplier",
    "dedup_exact", "dedup_minhash_lsh", "dedup_substring_spans",
    "similarity_bruteforce_topk", "similarity_ivf_topk",
    "similarity_lsh_topk", "text_quality_metrics",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", default=None)
    ap.add_argument("--tag", default=None, help="capture plan to plans/<round>/<name>_<tag>.txt")
    ap.add_argument("--round", default="r15", help="plans/<round>/ output dir")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--action", choices=["noop", "collect", "both"], default="noop")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    names = args.names or HEADLINE

    from greengage_spark.plans.registry import all_queries
    from greengage_spark.session import get_spark

    spark = get_spark("perf-probe")
    qs = all_queries()
    out = []
    for name in names:
        if name not in qs:
            print(f"## unknown query: {name}", file=sys.stderr)
            continue
        fn = qs[name].fn
        # plan capture (before any warmup so AQE shows the initial plan)
        if args.tag:
            plan_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", args.round)
            os.makedirs(plan_dir, exist_ok=True)
            df = fn(spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(f"{plan_dir}/{name}_{args.tag}.txt", "w") as f:
                f.write(buf.getvalue())
            spark.catalog.clearCache()
        rec: dict = {"name": name}
        for action in ("noop", "collect"):
            if args.action not in (action, "both") or args.runs <= 0:
                continue
            times = []
            for i in range(args.runs + 1):  # +1 warmup
                spark.sparkContext.setJobDescription(f"{name}:{action}:{i}")
                t0 = time.time()
                df = fn(spark, args.sf)
                if action == "noop":
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.collect()
                dt = time.time() - t0
                spark.catalog.clearCache()
                spark._jvm.System.gc()  # reclaim outside the timed window
                if i > 0:  # skip warmup run
                    times.append(round(dt, 3))
            rec[f"{action}_best"] = min(times)
            rec[f"{action}_runs"] = times
        out.append(rec)
        print(json.dumps(rec), flush=True)
    total = sum(r.get("noop_best") or r.get("collect_best") or 0 for r in out)
    print(json.dumps({"total_best": round(total, 3), "n": len(out)}))


if __name__ == "__main__":
    main()
