"""Sweep every registered query's physical plan for scale red flags.

For each queries() entry: build the DataFrame, capture the executed-plan
string, and record operator counts that matter at 100 TB (guide §7.2):
Exchange count, join strategies, Python-boundary nodes, sort aggregates,
cartesian products, codegen coverage.  One JSON line per query.

Usage: python tools/plan_scan.py [--sf DIR] [--out FILE] [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FLAGS = {
    "exchanges": "Exchange ",
    "broadcast_exchanges": "BroadcastExchange",
    "sort_merge_joins": "SortMergeJoin",
    "shuffled_hash_joins": "ShuffledHashJoin",
    "broadcast_hash_joins": "BroadcastHashJoin",
    "nested_loop_joins": "NestedLoopJoin",
    "cartesian": "CartesianProduct",
    "batch_eval_python": "BatchEvalPython",
    "arrow_eval_python": "ArrowEvalPython",
    "map_in_pandas": "MapInPandas",
    "python_udtf": "PythonUDTF",
    "sort_aggregates": "SortAggregate",
    "object_hash_aggregates": "ObjectHashAggregate",
    "hash_aggregates": "HashAggregate",
    "windows": "Window [",
    "window_group_limits": "WindowGroupLimit",
    "sorts": "Sort [",
    "generates": "Generate ",
    "in_memory_scans": "InMemoryTableScan",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/plan_scan.jsonl")
    args = ap.parse_args()

    from greengage_spark.plans.registry import all_queries
    from greengage_spark.session import get_spark

    spark = get_spark("plan-scan")
    qs = all_queries()
    names = args.names or list(qs)
    out = open(args.out, "w")
    for i, name in enumerate(names):
        rec: dict = {"name": name}
        t0 = time.time()
        try:
            df = qs[name].fn(spark, args.sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rec["plan_chars"] = len(plan)
            for key, pat in FLAGS.items():
                n = plan.count(pat)
                if n:
                    rec[key] = n
            # whole-stage codegen coverage: any '*(n)' span present?
            rec["codegen"] = "*(1)" in plan
        except Exception as e:  # noqa: BLE001
            rec["error"] = f"{type(e).__name__}: {e}"[:200]
        rec["build_sec"] = round(time.time() - t0, 2)
        out.write(json.dumps(rec) + "\n")
        out.flush()
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        if i % 25 == 24:
            spark._jvm.System.gc()
            print(f"...{i + 1}/{len(names)}", file=sys.stderr, flush=True)
    out.close()
    print(args.out)


if __name__ == "__main__":
    main()
