"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

value = total wall-clock of the headline set (each query fully materialized
via a count-collecting action).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_revenue_forecast",
    "q9_product_profit",
    "q13_customer_distribution",
    "q18_large_volume_customer",
    "q21_waiting_supplier",
]

# Frozen r6-r8 membership: "value_14q" sums exactly these so round-over-round
# deltas stay one-variable even as new bench-tagged queries join the headline
# set (r9 added dedup_substring_spans, making raw "value" non-comparable).
STABLE_14Q = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_revenue_forecast",
    "q9_product_profit",
    "q13_customer_distribution",
    "q18_large_volume_customer",
    "q21_waiting_supplier",
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_bruteforce_topk",
    "similarity_ivf_topk",
    "similarity_lsh_topk",
    "text_quality_metrics",
]


def main() -> None:
    import re

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m.group(1)) if m else 0.1

    from greengage_spark.session import get_spark
    from greengage_spark.plans.registry import all_queries

    spark = get_spark("greengage-bench")
    qs = all_queries()
    names = [n for n in HEADLINE if n in qs] + [
        n for n, q in qs.items() if "bench" in q.tags and n not in HEADLINE
    ]

    # Warm-up: read schemas/footers once (catalog role), then one throwaway
    # execution per query to trigger whole-stage codegen + JVM JIT.  The
    # measured pass is steady-state throughput of a long-lived session,
    # not first-query compile latency.
    #
    # r14 methodology fix (declared in OPTIMIZATION_r14.md): rounds 1-13
    # additionally persist()ed every base table here, and never cleared
    # query-internal persists, so timed invocations were partly served from
    # the CacheManager instead of computing from parquet.  Now every
    # execution (warm-up and timed) is followed by clearCache(), so each
    # timed invocation computes from the parquet inputs.
    from greengage_spark.catalog import shared_catalog

    def _between_queries() -> None:
        """Housekeeping OUTSIDE the timed window: drop query-persisted
        intermediates (every timed invocation must recompute from
        parquet) and trigger the ContextCleaner via an explicit GC.
        Without the GC, broadcasts/shuffle state from dozens of
        invocations accumulate until a full GC lands INSIDE a later
        timed query (observed: isolated 7-20 s stalls on ~1 s queries);
        forcing collection at query boundaries keeps reclamation out of
        the measurements."""
        spark.catalog.clearCache()
        spark._jvm.System.gc()

    shared_catalog(spark, sf_dir).warm()
    for name in names:
        qs[name].fn(spark, sf_dir).collect()
        _between_queries()

    # Five timed passes, best-of per query: a single pass is noise-bound on
    # a shared 32-thread box (GC pauses, neighbor JVM teardown); the minimum
    # is the steady-state number the plan actually costs.  (Observed: on a
    # loaded box best-of-3 totals swing ~8% on unchanged code; best-of-5
    # halves that.)
    # SPARK_GRAFT_BENCH_PASSES overrides for big local fixtures (sf1 runs
    # long enough per pass that 3 passes already beat sf0.1's 5 on noise)
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "5"))
    loadavg_before = os.getloadavg()

    # Box-speed calibration probe: a fixed CPU workload (seeded 1024^2
    # float64 matmul) and a fixed Spark workload (count over a cached
    # 10M-row range), both best-of-3 wall-clock.  Cross-session box-speed
    # swings of ~40% have been observed on unchanged code; dividing a
    # query timing by (calibration / its historical value) normalizes
    # artifacts against each other without rerunning old commits (the
    # normalization rule is documented in SCALE.md).
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.random((1024, 1024))
    b = rng.random((1024, 1024))
    numpy_ms = min(
        (lambda t0: ((a @ b).sum(), (time.time() - t0) * 1000)[1])(time.time())
        for _ in range(3)
    )
    cal_df = spark.range(10_000_000).cache()
    cal_df.count()  # materialize the cache outside the timed window
    spark_ms = min(
        (lambda t0: (cal_df.count(), (time.time() - t0) * 1000)[1])(time.time())
        for _ in range(3)
    )
    cal_df.unpersist()
    calibration = {
        "numpy_matmul_ms": round(numpy_ms, 1),
        "spark_count_ms": round(spark_ms, 1),
    }
    timings: dict[str, float] = {}
    pass_totals: list[float] = []
    pass_calibs: list[float] = []
    for _ in range(passes):
        # per-pass box-speed sample: the box's speed can swing 5-50x
        # MID-RUN (observed calib 10 -> 492 ms between passes), so one
        # pre-run calibration cannot adjudicate a slow artifact alone.
        t0 = time.time()
        (a @ b).sum()
        pass_calibs.append(round((time.time() - t0) * 1000, 1))
        # r15 (ADVICE r14): pass totals accumulate per-query elapsed
        # only — the clearCache+GC housekeeping between queries runs
        # outside every timed window, so pass totals are comparable to
        # the sum of per-query timings (and to pre-r14 pass totals).
        pass_total = 0.0
        for name in names:
            spark.sparkContext.setJobDescription(f"bench:{name}")
            t0 = time.time()
            df = qs[name].fn(spark, sf_dir)
            df.collect()
            elapsed = round(time.time() - t0, 3)
            pass_total += elapsed
            _between_queries()
            if name not in timings or elapsed < timings[name]:
                timings[name] = elapsed
        pass_totals.append(round(pass_total, 3))
    spark.sparkContext.setJobDescription(None)

    # Normalization divisor: the FASTEST box-speed sample seen across the
    # run (pre-run probe + per-pass samples).  Per-query values are
    # best-of-5 across passes, i.e. they come from the fastest window the
    # box offered — dividing by a slow pre-run probe when later passes ran
    # on a fast box would overstate value_norm absurdly (observed: probe
    # 222 ms, pass samples 499 -> 16 ms, which would "normalize" 20 s to
    # 0.9 s).  min() picks the box speed the bests were achieved at; on a
    # uniformly fast box it equals the old probe, so history is comparable.
    calib_norm_ms = min(pass_calibs + [numpy_ms])

    # Contention telemetry: loadavg before/after plus every per-pass total,
    # so a slow artifact is adjudicable from the JSON alone (an idle box
    # shows loadavg ~<= cpus and tight pass spread; a contended box shows
    # high loadavg and a wide spread while the best-of "value" stays honest).
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_clock",
                "value": round(sum(timings.values()), 3),
                "value_14q": round(
                    sum(timings[n] for n in STABLE_14Q if n in timings), 3
                ),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "passes": pass_totals,
                "pass_calibs_numpy_ms": pass_calibs,
                "calibration": calibration,
                # Normalized movement: value x (REF_NUMPY_MS / calib_norm).
                # REF_NUMPY_MS is pinned to round-11's idle-box probe
                # (BENCH_r11.json calibration.numpy_matmul_ms = 9.7), so
                # value_norm is comparable across rounds without a judge
                # re-run; the pin and the rule live in SCALE.md.
                "value_norm": round(
                    sum(timings.values()) * 9.7 / calib_norm_ms, 3
                ),
                "value_norm_14q": round(
                    sum(timings[n] for n in STABLE_14Q if n in timings)
                    * 9.7 / calib_norm_ms, 3
                ),
                "ref_numpy_ms": 9.7,
                "calib_norm_ms": round(calib_norm_ms, 1),
                # r14+: no base-table persist, clearCache between query
                # executions — every timed invocation computes from parquet
                # (OPTIMIZATION_r14.md "Bench methodology fix").
                "methodology": "cold-cache-r14",
                "loadavg_before": [round(x, 2) for x in loadavg_before],
                "loadavg_after": [round(x, 2) for x in os.getloadavg()],
                # r15: report the EFFECTIVE parallelism the run used, not
                # the box's core count — the driver's scaling check
                # compares runs at different $SPARK_GRAFT_CPUS, and the
                # r14 report of os.cpu_count() (always 32) false-flagged
                # the 8-core run as ignoring the env (VERDICT r14).
                "cpus": int(
                    os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
                ),
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "host_cpus": os.cpu_count(),
            }
        )
    )


if __name__ == "__main__":
    main()
