"""In-session interleaved A/B: similarity query-side / centroid-fold raw-load
change (r14 follow-up).  OLD = query side + centroid fold built from the
repartitioned catalog table (r14 batch-2 state); NEW = registry functions
(raw load for the pushed-filter query sides and the ivf centroid fold).

Result equality (sorted full-row compare) is asserted before timing.
Reports the median of per-rep new/old ratios — robust to box-speed drift
(both sides share each rep's conditions).

Usage: python tools/ab_similarity_raw.py [--reps 7] [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import statistics
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from greengage_spark.session import get_spark
    from greengage_spark.plans.common import cat
    from greengage_spark.plans.registry import all_queries
    from greengage_spark.pipeline.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_bucketed_topk,
    )

    spark = get_spark("ab-similarity-raw")
    qs = all_queries()
    c = cat(spark, args.sf)

    def old_ivf():
        e = c.table("embeddings")
        q = e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110)).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        return ivf_topk(
            e, q, corpus_id="vec_id", corpus_vec="embedding",
            query_id="qid", query_vec="qv", k=5, n_cells=8, n_probe=2,
        )

    def old_lsh():
        e = c.table("embeddings")
        q = e.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        return lsh_bucketed_topk(
            e, q, corpus_id="vec_id", corpus_vec="embedding",
            query_id="qid", query_vec="qv", k=3, bits=8,
        )

    def old_brute():
        e = c.table("embeddings")
        q = e.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        return brute_force_topk(
            e, q, corpus_id="vec_id", corpus_vec="embedding",
            query_id="qid", query_vec="qv", k=5,
        )

    pairs = {
        "similarity_ivf_topk": old_ivf,
        "similarity_lsh_topk": old_lsh,
        "similarity_bruteforce_topk": old_brute,
    }

    def housekeeping():
        spark.catalog.clearCache()
        spark._jvm.System.gc()

    for name, old_fn in pairs.items():
        new_fn = lambda: qs[name].fn(spark, args.sf)  # noqa: E731
        # correctness first: identical sorted rows
        o = sorted(map(tuple, old_fn().collect()))
        housekeeping()
        n = sorted(map(tuple, new_fn().collect()))
        housekeeping()
        assert o == n, f"{name}: result mismatch between old and new"
        ratios = []
        olds, news = [], []
        for rep in range(args.reps):
            t0 = time.time()
            old_fn().collect()
            t_old = time.time() - t0
            housekeeping()
            t0 = time.time()
            new_fn().collect()
            t_new = time.time() - t0
            housekeeping()
            olds.append(round(t_old, 3))
            news.append(round(t_new, 3))
            ratios.append(t_new / t_old)
        print(json.dumps({
            "name": name,
            "median_ratio_new_over_old": round(statistics.median(ratios), 3),
            "old_s": olds,
            "new_s": news,
            "rows": len(o),
        }))


if __name__ == "__main__":
    main()
