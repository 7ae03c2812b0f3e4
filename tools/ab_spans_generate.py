"""Interleaved A/B: substring_span_dedup window-stream materialization.

A = original shape (Generate evaluated by both consumers)
B = wins persisted (Generate once, cache read twice)

Both run in one session, alternating, noop sink, clearCache+GC between.
Usage: python tools/ab_spans_generate.py [reps] [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark import StorageLevel

REPS = int(sys.argv[1]) if len(sys.argv) > 1 else 7
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

from greengage_spark.session import get_spark
from greengage_spark.catalog import shared_catalog

spark = get_spark("ab-spans")
cat = shared_catalog(spark, SF_DIR)

WINDOW = 8


def build(persist: bool):
    docs = cat.table("documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
    )
    base = docs.select(F.col("doc_id"), toks.alias("t"))
    wins = base.select(
        F.col("doc_id"),
        F.posexplode(
            F.when(
                F.size("t") >= WINDOW,
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - WINDOW),
                    lambda i: F.concat_ws(" ", F.slice(F.col("t"), i + 1, WINDOW)),
                ),
            ).otherwise(F.expr("array()").cast("array<string>"))
        ).alias("pos", "win"),
    ).select(
        F.col("doc_id"),
        F.col("pos"),
        F.struct(F.xxhash64("win").alias("x"), F.hash("win").alias("m")).alias("h"),
    )
    if persist:
        wins = wins.persist(StorageLevel.MEMORY_AND_DISK)
    dup = (
        wins.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2).select("h")
    )
    hits = wins.join(dup, "h").select("doc_id", "pos")
    merged = hits.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("pos")).alias("ps")
    )
    return merged.select("doc_id", F.size("ps").alias("n"))


def run(persist: bool) -> float:
    spark.catalog.clearCache()
    spark._jvm.System.gc()
    t0 = time.time()
    build(persist).write.format("noop").mode("overwrite").save()
    return time.time() - t0


# warm both
run(False), run(True)
a, b = [], []
for i in range(REPS):
    a.append(run(False))
    b.append(run(True))
a.sort(); b.sort()
med_a, med_b = a[len(a) // 2], b[len(b) // 2]
print("A orig   :", [round(x, 3) for x in a])
print("B persist:", [round(x, 3) for x in b])
print(f"median A={med_a:.3f} B={med_b:.3f} B/A={med_b / med_a:.3f}")
