"""Interleaved A/B: minhash_dedup_pairs materialization variants.

A = current (persist sh + persist sigs)
B = persist sh + localCheckpoint(eager=False) sigs
C = localCheckpoint(eager=False) sh + localCheckpoint(eager=False) sigs

Result equality asserted before timing; median of per-rep ratios vs A.
"""
import statistics
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import StorageLevel
from pyspark.sql import functions as F

from greengage_spark.session import get_spark
from greengage_spark.plans.common import cat
from greengage_spark.pipeline.dedup import (
    word_shingles,
    minhash_signatures,
    lsh_candidate_pairs,
    jaccard_verify,
)

SF = "/root/testdata/sf0.1"
spark = get_spark("ab-minhash-ckpt")
c = cat(spark, SF)


def build(variant):
    d = c.table("documents")
    sh = word_shingles(d, "doc_id", "text", 3)
    if variant == "C":
        sh = sh.localCheckpoint(eager=False)
    else:
        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sigs = minhash_signatures(sh, "doc_id", 12)
    if variant in ("B", "C"):
        sigs = sigs.localCheckpoint(eager=False)
    else:
        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    cand = lsh_candidate_pairs(sigs, "doc_id", 12, 4)
    sizes = sigs.select("doc_id", "sz")
    return jaccard_verify(cand, sh, "doc_id", 0.7, sizes=sizes)


def reset():
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


reset()
r_a = sorted(map(tuple, build("A").collect()))
for v in ("B", "C"):
    reset()
    r = sorted(map(tuple, build(v).collect()))
    assert r == r_a, f"RESULTS DIFFER for {v}"
print(f"results identical across variants: {len(r_a)} rows")

ratios = {"B": [], "C": []}
for rep in range(9):
    times = {}
    for v in ("A", "B", "C"):
        reset()
        t = time.time(); build(v).collect(); times[v] = time.time() - t
    for v in ("B", "C"):
        ratios[v].append(times[v] / times["A"])
    print(f"rep {rep}: A {times['A']:.3f}s B {times['B']:.3f}s C {times['C']:.3f}s")

for v in ("B", "C"):
    print(f"median {v}/A: {statistics.median(ratios[v]):.3f}")
spark.stop()
