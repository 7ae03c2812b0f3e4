"""Isolate dedup_minhash_lsh stage costs at sf0.1 (guide §1: measure first).

Times, each with the noop sink and cold cache:
  A. shingle stream (tokenize+explode+distinct)
  B. shingles + 12-min signature aggregation
  C. full pipeline (registry query)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from greengage_spark.session import get_spark
from greengage_spark.catalog import shared_catalog
from greengage_spark.pipeline.dedup import word_shingles, minhash_signatures

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(label, fn, reps=5):
    best = float("inf")
    for _ in range(reps):
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    print(f"{label:45s} {best:7.3f}s")
    return best


spark = get_spark("probe-minhash")
cat = shared_catalog(spark, SF_DIR)
docs = cat.table("documents")
print("docs:", docs.count())
sh = word_shingles(docs, "doc_id", "text", 3)
print("shingles (distinct):", sh.count())

# warm-up JIT
noop(sh)
noop(minhash_signatures(sh, "doc_id", 12))

timed("A shingles distinct", lambda: noop(word_shingles(docs, "doc_id", "text", 3)))
timed("B shingles+signatures", lambda: noop(
    minhash_signatures(word_shingles(docs, "doc_id", "text", 3), "doc_id", 12)))

from greengage_spark.plans.registry import all_queries
q = all_queries()["dedup_minhash_lsh"]
q.fn(spark, SF_DIR).collect()  # warm
timed("C full pipeline (collect)", lambda: q.fn(spark, SF_DIR).collect())

# --- sub-stages of C ---
from pyspark import StorageLevel
from greengage_spark.pipeline.dedup import lsh_candidate_pairs, jaccard_verify

def run_sub():
    sh2 = word_shingles(docs, "doc_id", "text", 3).persist(StorageLevel.MEMORY_AND_DISK)
    sigs = minhash_signatures(sh2, "doc_id", 12).localCheckpoint(eager=False)
    cand = lsh_candidate_pairs(sigs, "doc_id", 12, 4)
    print("candidate pairs:", cand.count())
    out = jaccard_verify(cand, sh2, "doc_id", 0.7, sizes=sigs.select("doc_id", "sz"))
    print("verified pairs:", out.count())

run_sub()

def c1():
    sh2 = word_shingles(docs, "doc_id", "text", 3).persist(StorageLevel.MEMORY_AND_DISK)
    sigs = minhash_signatures(sh2, "doc_id", 12).localCheckpoint(eager=False)
    noop(lsh_candidate_pairs(sigs, "doc_id", 12, 4))

timed("C1 shingles+sigs+banding+cand", c1)
