"""In-session interleaved A/B: dedup digest narrowing (r14 follow-up 3).

OLD = HEAD's dedup.py (md5-hex minhash signature mins; span digests over
the materialized window string).  NEW = working tree (16-byte binary
signature mins via unhex(md5); span digests hash the token slice directly,
never materializing the window string).

Result equality (sorted full-row compare) is asserted before timing.
Reports the median of per-rep new/old ratios — both sides share each
rep's box conditions, so the ratio is robust to box-speed drift.

Usage: python tools/ab_dedup_digest.py [--reps 7] [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def load_old_dedup():
    src = subprocess.run(
        ["git", "-C", ROOT, "show", "HEAD:greengage_spark/pipeline/dedup.py"],
        check=True, capture_output=True, text=True,
    ).stdout
    spec = importlib.util.spec_from_loader("old_dedup", loader=None)
    mod = importlib.util.module_from_spec(spec)
    exec(compile(src, "old_dedup.py", "exec"), mod.__dict__)
    return mod


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from greengage_spark.session import get_spark
    from greengage_spark.plans.common import cat
    from greengage_spark.pipeline import dedup as new_dedup

    old_dedup = load_old_dedup()
    spark = get_spark("ab-dedup-digest")
    docs = cat(spark, args.sf).table("documents")

    cases = {
        "dedup_minhash_lsh": lambda m: m.minhash_dedup_pairs(
            docs, "doc_id", "text", shingle_k=3, num_hashes=12, bands=4, threshold=0.7
        ),
        "dedup_substring_spans": lambda m: m.substring_span_dedup(
            docs, "doc_id", "text", window=8
        ),
    }

    for name, build in cases.items():
        old_rows = sorted(map(tuple, build(old_dedup).collect()))
        spark.catalog.clearCache()
        new_rows = sorted(map(tuple, build(new_dedup).collect()))
        spark.catalog.clearCache()
        assert old_rows == new_rows, f"{name}: RESULTS DIFFER"
        print(f"{name}: results identical ({len(new_rows)} rows)", flush=True)

        ratios = []
        pairs = []
        for i in range(args.reps):
            rep = {}
            for tag, mod in (("old", old_dedup), ("new", new_dedup)):
                spark.sparkContext.setJobDescription(f"ab:{name}:{tag}:{i}")
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
                t0 = time.time()
                build(mod).write.format("noop").mode("overwrite").save()
                rep[tag] = time.time() - t0
            ratios.append(rep["new"] / rep["old"])
            pairs.append(rep)
        print(json.dumps({
            "name": name,
            "median_ratio_new_over_old": round(statistics.median(ratios), 3),
            "pairs": [{k: round(v, 3) for k, v in p.items()} for p in pairs],
        }), flush=True)


if __name__ == "__main__":
    main()
