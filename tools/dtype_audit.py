"""Audit raw output dtypes of every queries() entry vs its DuckDB oracle.

The driver's hash gate compares Arrow-level bytes, so a Spark int32 column
vs a DuckDB int64 column hash-mismatches even when values are identical
(CORRECTNESS_r04: dialect_string_sql_forms).  tools/selfcheck.py widens
ints before comparing, so it cannot catch this class — this script compares
the UN-normalized pandas dtypes side by side and flags any divergence.

Usage: python tools/dtype_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.selfcheck import TABLES, duck_connect  # noqa: E402


def canon(dtype, sample) -> str:
    """Collapse representation-only differences, keep width differences."""
    s = str(dtype)
    if s.startswith("datetime64"):
        return "timestamp"
    if s == "object":
        v = next((x for x in sample if x is not None), None)
        return type(v).__name__ if v is not None else "object?"
    return s


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from greengage_spark.session import get_spark

    spark = get_spark()
    qs = entry.queries()
    oracles = entry.oracle_sql()
    con = duck_connect(sf_dir)

    bad = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {type(e).__name__}: {e}")
            bad.append(name)
            continue
        mism = []
        for c in sorted(set(sdf.columns) & set(odf.columns)):
            st = canon(sdf[c].dtype, sdf[c].head(20))
            ot = canon(odf[c].dtype, odf[c].head(20))
            if st != ot:
                mism.append(f"{c}: spark={st} oracle={ot}")
        status = "DTYPE" if mism else "ok"
        if mism:
            bad.append(name)
            print(f"{status} {name} ({time.time()-t0:.1f}s): " + "; ".join(mism))
        else:
            print(f"{status}   {name} ({time.time()-t0:.1f}s)")
    print(f"\n{len(bad)} queries with dtype divergence: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
