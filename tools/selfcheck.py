"""Local stand-in for the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB over the
same parquet tables, then compares row count, column names, and values
exactly (columns sorted by name, rows sorted by all columns).  Stricter
than a hash: any mismatch prints a diff sample.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_connect(sf_dir: str):
    con = duckdb.connect()
    # PG null ordering (ASC→NULLS LAST, DESC→NULLS FIRST); DuckDB's own
    # default is NULLS LAST on both directions
    con.execute("SET default_null_order='nulls_last_on_asc_first_on_desc'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            # Decimal / list columns → canonical string
            import numpy as np

            df[c] = s.map(
                lambda v: repr(list(v))
                if isinstance(v, (list, np.ndarray))
                else v
            )
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("float64") if s.isna().any() else s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True) if len(df.columns) else df


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if list(a.columns) != list(b.columns):
        return False, f"columns differ: spark={list(a.columns)} oracle={list(b.columns)}"
    if len(a) != len(b):
        return False, f"row count differs: spark={len(a)} oracle={len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) and pd.api.types.is_float_dtype(y):
            ok = ((x.isna() & y.isna()) | (x == y)).all()
            if not ok:
                # exact compare intended; report max diff for diagnosis
                d = (x - y).abs().max()
                return False, f"float col {c} differs, max abs diff {d}"
        else:
            if not x.astype(str).equals(y.astype(str)):
                bad = (x.astype(str) != y.astype(str)).idxmax()
                return False, f"col {c} differs at row {bad}: spark={x[bad]!r} oracle={y[bad]!r}"
    return True, ""


def main():
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from greengage_spark.session import get_spark

    spark = get_spark("selfcheck")
    con = duck_connect(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    n_pass = n_fail = n_weak = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            results[name] = {"status": "fail", "detail": f"spark error: {e}"}
            n_fail += 1
            continue
        if name not in oracles:
            ok = len(sdf) >= 0
            print(f"weak {name}: rows={len(sdf)} ({time.time()-t0:.1f}s) [no oracle]")
            results[name] = {"status": "weak", "rows": len(sdf)}
            n_weak += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            results[name] = {"status": "fail", "detail": f"duckdb error: {e}"}
            n_fail += 1
            continue
        ok, msg = frames_equal(normalize(sdf), normalize(odf))
        if ok:
            dt = time.time() - t0
            print(f"PASS {name}: rows={len(sdf)} ({dt:.1f}s)")
            results[name] = {"status": "pass", "rows": len(sdf),
                             "sec": round(dt, 2)}
            n_pass += 1
        else:
            print(f"FAIL {name}: {msg}")
            results[name] = {"status": "fail", "detail": msg}
            n_fail += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only)")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "total": len(results),
                    "pass": n_pass,
                    "fail": n_fail,
                    "weak": n_weak,
                    "queries": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
            f.write("\n")
        print(f"wrote {json_out}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
