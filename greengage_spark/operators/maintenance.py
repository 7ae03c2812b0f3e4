"""Maintenance statements: CREATE/DROP INDEX, REINDEX, VACUUM, ANALYZE.

Reference surface: gram.y:8719 (IndexStmt), gram.y:11284 (VacuumStmt),
gram.y:11386 (AnalyzeStmt); commands/vacuum.c + commands/analyze.c.

Indexes on a parquet/Catalyst backend are metadata-only: parquet row-group
min/max + predicate pushdown subsume btree/bitmap access paths (SURVEY
§1.1 "DDL accepted as no-op or rejected").  We record the declaration in
the engine catalog — names, method, keys, uniqueness — so introspection
can list them and DROP INDEX round-trips, and execute nothing.

VACUUM is a true no-op: copy-on-write manifests never leave dead tuples
behind; old file versions are reclaimed by manifest commits (the moral
equivalent of AO-segment compaction happens at write time).

ANALYZE is real work: one full-scan aggregate per table computing the
moral equivalent of pg_statistic rows — count, per-column null_frac,
n_distinct (HLL approx — same sketch family the reference's incremental
analyze uses), min/max — stored on the engine and fed to Spark's CBO by
re-registering the table.  The scan is a single partial-agg-friendly
groupBy-less aggregation: at 100 TB it is one map-side-combined pass,
no shuffle of data rows (only one tiny final reduce).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class IndexDef:
    name: str
    table: str
    unique: bool
    method: str  # btree | bitmap | gin | gist | hash
    keys: list[str] = field(default_factory=list)


@dataclass
class TableStats:
    table: str
    row_count: int
    columns: dict[str, dict] = field(default_factory=dict)
    # columns[col] = {null_frac, n_distinct, min, max}


_CREATE_INDEX = re.compile(
    r"(?is)^create\s+(unique\s+)?index\s+(?:concurrently\s+)?"
    r"(?:if\s+not\s+exists\s+)?([\w.]+)?\s*on\s+([\w.]+)"
    r"(?:\s+using\s+(\w+))?\s*\(([^)]*)\)"
)
def create_index(engine, stmt: str):
    m = _CREATE_INDEX.match(stmt)
    if not m:
        raise NotImplementedError(
            "CREATE [UNIQUE] INDEX [name] ON table [USING method] (cols)"
        )
    unique, name, table, method, cols = m.groups()
    if table not in engine.ddl.tables and not _is_known_view(engine, table):
        raise ValueError(f"unknown table {table!r}")
    # expression indexes: keep the raw expression text as the key
    keys = [c.strip().split()[0] for c in cols.split(",") if c.strip()]
    clean_keys = "_".join(re.sub(r"\W+", "", k) for k in keys)
    name = name or f"{table}_{clean_keys}_idx"
    engine.indexes[name] = IndexDef(
        name=name,
        table=table,
        unique=bool(unique),
        method=(method or "btree").lower(),
        keys=keys,
    )
    return None


def _is_known_view(engine, name: str) -> bool:
    return name in engine.views


_VACUUM = re.compile(
    r"(?is)^vacuum\s*(?:\(([^)]*)\))?\s*(full\s+)?(freeze\s+)?(verbose\s+)?"
    r"(analyze\s+|analyse\s+)?([\w.]+)?\s*(?:\(([^)]*)\))?$"
)
_ANALYZE = re.compile(
    r"(?is)^analyz?[se]e?\s*(verbose\s+)?(rootpartition\s+)?([\w.]+)?\s*(?:\(([^)]*)\))?$"
)


def vacuum(engine, stmt: str):
    m = _VACUUM.match(stmt)
    if not m:
        raise NotImplementedError("VACUUM [FULL] [ANALYZE] [table]")
    with_analyze = bool(m.group(5)) or "analyze" in (m.group(1) or "").lower()
    table, cols = m.group(6), m.group(7)
    if table is not None and table not in engine.ddl.tables:
        raise ValueError(f"unknown table {table!r}")
    if with_analyze:
        _analyze(engine, table, cols)
    if m.group(2):  # VACUUM FULL: rewrite + reclaim (vacuum.c)
        if engine._txn is not None:
            raise ValueError(
                "VACUUM cannot run inside a transaction block"
            )
        for name in [table] if table else list(engine.ddl.tables):
            _vacuum_full(engine, name)
    # plain VACUUM: dead-tuple reclamation is a no-op under COW
    # manifests (superseded files stay until VACUUM FULL, which is
    # the rewrite+reclaim path — pgstattuple reports them as dead)
    return None


def analyze(engine, stmt: str):
    m = _ANALYZE.match(stmt)
    if not m:
        raise NotImplementedError("ANALYZE [VERBOSE] [table [(cols)]]")
    _analyze(engine, m.group(3), m.group(4))
    return None


def _vacuum_full(engine, name: str) -> None:
    """VACUUM FULL (vacuum.c full_vacuum_rel → cluster.c rewrite): the
    live rows rewrite into FRESH data files, then every superseded
    parquet file and every old manifest version is deleted — the
    reclamation pgstattuple reports as dead space.  PG takes ACCESS
    EXCLUSIVE here; the analog caveat is that DataFrames captured
    before the VACUUM must not be re-evaluated afterwards (their lazy
    plans reference the reclaimed files)."""
    import os

    st = engine._storage(name)
    st.replace(st.df())  # COW: new segment files + a new manifest first
    live = {os.path.realpath(f) for f in st.files()}
    for base, _dirs, fnames in os.walk(st.root):
        for fn in fnames:
            full = os.path.realpath(os.path.join(base, fn))
            if fn.endswith(".parquet") and full not in live:
                try:
                    os.remove(full)
                except OSError:
                    pass
            elif (
                fn.startswith("v") and fn.endswith(".json")
                and fn[1:-5].isdigit() and int(fn[1:-5]) < st.version
            ):
                try:
                    os.remove(full)
                except OSError:
                    pass
    engine._register(name)


def _analyze(engine, table: str | None, cols_raw: str | None) -> None:
    tables = [table] if table else list(engine.ddl.tables)
    if table and table not in engine.ddl.tables:
        raise ValueError(f"unknown table {table!r}")
    only = (
        [c.strip() for c in cols_raw.split(",") if c.strip()] if cols_raw else None
    )
    for name in tables:
        engine._register(name)
        df = engine.spark.table(name)
        engine.stats[name] = compute_stats(df, name, only)


def compute_stats(df: DataFrame, name: str, only: list[str] | None) -> TableStats:
    """One map-side-combined aggregation pass → pg_statistic-style rows."""
    cols = [c for c in df.columns if only is None or c in only]
    if only:
        missing = set(only) - set(df.columns)
        if missing:
            raise ValueError(f"unknown columns in ANALYZE: {sorted(missing)}")
    aggs = [F.count(F.lit(1)).alias("__n")]
    simple = []
    for f_ in df.schema.fields:
        if f_.name not in cols:
            continue
        t = f_.dataType.simpleString()
        if t.startswith(("array", "map", "struct", "binary")):
            continue  # no scalar stats for nested/opaque types (as in PG)
        simple.append(f_.name)
        c = F.col(f_.name)
        aggs += [
            F.sum(c.isNull().cast("long")).alias(f"__nulls_{f_.name}"),
            F.approx_count_distinct(c).alias(f"__ndv_{f_.name}"),
            F.min(c).alias(f"__min_{f_.name}"),
            F.max(c).alias(f"__max_{f_.name}"),
        ]
    row = df.agg(*aggs).collect()[0].asDict()
    n = row["__n"]
    st = TableStats(table=name, row_count=n)
    for c in simple:
        st.columns[c] = {
            "null_frac": (row[f"__nulls_{c}"] or 0) / n if n else 0.0,
            "n_distinct": row[f"__ndv_{c}"],
            "min": row[f"__min_{c}"],
            "max": row[f"__max_{c}"],
        }
    return st
