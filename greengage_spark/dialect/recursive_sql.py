"""WITH RECURSIVE front-end: parse the PG statement, drive the fixpoint.

The reference plans WITH RECURSIVE as RecursiveUnion feeding a
WorkTableScan (src/backend/executor/nodeRecursiveunion.c,
nodeWorktablescan.c; tests src/test/regress/sql/gp_recursive_cte.sql).
Catalyst has no recursive operator, so the dialect layer splits each
recursive CTE into seed and recursive terms and runs
``operators.recursive.recursive_cte``: per iteration the frontier is
re-registered as a temp view under the CTE's own name (the worktable),
and the recursive term is re-analyzed against it.

A WITH RECURSIVE list may mix recursive and plain CTEs (the reference
tests do); they are evaluated left-to-right, each visible to the next.

Documented divergence: the reference streams the worktable lazily, so an
*unbounded* recursive term consumed under an outer LIMIT still
terminates (gp_recursive_cte.sql's ``select i + 1 from r`` ... ``limit
10`` cases).  Our fixpoint is eager and raises after ``max_iterations``
for such queries; bounded recursion — every terminating step — matches.
"""

from __future__ import annotations

import re

from greengage_spark.dialect import transpiler as _t
from greengage_spark.dialect.spans import close_of, find_top_level

_RECURSIVE_RE = re.compile(r"(?is)^\s*with\s+recursive\b")
_NAME_RE = re.compile(r"\s*([A-Za-z_]\w*)")
_AS_RE = re.compile(r"(?is)\s*as\s*")


def is_recursive(sql: str) -> bool:
    return bool(_RECURSIVE_RE.match(sql))


_WITH_RE = re.compile(r"(?is)^\s*with\s+(?:recursive\s+)?")


def parse_with_clauses(sql: str):
    """Generic WITH-clause splitter: → ([(name, cols|None, body)],
    main_sql).  Used by the recursive fixpoint driver AND the engine's
    data-modifying-CTE route (both need the same gram.y with_clause
    shape)."""
    return _parse(sql, head_re=_WITH_RE)


def _parse(sql: str, head_re=None):
    """→ ([(name, cols|None, body)], main_sql)."""
    m = (head_re or _RECURSIVE_RE).match(sql)
    i = m.end()
    ctes = []
    while True:
        m2 = _NAME_RE.match(sql, i)
        if not m2:
            raise ValueError(f"expected CTE name at: {sql[i:i+40]!r}")
        name, i = m2.group(1), m2.end()
        cols = None
        rest = sql[i:].lstrip()
        i = len(sql) - len(rest)
        if rest.startswith("("):
            j = close_of(sql, i)
            cols = [c.strip() for c in sql[i + 1 : j].split(",")]
            i = j + 1
        m3 = _AS_RE.match(sql, i)
        if not m3:
            raise ValueError(f"expected AS at: {sql[i:i+40]!r}")
        i = m3.end()
        if sql[i] != "(":
            raise ValueError(f"expected ( after AS at: {sql[i:i+40]!r}")
        j = close_of(sql, i)
        ctes.append((name, cols, sql[i + 1 : j]))
        i = j + 1
        rest = sql[i:].lstrip()
        i = len(sql) - len(rest)
        if rest.startswith(","):
            i += 1
            continue
        break
    return ctes, sql[i:]


def _strip_strings(s: str) -> str:
    return re.sub(r"'[^']*'", "''", s)


def _is_self_ref(name: str, term: str) -> bool:
    return bool(re.search(rf"(?i)\b{re.escape(name)}\b", _strip_strings(term)))


def _split_union(body: str):
    """Split at top-level UNION [ALL] → (terms, all_flags); all_flags[k] is
    True when separator k (between term k and k+1) is UNION ALL."""
    terms, flags, pos = [], [], 0
    while True:
        u = find_top_level(body, "union", pos)
        if u < 0:
            terms.append(body[pos:])
            return terms, flags
        terms.append(body[pos:u])
        after = u + len("union")
        m = re.match(r"(?is)\s*all\b", body[after:])
        if m:
            flags.append(True)
            pos = after + m.end()
        else:
            flags.append(False)
            pos = after


def run_recursive_sql(spark, sql: str, *, max_iterations: int = 100):
    from greengage_spark.operators.recursive import recursive_cte

    ctes, main = _parse(sql)
    # CTE names are registered as session temp views while the fixpoint runs;
    # a pre-existing temp view with the same name must survive the statement
    # (CTE scope is per-query, parse_cte.c).  spark.table() resolves eagerly,
    # so the captured DataFrame pins the OLD view's plan for restoration.
    cte_names = {name for name, _cols, _body in ctes}
    shadowed = {
        t.name: spark.table(t.name)
        for t in spark.catalog.listTables()
        if t.isTemporary and t.name in cte_names
    }
    try:
        for name, cols, body in ctes:
            if not _is_self_ref(name, body):
                df = _t.pg_sql(spark, body)
                if cols:
                    df = df.toDF(*cols)
                df.createOrReplaceTempView(name)
                continue
            terms, flags = _split_union(body)
            if len(terms) < 2 or not _is_self_ref(name, terms[-1]) or any(
                _is_self_ref(name, t) for t in terms[:-1]
            ):
                raise NotImplementedError(
                    "recursive CTE must be <seed terms> UNION [ALL] <one recursive term>"
                )
            seed_sql = terms[0]
            for k in range(1, len(terms) - 1):
                seed_sql += (" UNION ALL " if flags[k - 1] else " UNION ") + terms[k]
            seed = _t.pg_sql(spark, seed_sql)
            if cols:
                seed = seed.toDF(*cols)

            def step(frontier, _name=name, _sql=terms[-1], _cols=cols):
                frontier.createOrReplaceTempView(_name)
                out = _t.pg_sql(spark, _sql)
                return out.toDF(*_cols) if _cols else out

            df = recursive_cte(
                seed, step, union_all=flags[-1], max_iterations=max_iterations
            )
            df.createOrReplaceTempView(name)
        out = _t.pg_sql(spark, main)
    finally:
        for name in cte_names:
            if name in shadowed:
                shadowed[name].createOrReplaceTempView(name)
            else:
                spark.catalog.dropTempView(name)
    return out
