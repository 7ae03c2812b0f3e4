"""The engine façade: route PostgreSQL/Greenplum statements end-to-end.

This is our `exec_simple_query` (src/backend/tcop/postgres.c:1622): one
entry point that parses a statement string, routes DDL to the catalog,
DML to copy-on-write storage, COPY to the bulk loader, and queries to
the dialect front-end + Catalyst.  A Greenplum user's session maps 1:1:

    eng = GreengageEngine(spark, "/tmp/warehouse")
    eng.execute("CREATE TABLE t (a int8, b text) DISTRIBUTED BY (a)")
    eng.execute("INSERT INTO t VALUES (1, 'x'), (2, 'y')")
    eng.execute("UPDATE t SET b = upper(b) WHERE a = 1")
    eng.execute("DELETE FROM t WHERE a = 2")
    df = eng.execute("SELECT a, b || '!' FROM t")

Statement coverage: ``_ROUTES`` at the end of this module is the one
list of the statement kinds served, keyed by the command tag
``_command_tag`` reads from the leading words (tcop/utility.c
CreateCommandTag + standard_ProcessUtility).  Unrouted statements raise
NotImplementedError with the closest DataFrame-level API named in the
message.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from functools import partial
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from greengage_spark.dialect.ddl import DDLCatalog, parse_create_table
from greengage_spark.dialect.spans import (
    close_of,
    find_top_level,
    is_ident,
    is_string,
    join_tokens,
    lex,
    rewrite_calls,
    split_top_level,
    tokenize,
)
from greengage_spark.dialect.transpiler import pg_sql, transpile
from greengage_spark.operators import maintenance, prepared
from greengage_spark.operators.alter import execute_alter_table, execute_truncate

_PG_TEXT_ESCAPES = {
    "t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f", "v": "\v",
    "\\": "\\",
}


def _pg_text_unescape(field: str) -> str:
    """COPY text-format backslash escapes (copy.c CopyReadAttributesText:
    \\t \\n \\r \\b \\f \\v \\\\ and octal \\ooo)."""
    if "\\" not in field:
        return field
    out: list[str] = []
    i = 0
    while i < len(field):
        ch = field[i]
        if ch == "\\" and i + 1 < len(field):
            c2 = field[i + 1]
            if c2 in _PG_TEXT_ESCAPES:
                out.append(_PG_TEXT_ESCAPES[c2])
                i += 2
                continue
            mo = re.match(r"[0-7]{1,3}", field[i + 1 :])
            if mo:
                out.append(chr(int(mo.group(0), 8)))
                i += 1 + len(mo.group(0))
                continue
            out.append(c2)
            i += 2
            continue
        out.append(ch)
        i += 1
    return "".join(out)


# sentinel: "this WITH statement has no data-modifying CTE" (vs a wCTE
# whose final statement legitimately returns None)
_NOT_WCTE = object()

# sequence function calls (sequence.c nextval/currval/setval SQL surface)
_NEXTVAL = re.compile(r"(?is)\bnextval\s*\(\s*'([\w.]+)'\s*\)")
_CURRVAL = re.compile(r"(?is)\bcurrval\s*\(\s*'([\w.]+)'\s*\)")
_SETVAL = re.compile(
    r"(?is)\bsetval\s*\(\s*'([\w.]+)'\s*,\s*(-?\d+)\s*(?:,\s*(true|false)\s*)?\)"
)


def _has_seq_call(stmt: str) -> bool:
    return bool(_NEXTVAL.search(stmt) or _CURRVAL.search(stmt) or _SETVAL.search(stmt))


def split_statements(sql: str) -> list[str]:
    """Split a SQL script into statements at top-level semicolons.

    Respects single-quoted strings (with '' doubling), double-quoted
    identifiers, dollar-quoted bodies ($$…$$ and $tag$…$tag$ — psql's
    function-body quoting), and ``--`` line comments.  Empty statements
    (stray semicolons, comment-only lines) are dropped."""
    out: list[str] = []
    buf: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            buf.append(sql[i : j + 1])
            i = j + 1
            continue
        if c == '"':
            j = sql.find('"', i + 1)
            j = n - 1 if j < 0 else j
            buf.append(sql[i : j + 1])
            i = j + 1
            continue
        if c == "$":
            m = re.match(r"\$([A-Za-z_]\w*)?\$", sql[i:])
            if m:
                tag = m.group(0)
                end = sql.find(tag, i + len(tag))
                end = n if end < 0 else end + len(tag)
                buf.append(sql[i:end])
                i = end
                continue
        if c == "-" and sql[i : i + 2] == "--":
            j = sql.find("\n", i)
            j = n if j < 0 else j
            buf.append(sql[i:j])
            i = j
            continue
        if c == ";":
            stmt = _strip_leading_comments("".join(buf))
            if re.sub(r"(?m)--[^\n]*", "", stmt).strip():
                out.append(stmt)
            buf = []
            i += 1
            continue
        buf.append(c)
        i += 1
    stmt = _strip_leading_comments("".join(buf))
    if re.sub(r"(?m)--[^\n]*", "", stmt).strip():
        out.append(stmt)
    return out


def _strip_leading_comments(stmt: str) -> str:
    """Drop comment-only lines before the first SQL token, so the
    handlers' anchored parse patterns see the statement's first word."""
    lines = stmt.strip().splitlines()
    k = 0
    while k < len(lines) and (
        not lines[k].strip() or lines[k].lstrip().startswith("--")
    ):
        k += 1
    return "\n".join(lines[k:]).strip()


def _normalize_statement(sql: str) -> str:
    """pg_stat_statements-style query normalization: string and numeric
    literals become $n placeholders numbered left to right, after any
    ``$n`` parameter the statement already has, as PG's
    generate_normalized_query does; whitespace collapses."""
    s = sql.strip().rstrip(";")
    lits, n = [], 0
    for m in lex(s):
        if m.group(0).isdigit() and s[m.start() - 1 : m.start()] == "$":
            n = max(n, int(m.group(0)))  # an existing parameter
        elif m.lastgroup in ("string", "number"):
            lits.append(m)
    parts, pos = [], 0
    for m in lits:
        n += 1
        parts += [s[pos : m.start()], f"${n}"]
        pos = m.end()
    parts.append(s[pos:])
    return re.sub(r"\s+", " ", "".join(parts))


def _sub_outside_strings(pattern: str, repl: str, stmt: str) -> str:
    """``re.sub`` applied only OUTSIDE single-/dollar-quoted literals —
    a raw regex over the whole statement corrupts string payloads
    (e.g. SELECT 'nested stat(...) call')."""
    # the dollar-tag group matches empty (not optional) so the \2
    # backreference participates for plain $$...$$ quoting too
    parts = re.split(
        r"('(?:[^']|'')*'|\$([A-Za-z_]\w*|)\$.*?\$\2\$)",
        stmt,
        flags=re.DOTALL,
    )
    # re.split with 2 groups yields triples (text, literal, dollar-tag);
    # the tag is a sub-capture of the literal — emit it once only
    return "".join(
        re.sub(pattern, repl, p) if i % 3 == 0 else (p or "" if i % 3 == 1 else "")
        for i, p in enumerate(parts)
    )


def _strip_public_schema(stmt: str) -> str:
    """pg_dump qualifies every object as ``public.x``; the engine's
    namespace is flat, so the prefix drops — outside string literals."""
    return _sub_outside_strings(r"(?i)\bpublic\s*\.\s*", "", stmt)


# words PG's grammar allows between a statement's verb and its object
# noun (opt_or_replace, OptTemp, opt_unique, opt_concurrently,
# opt_trusted, opt_procedural, ...): they do not change the kind
_NOISE_WORDS = frozenset((
    "or", "replace", "temp", "temporary", "unlogged", "global", "local",
    "readable", "writable", "web", "unique", "concurrently", "trusted",
    "procedural", "ordered", "constraint",
))
# other spellings of a verb or object noun → the one _ROUTES keys
_SPELLINGS = {
    "analyse": "analyze", "abort": "rollback", "end": "commit",
    "start": "begin", "user": "role", "group": "role",
}


def _command_tag(stmt: str) -> str:
    """The statement's kind as a ``_ROUTES`` key (tcop/utility.c
    CreateCommandTag): the longest key the leading words start with,
    read through the shared lexer (comments skipped; a quoted name, a
    literal or a symbol ends them) with noise words dropped and
    spellings unified; the bare verb when no key matches."""
    words: list[str] = []
    for m in lex(stmt):
        if m.lastgroup == "comment":
            continue
        if m.lastgroup != "ident" or len(words) == _LONGEST_TAG:
            break
        w = m.group(0).lower()
        if words and w in _NOISE_WORDS:
            continue
        words.append(_SPELLINGS.get(w, w) if len(words) < 2 else w)
    for n in range(len(words), 0, -1):
        if " ".join(words[:n]) in _ROUTES:
            return " ".join(words[:n])
    return words[0] if words else ""


def _not_routed(kind: str) -> NotImplementedError:
    return NotImplementedError(
        f"statement kind {kind!r} not routed; use the DataFrame API "
        f"(greengage_spark.operators / sources) directly"
    )


def _literal(arg: list[str]) -> str | None:
    """The value of a call argument that is one plain string literal."""
    if len(arg) == 1 and arg[0][:1] == "'" and is_string(arg[0]):
        return arg[0][1:-1].replace("''", "'")
    return None


class GreengageEngine:
    def __init__(self, spark: SparkSession, warehouse: str):
        from greengage_spark.operators.sequence import SequenceManager

        self.spark = spark
        self.warehouse = warehouse
        self.ddl = DDLCatalog(spark, warehouse)
        self.views: dict[str, str] = {}  # name → PG-dialect defining query
        self.sequences = SequenceManager(warehouse)
        self.functions: dict = {}  # name → FunctionDef (CREATE FUNCTION)
        # name → Python callable: the plpgsql interpreter's per-row
        # user-function resolution (resolves at call time, like SPI)
        self.pl_registry: dict = {}
        self._txn: dict | None = None  # BEGIN snapshot (see _begin_txn)
        self._loaded_modules: set[str] = set()
        from greengage_spark.dialect.gucs import GucManager

        self.gucs = GucManager(spark)
        self.indexes: dict = {}  # name → IndexDef (metadata-only, no executor)
        self.stats: dict = {}  # table → TableStats (ANALYZE results)
        self.prepared: dict = {}  # name → PreparedStatement (prepare.c)
        self.notices: list[str] = []  # RAISE NOTICE/INFO output (elog.c)
        # GET DIAGNOSTICS row_count support: DML paths record the
        # processed-row count ONLY while a DO block runs (the count costs
        # an extra Spark job, so it is off on the normal path)
        self.last_rowcount: int | None = None
        self._track_rowcount = False
        # recorded DDL with no executor semantics here (composite types,
        # casts, operators, default privileges) — keyed (kind, name)
        self.misc_ddl: dict = {}
        self.cursors: dict = {}  # name → Cursor portal (portalcmds.c)
        self.external: dict = {}  # name → ExternalTableDef (fileam.c surface)
        from greengage_spark.operators.acl import AclCatalog

        self.acl = AclCatalog()  # roles/grants/comments/schemas (recorded)
        # name → {"query": defining PG SQL, "populated": bool}
        # (matview.c; storage is a regular versioned table)
        self.matviews: dict[str, dict] = {}
        self.clustered: dict[str, str] = {}  # table → clustering index
        # name → {"base": pg type, "not_null": bool, "default": str|None,
        #         "check": str|None}  (typecmds.c DefineDomain)
        self.domains: dict[str, dict] = {}
        self._pending_domain_checks: dict[str, str] = {}
        self.servers: dict[str, str] = {}  # name → its foreign data wrapper
        # name → ParallelRetrieveCursor (operators/prepared.py)
        self.parallel_cursors: dict = {}
        # pg_stat_statements entries by normalized text; _in_execute
        # marks a top-level statement in flight (nested executes are
        # not counted — track=top)
        self._stmt_stats: dict[str, dict] = {}
        self._in_execute = False

    # ---------------- statement router ----------------

    _COPY_STDIN_RE = re.compile(
        r"(?im)^[ \t]*(copy\s+[^;\n]+?\bfrom\s+stdin[^;\n]*);[ \t]*\n"
        r"((?:.*\n)*?)\\\.[ \t]*(?:\n|$)"
    )

    def run_script(self, sql: str) -> DataFrame | None:
        """Execute a multi-statement script (the psql / simple-query
        batch form, postgres.c exec_simple_query over a multi-command
        string): statements split on top-level semicolons — quoted
        strings, dollar-quoted bodies ($$…$$ / $tag$…$tag$), and
        line comments never split.  ``COPY ... FROM stdin`` blocks (the
        pg_dump data-section form, copy.c CopyFrom) consume their inline
        rows up to the ``\\.`` terminator.  Returns the LAST statement's
        result (PG returns the last command tag)."""
        out: DataFrame | None = None
        pos = 0
        for m in self._COPY_STDIN_RE.finditer(sql):
            for stmt in split_statements(self._strip_psql_meta(sql[pos : m.start()])):
                out = self.execute(stmt)
            out = self._copy_from_stdin(m.group(1), m.group(2))
            pos = m.end()
        for stmt in split_statements(self._strip_psql_meta(sql[pos:])):
            out = self.execute(stmt)
        return out

    def _strip_psql_meta(self, chunk: str) -> str:
        """psql meta-commands (\\connect, \\set, \\echo, ... — psql's
        client-side commands, not SQL) are recorded and dropped so a
        plain dump taken with -C or psql headers still restores."""
        kept: list[str] = []
        for line in chunk.split("\n"):
            if re.match(r"^\\[A-Za-z]", line.lstrip()):
                self.notices.append(f"psql meta-command skipped: {line.strip()}")
                continue
            kept.append(line)
        return "\n".join(kept)

    def _copy_from_stdin(self, stmt: str, data: str):
        """Load pg_dump inline COPY data (copy.c text/csv formats: tab
        delimiter, ``\\N`` null, backslash escapes by default)."""
        m = re.match(
            r"(?is)^copy\s+([\w.\"]+)\s*(\(([^)]*)\))?\s+from\s+stdin(.*)$",
            stmt.strip(),
        )
        if not m:
            raise NotImplementedError("COPY name [(cols)] FROM stdin")
        name = m.group(1).strip('"')
        td = self.ddl.tables.get(name)
        if td is None:
            raise ValueError(f"unknown table {name!r}")
        opts = m.group(4) or ""
        is_csv = bool(re.search(r"(?is)\bcsv\b", opts))
        mdel = re.search(r"(?is)delimiter\s+(?:as\s+)?(?:e)?'([^']*)'", opts)
        sep = (mdel.group(1).replace("\\t", "\t") if mdel
               else ("," if is_csv else "\t"))
        mnull = re.search(r"(?is)null\s+(?:as\s+)?'([^']*)'", opts)
        null_str = mnull.group(1) if mnull else ("" if is_csv else "\\N")
        schema = td.schema()
        cols = (
            [c.strip().strip('"') for c in m.group(3).split(",")]
            if m.group(3)
            else [f.name for f in schema.fields]
        )
        rows = []
        for line in data.splitlines():
            if not line:
                continue
            fields = line.split(sep)
            if len(fields) != len(cols):
                raise ValueError(
                    f"COPY row has {len(fields)} fields, expected {len(cols)}"
                )
            rows.append(
                tuple(
                    None
                    if f == null_str
                    else (f if is_csv else _pg_text_unescape(f))
                    for f in fields
                )
            )
        raw = self.spark.createDataFrame(
            rows or [], ", ".join(f"`{c}` string" for c in cols)
        )
        by_name = {f.name: f for f in schema.fields}
        typed = raw.select(
            *[F.col(c).cast(by_name[c].dataType).alias(c) for c in cols]
        )
        for f in schema.fields:
            if f.name not in cols:
                typed = typed.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
        typed = typed.select(*[f.name for f in schema.fields])
        self.ddl.insert(name, typed)
        self._register(name)
        return None

    def _flatten_schemas(self, stmt: str) -> str:
        """Custom schemas over the flat namespace: a qualified name
        ``myschema.obj`` flattens to ``myschema__obj`` for every schema
        registered via CREATE SCHEMA (namespace.c semantics are
        emulated by name mangling; an alias that shadows a schema name
        is the documented edge)."""
        customs = [
            n for n in getattr(self.acl, "schemas", ()) if n.lower() != "public"
        ]
        if not customs:
            return stmt
        pat = re.compile(
            r"(?i)\b(" + "|".join(re.escape(n) for n in customs)
            + r")\s*\.\s*(?=[\w\"])"
        )
        parts = re.split(r"('(?:[^']|'')*')", stmt)
        return "".join(
            p if i % 2 else pat.sub(lambda m: m.group(1).lower() + "__", p)
            for i, p in enumerate(parts)
        )

    def execute(self, sql: str) -> DataFrame | None:
        """Statement entry point; wraps _execute_stmt with the
        contrib/pg_stat_statements collector (pg_stat_statements.c):
        top-level statements only (track=top — nested engine-internal
        executes are guarded out), literals normalized to $n, timing in
        milliseconds.  The view refreshes lazily when queried."""
        import time as _time

        if self._in_execute:
            return self._execute_stmt(sql)
        toks = [t.lower() for t in tokenize(sql)] if "pg_stat_statements" in sql.lower() else []
        if any(toks[i : i + 2] == ["pg_stat_statements_reset", "("] for i in range(len(toks))):
            self._stmt_stats = {}
            self._refresh_stat_statements()
            return None
        if "pg_stat_statements" in toks:
            self._refresh_stat_statements()
        self._in_execute = True
        t0 = _time.perf_counter()
        try:
            result = self._execute_stmt(sql)
        finally:
            self._in_execute = False
        self._record_statement(sql, (_time.perf_counter() - t0) * 1e3)
        return result

    def _record_statement(self, sql: str, ms: float) -> None:
        import hashlib

        norm = _normalize_statement(sql)
        st = self._stmt_stats.get(norm)
        if st is None:
            qid = int.from_bytes(
                hashlib.md5(norm.encode()).digest()[:8], "big", signed=True
            )
            st = self._stmt_stats[norm] = {
                "queryid": qid, "calls": 0, "total": 0.0,
                "min": float("inf"), "max": 0.0,
            }
        st["calls"] += 1
        st["total"] += ms
        st["min"] = min(st["min"], ms)
        st["max"] = max(st["max"], ms)

    def _refresh_stat_statements(self) -> None:
        rows = [
            (
                st["queryid"], q, st["calls"], round(st["total"], 3),
                round(st["min"], 3), round(st["max"], 3),
                round(st["total"] / st["calls"], 3),
            )
            for q, st in self._stmt_stats.items()
        ]
        schema = (
            "queryid bigint, query string, calls bigint, "
            "total_exec_time double, min_exec_time double, "
            "max_exec_time double, mean_exec_time double"
        )
        self.spark.createDataFrame(rows, schema).createOrReplaceTempView(
            "pg_stat_statements"
        )

    def _execute_stmt(self, sql: str) -> DataFrame | None:
        """Run one statement through the handler ``_ROUTES`` holds for
        its command tag (tcop/utility.c standard_ProcessUtility)."""
        # compat aliases (tsearch2 et al.) must never hijack a
        # user-defined function of the same name; the ContextVar scope
        # is per-engine per-statement, so concurrent engines can't
        # clobber each other
        from greengage_spark.dialect.transpiler import user_functions_ctx

        with user_functions_ctx(self.functions):
            stmt = _strip_public_schema(sql.strip().rstrip(";"))
            stmt = self._flatten_schemas(stmt)
            tag = _command_tag(stmt)
            if self.domains and tag not in ("create domain", "drop domain"):
                stmt = self._resolve_domains(stmt, tag)
            handler = _ROUTES.get(tag)
            if handler is None:
                raise _not_routed(tag)
            return handler(self, stmt)

    def _rewrite_for_execution(self, stmt: str, head: str) -> str:
        """The rewrites a query, DML, COPY, EXPLAIN or DO statement gets
        before its handler runs: sequence-DEFAULT columns surface into an
        INSERT first, so the lowering sees every nextval (serial
        columns, DEFAULT nextval(...) — rewriteTargetListIU before
        lowering); sequence calls are driver-evaluated / lowered; and
        comparisons/grouping on declared contrib/citext columns fold
        through lower() (operators/citext.py)."""
        if head == "insert":
            stmt = self._expand_seq_defaults(stmt)
        if _has_seq_call(stmt):
            stmt = self._lower_sequences(stmt, head)
        if head in ("select", "with", "values", "table", "update", "delete"):
            cit_cols = {
                c.name.lower()
                for td in self.ddl.tables.values()
                for c in td.columns
                if c.pg_type.strip().lower() == "citext"
            }
            if cit_cols:
                from greengage_spark.operators.citext import fold_citext_stmt

                stmt = fold_citext_stmt(stmt, cit_cols)
        return stmt

    # ---------------- relations ----------------

    def _create_table(self, stmt: str):
        mc = re.match(
            r"(?is)^create\s+(?:(?:temp(?:orary)?|unlogged|global|local)\s+)*"
            r"table\s+([\w.]+)\s+as\s+((?:select|with|values|table)\b.*)$",
            stmt,
        )
        if mc:
            return self._create_table_as(mc.group(1), mc.group(2))
        # UNLOGGED / GLOBAL / LOCAL are WAL/compat hints with no
        # analog here (storage is always the versioned parquet COW)
        stmt = re.sub(
            r"(?is)^(create\s+)(?:(?:unlogged|global|local)\s+)+", r"\1", stmt
        )
        # LIKE source_table (transformTableLikeClause): copy column
        # names/types/NOT NULL; INCLUDING DEFAULTS copies defaults too
        def _expand_like(m: "re.Match[str]") -> str:
            src = self.ddl.tables.get(m.group(1))
            if src is None:
                raise ValueError(f"unknown table {m.group(1)!r}")
            with_defaults = bool(m.group(2)) or bool(
                re.search(
                    r"(?i)including\s+(all|defaults)", m.group(3) or ""
                )
            )
            return ", ".join(
                f"{c.name} {c.pg_type}"
                + (" NOT NULL" if c.not_null else "")
                + (
                    f" DEFAULT {c.default}"
                    if with_defaults and c.default
                    else ""
                )
                for c in src.columns
            )

        stmt = re.sub(
            r"(?is)\blike\s+([\w.]+)"
            r"(\s+including\s+defaults)?"
            r"((?:\s+(?:including|excluding)\s+\w+)*)",
            _expand_like,
            stmt,
        )
        stmt = self._expand_serial(stmt)
        self.ddl.create_table(stmt)
        tname = parse_create_table(stmt).name
        if self._pending_domain_checks:
            # tag columns with their declaring domain + graft CHECKs
            for c in self.ddl.tables[tname].columns:
                dom = self._pending_domain_checks.get(c.name)
                if dom:
                    c.domain = dom
                    chk = self.domains[dom]["check"]
                    if chk:
                        c.check = re.sub(r"(?i)\bVALUE\b", c.name, chk)
            self._pending_domain_checks = {}
        self._register(tname)
        return None

    # contrib/file_fdw: CREATE SERVER ... FOREIGN DATA WRAPPER file_fdw +
    # CREATE FOREIGN TABLE ... OPTIONS (filename ...) — lowered onto the
    # (tested) external-table machinery; the postgres_fdw DDL form points
    # at the JDBC surface
    def _create_server(self, stmt: str):
        m_srv = re.match(
            r"(?is)^create\s+server\s+(?:if\s+not\s+exists\s+)?([\w.]+)\s+"
            r"foreign\s+data\s+wrapper\s+([\w.]+)\s*(?:options\s*\(.*\))?\s*$",
            stmt,
        )
        if not m_srv:
            raise _not_routed("create")
        fdw = m_srv.group(2).lower()
        if fdw != "file_fdw":
            raise NotImplementedError(
                f"foreign data wrapper {fdw!r}: file_fdw is served "
                "via DDL; postgres_fdw-style remote tables use the "
                "JDBC surface (greengage_spark.sources.foreign)"
            )
        self.servers[m_srv.group(1).lower()] = fdw
        return None

    def _create_foreign_table(self, stmt: str):
        m_ft = re.match(
            r"(?is)^create\s+foreign\s+table\s+(?:if\s+not\s+exists\s+)?"
            r"([\w.]+)\s*\((.*)\)\s*server\s+([\w.]+)\s*"
            r"(?:options\s*\((.*)\))?\s*$",
            stmt,
        )
        if not m_ft:
            raise _not_routed("create")
        name, cols, srv = (
            m_ft.group(1).lower(), m_ft.group(2), m_ft.group(3).lower(),
        )
        if self.servers.get(srv) != "file_fdw":
            raise ValueError(f'server "{srv}" does not exist')
        opts = dict(
            re.findall(
                r"(\w+)\s+E?'((?:[^']|'')*)'", m_ft.group(4) or ""
            )
        )
        opts = {k.lower(): v.replace("''", "'") for k, v in opts.items()}
        filename = opts.get("filename")
        if not filename:
            raise ValueError(
                "file_fdw foreign tables require a filename option"
            )
        fmt = opts.get("format", "text").lower()
        if fmt == "binary":
            raise NotImplementedError(
                "file_fdw format 'binary': csv and text are served"
            )
        if fmt not in ("csv", "text"):
            raise ValueError(f"file_fdw format {fmt!r}")
        # option values were unescaped ('' -> ') above; re-escape when
        # re-embedding into the generated DDL or a quote in a value
        # (delimiter '''', a filename with ') misparses downstream
        q = lambda v: v.replace("'", "''")
        pieces = [f"FORMAT '{fmt.upper()}' ("]
        delim = opts.get("delimiter")
        if delim:
            pieces.append(
                "DELIMITER E'\\t'" if delim == "\t"
                else f"DELIMITER '{q(delim)}'"
            )
        if "null" in opts:
            pieces.append(f"NULL '{q(opts['null'])}'")
        if opts.get("header", "").lower() in ("true", "on", "1"):
            pieces.append("HEADER")
        fmt_clause = pieces[0] + " ".join(pieces[1:]) + ")"
        ext = (
            f"CREATE READABLE EXTERNAL TABLE {name} ({cols}) "
            f"LOCATION ('file://{q(filename)}') {fmt_clause}"
        )
        return self._create_external_table(ext)

    def _alter_owner(self, stmt: str) -> bool:
        """ALTER TABLE|VIEW|FUNCTION|AGGREGATE name OWNER TO role:
        ownership is recorded metadata (see operators/acl.py).  False
        when the statement is another ALTER."""
        mo = re.match(
            r"(?is)^alter\s+(table|view|function|aggregate)\s+"
            r"(if\s+exists\s+)?([\w.\"]+)\s*(\([^)]*\))?\s+owner\s+to\s+"
            r"(\"?[\w$]+\"?)$",
            stmt,
        )
        if mo:
            self.acl.set_owner(
                f"{mo.group(1).lower()}:{mo.group(3).strip(chr(34))}",
                mo.group(5).strip('"'),
            )
        return bool(mo)

    def _alter_table(self, stmt: str):
        if not self._alter_owner(stmt):
            execute_alter_table(self, stmt)
        return None

    def _alter_function(self, stmt: str):
        if not self._alter_owner(stmt):
            raise _not_routed("alter")
        return None

    def _alter_view(self, stmt: str):
        if self._alter_owner(stmt):
            return None
        mvr = re.match(
            r"(?is)^alter\s+view\s+(if\s+exists\s+)?([\w.]+)\s+rename\s+to\s+"
            r"([\w.]+)$",
            stmt,
        )
        if not mvr:
            raise _not_routed("alter")
        old, new = mvr.group(2), mvr.group(3)
        if old not in self.views:
            if mvr.group(1):
                return None
            raise ValueError(f"unknown view {old!r}")
        self.views[new] = self.views.pop(old)
        self._register_all()
        try:
            self.spark.catalog.dropTempView(old)
        except Exception:
            pass
        return None

    def _drop(self, stmt: str, kind: str) -> None:
        """DROP kind [IF EXISTS] name [, ...] [CASCADE | RESTRICT]
        (dropcmds.c RemoveObjects, tablecmds.c RemoveRelations): every
        name is looked up before any is dropped.  Dependencies are not
        tracked, so RESTRICT always holds, and CASCADE is accepted only
        by the kinds ``_DROP_KINDS`` marks."""
        spec = _DROP_KINDS[kind]
        m = re.match(
            r"(?is)^drop\s+(?:materialized\s+|external\s+(?:web\s+)?|foreign\s+)?"
            r"\w+\s+(?:concurrently\s+)?(if\s+exists\s+)?(.+?)"
            r"(?:\s+(cascade|restrict))?\s*$",
            stmt,
        )
        names = [
            re.fullmatch(r"([\w.]+)\s*(\([^)]*\))?", n.strip())
            for n in split_top_level(m.group(2))
        ] if m else [None]
        if not all(n and (spec.signature or not n.group(2)) for n in names):
            raise NotImplementedError(
                f"DROP {kind.upper()} [IF EXISTS] name [, ...] [CASCADE | RESTRICT]"
            )
        if (m.group(3) or "").lower() == "cascade" and not spec.cascade:
            raise NotImplementedError(
                f"DROP {kind.upper()} ... CASCADE: dependencies are not "
                "tracked; drop the dependent objects first"
            )
        names = [n.group(1) for n in names]
        held = spec.names(self) if spec.names else None
        if held is not None and not m.group(1):
            for name in names:
                if name not in held:
                    raise (spec.missing or _unknown(kind))(name)
        for name in names:
            if held is None or name in held:
                spec.remove(self, name)
        return None

    def _remove_table(self, name: str) -> None:
        del self.ddl.tables[name]
        # PG drops the relation's storage; without this a later CREATE
        # TABLE of the same name finds stale manifests.  Inside a
        # transaction the removal defers to COMMIT so ROLLBACK can
        # resurrect the data (xact.c pending deletes).
        if self._txn is not None:
            self._txn["deferred_rm"].append(f"{self.ddl.root}/{name}")
        else:
            import shutil

            shutil.rmtree(f"{self.ddl.root}/{name}", ignore_errors=True)
        self.spark.catalog.dropTempView(name)

    def _remove_view(self, name: str) -> None:
        del self.views[name]
        self.spark.catalog.dropTempView(name)

    def _remove_matview(self, name: str) -> None:
        self.matviews.pop(name)
        self._remove_table(name)

    def _remove_external(self, name: str) -> None:
        self.external.pop(name, None)
        try:
            self.spark.catalog.dropTempView(name)
        except Exception:
            pass

    def _remove_function(self, name: str) -> None:
        self.functions.pop(name, None)
        if self.pl_registry.pop(name.lower(), None) is None:
            return
        # registered UDF closures pickle a SNAPSHOT of the registry;
        # re-register survivors so their snapshot no longer resolves the
        # dropped name (PG errors at next execution too)
        from greengage_spark.operators.udf_ddl import register_function

        ctypes = self._composite_types()
        for fd in self.functions.values():
            if getattr(fd, "language", None) in ("plpgsql", "sql", "plpythonu"):
                try:
                    register_function(
                        self.spark, fd, transpile,
                        registry=self.pl_registry,
                        composite_types=ctypes,
                    )
                except Exception as exc:  # noqa: BLE001
                    # best effort, but never silently: a survivor that
                    # fails to recompile keeps its previous
                    # (stale-registry) registration
                    import logging

                    logging.getLogger(__name__).warning(
                        "re-register of %s after DROP FUNCTION "
                        "failed: %s", fd.name, exc,
                    )

    # ---------------- recorded DDL ----------------

    def _text_search_dictionary(self, stmt: str):
        m_tsd = re.match(
            r"(?is)^(create|alter|drop)\s+text\s+search\s+dictionary\s+"
            r"(?:if\s+exists\s+)?([\w.]+)\s*(?:\((.*)\))?\s*$",
            stmt,
        )
        if not m_tsd:
            raise NotImplementedError(
                "CREATE|ALTER|DROP TEXT SEARCH DICTIONARY name [(options)]"
            )
        from greengage_spark.functions import tsdicts

        action = m_tsd.group(1).lower()
        name = m_tsd.group(2).split(".")[-1]
        opts: dict = {}
        template = None
        for item in (m_tsd.group(3) or "").split(","):
            if not item.strip():
                continue
            k, _, v = item.partition("=")
            k, v = k.strip().lower(), v.strip()
            if k == "template":
                template = v
            else:
                opts[k] = v
        if action == "create":
            if template is None:
                raise ValueError(
                    "text search template is required for CREATE "
                    "TEXT SEARCH DICTIONARY"
                )
            tsdicts.create_dictionary(name, template, opts)
        elif action == "alter":
            tsdicts.alter_dictionary(name, opts)
        else:
            tsdicts.drop_dictionary(name)
        return None

    def _record_object(self, stmt: str):
        """CREATE/DROP EXTENSION | LANGUAGE | DATABASE | TABLESPACE:
        recorded metadata, like roles/queues (operators/acl.py):
        extensions gate nothing here (hstore/citext/text-search surfaces
        are built in), languages are checked at CREATE FUNCTION,
        databases/tablespaces are deployment topology."""
        mx = re.match(
            r"(?is)^(create|drop)\s+(extension|(?:trusted\s+)?(?:procedural\s+)?"
            r"language|database|tablespace)\s+(if\s+(?:not\s+)?exists\s+)?"
            r"(\"?[\w$]+\"?)",
            stmt,
        )
        if not mx:
            raise NotImplementedError(
                "CREATE|DROP EXTENSION|LANGUAGE|DATABASE|TABLESPACE name"
            )
        kind = re.sub(r"\s+", " ", mx.group(2).lower()).split()[-1]
        store = self.acl.recorded.setdefault(kind, set())
        name = mx.group(4).strip('"')
        if mx.group(1).lower() == "create":
            store.add(name)
        else:
            store.discard(name)
        return None

    def _record_ddl(self, stmt: str):
        """CREATE CAST (functions/cast.c), CREATE OPERATOR [CLASS]
        (operatorcmds.c), ALTER DEFAULT PRIVILEGES (aclchk.c): recorded —
        resolution happens at use sites, which error loudly if the op or
        cast is actually exercised; privileges are metadata-only here
        (operators/acl.py)."""
        key = " ".join(stmt.split(None, 3)[:3]).lower()
        self.misc_ddl[("stmt", key + f"#{len(self.misc_ddl)}")] = stmt
        return None

    def _create_type(self, stmt: str):
        men = re.match(
            r"(?is)^create\s+type\s+([\w.]+)\s+as\s+enum\s*\((.*)\)\s*$", stmt
        )
        if men:
            # CREATE TYPE AS ENUM (gram.y CreateEnumStmt; pg_enum.c),
            # realized on the domain machinery: text base + membership
            # CHECK, so enum-typed columns validate labels on INSERT and
            # ::enumtype casts resolve.  DIVERGENCE (documented): PG
            # orders enum values by declaration position; here they
            # compare as text.  Label list is preserved for
            # introspection/round-trip.
            name = men.group(1)
            labels = [
                x.strip()[1:-1].replace("''", "'")
                for x in split_top_level(men.group(2))
                if x.strip()
            ]
            if name in self.domains:
                raise ValueError(f"type {name!r} already exists")
            in_list = ", ".join(
                "'" + lab.replace("'", "''") + "'" for lab in labels
            )
            self.domains[name] = {
                "base": "text",
                "not_null": False,
                "default": None,
                "check": f"VALUE IN ({in_list})",
                "enum_labels": labels,
            }
            return None
        mct = re.match(r"(?is)^create\s+type\s+([\w.]+)\s+as\s*\((.*)\)\s*$", stmt)
        if not mct:
            raise _not_routed("create")
        # composite type (CompositeTypeStmt; typecmds.c
        # DefineCompositeType): recorded metadata so dumps restore and
        # introspection can list it; using it as a column type errors
        # at the use site (no struct-column storage mapping yet)
        self.misc_ddl[("composite_type", mct.group(1))] = mct.group(2).strip()
        return None

    # ---------------- session ----------------

    def _discard(self, stmt: str):
        m = re.match(r"(?is)^discard\s+(all|plans|sequences|temp(orary)?)$", stmt)
        if not m:
            raise NotImplementedError("DISCARD ALL|PLANS|SEQUENCES|TEMP")
        if m.group(1).lower() == "all":
            # discard.c: RESET ALL + DEALLOCATE ALL + close portals
            self.gucs.reset("RESET ALL")
            self.prepared.clear()
            self.cursors.clear()
        elif m.group(1).lower() == "plans":
            self.prepared.clear()
        return None

    def _load(self, stmt: str):
        # contrib module loading (commands/extension LOAD): modules
        # whose behavior this engine models activate; others reject
        m = re.match(r"(?is)^load\s+'([^']+)'\s*$", stmt)
        if not m:
            raise NotImplementedError("LOAD 'module'")
        mod = m.group(1).rsplit("/", 1)[-1]
        if mod == "auto_explain":
            self._loaded_modules.add("auto_explain")
            return None
        raise NotImplementedError(
            f"LOAD {mod!r}: only auto_explain is modeled (server-side "
            "C modules have no Spark analog)"
        )

    # ---------------- queries ----------------

    def _query(self, stmt: str, head: str):
        """SELECT / WITH / VALUES / TABLE: the full dialect surface via
        dialect.transpiler, after the engine-side folds below."""
        if head == "select":
            df = self._utility_select(stmt)
            if df is not None:
                return df
        stmt = self._rewrite_for_execution(stmt, head)
        if head == "with" and not re.match(r"(?is)^\s*with\s+recursive\b", stmt):
            wcte = self._try_wcte(stmt)
            if wcte is not _NOT_WCTE:
                return wcte
        self._register_all()
        stmt = self._fold_catalog_calls(stmt)
        if head == "select":
            iidx = find_top_level(stmt, "into")
            if iidx >= 0:
                # SELECT ... INTO [TEMP|UNLOGGED] [TABLE] name
                # (parse_clause.c transformIntoClause) ≡ CREATE TABLE
                # name AS <select-without-INTO>
                tail = stmt[iidx + 4 :]
                mi = re.match(
                    r"(?is)^\s*(?:temp(?:orary)?\s+|unlogged\s+)?"
                    r"(?:table\s+)?([\w.]+)\s*",
                    tail,
                )
                if not mi:
                    raise NotImplementedError(
                        "SELECT ... INTO [TEMP] [TABLE] name"
                    )
                sel = stmt[:iidx] + " " + tail[mi.end() :]
                return self.execute(
                    f"CREATE TABLE {mi.group(1)} AS {sel}"
                )
        if re.search(r"(?i)\bcrosstab\s*\(", stmt):
            from greengage_spark.operators.crosstab import expand_crosstab

            stmt = expand_crosstab(self, stmt)
        # tsearch2 compat: legacy stat('query') is ts_stat (the
        # FROM-position SRF expands pre-transpile, so alias here
        # too) — only outside string literals, and never when the
        # user defined their own stat() function
        if "stat" not in self.functions:
            # the '...' argument is the NEXT split segment, so the
            # quote shows up as segment end, not a lookahead match
            stmt = _sub_outside_strings(
                r"(?i)(?<![\w.])stat\s*\(\s*\Z", "ts_stat(", stmt
            )
        if re.search(
            r"(?i)\b(ts_stat|connectby|normal_rand)\s*\(", stmt
        ):
            from greengage_spark.operators.contrib_srf import (
                expand_contrib_srfs,
            )

            stmt = expand_contrib_srfs(self, stmt)
        if re.search(r"(?i)\bdblink", stmt):
            from greengage_spark.sources import dblink as _dbl

            handled = _dbl.maybe_handle_call(self, stmt)
            if handled is not None:
                return handled
            stmt = _dbl.expand_dblink(self, stmt)
        if any(getattr(f, "setof", False) for f in self.functions.values()):
            from greengage_spark.operators.udf_ddl import expand_table_macros

            stmt = expand_table_macros(stmt, self.functions, engine=self)
        for nm, mvd in self.matviews.items():
            if not mvd["populated"] and re.search(
                rf"(?i)\b{re.escape(nm)}\b", stmt
            ):
                raise ValueError(
                    f'materialized view "{nm}" has not been populated'
                )
        if re.search(
            r"(?is)\b(pg_tables|pg_views|pg_indexes|pg_matviews|"
            r"pg_roles|pg_namespace|pg_class|pg_attribute|"
            r"pg_catalog|information_schema)\b",
            stmt,
        ):
            from greengage_spark.operators.introspection import (
                register_introspection_views,
            )

            register_introspection_views(self)
            # Spark temp views cannot be schema-qualified: pg_catalog.
            # drops (its members are plain views), information_schema.X
            # maps to the __information_schema_X views.
            stmt = re.sub(r"(?is)\bpg_catalog\s*\.\s*", "", stmt)
            stmt = re.sub(
                r"(?is)\binformation_schema\s*\.\s*(\w+)",
                r"__information_schema_\1",
                stmt,
            )
        df = pg_sql(self.spark, self._mark_geo_columns(stmt))
        self._auto_explain(df, stmt)
        return df

    def _fold_catalog_calls(self, stmt: str) -> str:
        """Fold, at their call sites, the catalog and GUC functions that
        read engine state: pg_relation_size / pg_table_size /
        pg_total_relation_size (dbsize.c) to the byte total of the
        table's current manifest data files (all three coincide: no
        FSM/VM/toast/index forks); pg_get_viewdef (ruleutils.c) to the
        recorded defining query; obj_description (commands/comment.c) to
        the COMMENT ON text, NULL when unset; has_*_privilege to true
        (one role; ACLs are recorded metadata — aclchk.c);
        current_setting / set_config (guc.c) through the GUC manager,
        set_config applying its side effect now; gp_dist_random('t') to
        t (cdbutil.c: with Spark's execution model the plain table read
        IS the per-partition scan).  A call whose arguments are not the
        plain literals these forms take stays as written."""

        def quote(v: str) -> list[str]:
            return ["'" + v.replace("'", "''") + "'"]

        def relation_size(args):
            arg = args[0][0] if len(args) == 1 and len(args[0]) == 1 else ""
            if not re.fullmatch(r"'[\w.]+'|\"[\w.]+\"", arg):
                return None
            try:
                files = self._storage(arg[1:-1]).files()
            except Exception:
                return None  # unknown table: let analysis error
            return [str(sum(os.path.getsize(f) for f in files if os.path.exists(f)))]

        def viewdef(args):
            name = _literal(args[0])
            src = self.views.get(name) or self.matviews.get(name, {}).get("query")
            return None if src is None or len(args) > 2 else quote(src)

        def objdesc(args):
            regclass = [t.lower() for t in args[0][1:]] in ([], ["::", "regclass"])
            name = _literal(args[0][:1]) if regclass and len(args) <= 2 else None
            if name is None:
                return None
            for kind in ("table", "view", "materialized view", "schema"):
                c = self.acl.comments.get((kind, name.split(".")[-1]))
                if c is not None:
                    return quote(c)
            return ["CAST(NULL AS STRING)"]

        def setting(args):
            name = _literal(args[0]) if len(args) == 1 else None
            return None if name is None else quote(str(self.gucs.current(name)))

        def set_config(args):
            name, val = (_literal(a) for a in args[:2]) if len(args) == 3 else (None, None)
            if name is None or val is None:
                return None
            local = "".join(args[2]).lower() in ("true", "'t'", "1")
            self.gucs.set(
                f"SET {'LOCAL ' if local else ''}{name} = '{val}'",
                in_txn=self._txn is not None,
            )
            return quote(val)

        def dist_random(args):
            name = _literal(args[0]) if len(args) == 1 else None
            return [name] if name and re.fullmatch(r"[\w.]+", name) else None

        folds = {
            "pg_get_viewdef": viewdef,
            "obj_description": objdesc,
            "current_setting": setting,
            "set_config": set_config,
            "gp_dist_random": dist_random,
            **dict.fromkeys(
                ("pg_relation_size", "pg_table_size", "pg_total_relation_size"),
                relation_size,
            ),
            **dict.fromkeys(
                (f"has_{kind}_privilege" for kind in
                 ("table", "schema", "database", "function", "column")),
                lambda args: ["true"],
            ),
        }
        toks = tokenize(stmt)
        out = rewrite_calls(toks, folds, lambda n, args: folds[n.lower()](args or [[]]))
        return stmt if out == toks else join_tokens(out)

    def _utility_select(self, stmt: str) -> DataFrame | None:
        """The SELECTs of one server-side function call that act on the
        engine rather than on rows; None for any other SELECT."""
        # generic file-access functions (utils/adt/genfile.c:
        # pg_read_file / pg_ls_dir / pg_stat_file): superuser-only in
        # PG; here gated by an explicit session opt-in, with relative
        # paths resolved under the engine's data directory (PG's own
        # data-dir restriction)
        m_gf = re.match(
            r"(?is)^select\s+(?:\*\s+from\s+)?"
            r"(pg_read_file|pg_ls_dir|pg_stat_file)\s*\(\s*'([^']+)'\s*"
            r"(?:,\s*(\d+)\s*,\s*(\d+)\s*)?\)\s*(?:as\s+\w+\s*)?;?\s*$",
            stmt,
        )
        if m_gf:
            return self._genfile(
                m_gf.group(1).lower(), m_gf.group(2),
                m_gf.group(3), m_gf.group(4),
            )
        # contrib/pg_prewarm (pg_prewarm.c): load a relation into cache.
        # Spark's buffer cache analog is the block manager — cacheTable
        # + an eager materialization; returns the number of cached
        # partitions (the "blocks prewarmed" analog, documented).
        m_warm = re.match(
            r"(?is)^select\s+pg_prewarm\s*\(\s*'([\w.]+)'\s*"
            r"(?:,\s*'(\w+)'\s*)?(?:,\s*'(\w+)'\s*)?\)\s*"
            r"(?:as\s+\w+\s*)?;?\s*$",
            stmt,
        )
        if m_warm:
            name = m_warm.group(1).split(".")[-1].lower()
            mode = (m_warm.group(2) or "buffer").lower()
            if mode not in ("buffer", "read", "prefetch"):
                raise ValueError(f'invalid prewarm mode "{mode}"')
            df = self.execute(f"SELECT * FROM {name}")
            df = df.cache()
            df.count()  # eager load into the block manager
            nparts = df.rdd.getNumPartitions()
            return self.spark.createDataFrame(
                [(nparts,)], "pg_prewarm bigint"
            )
        # contrib/pgstattuple (pgstattuple.c): tuple-level statistics.
        # COW-manifest analog: live = the current manifest's parquet
        # files, dead = superseded data files still on disk (what VACUUM
        # would reclaim); free_space is 0 — parquet files are packed.
        m_pst = re.match(
            r"(?is)^select\s+\*\s+from\s+pgstattuple\s*\(\s*'([\w.]+)'\s*\)"
            r"\s*;?\s*$",
            stmt,
        )
        if m_pst:
            name = m_pst.group(1).split(".")[-1].lower()
            st = self._storage(name)
            live = {os.path.realpath(f) for f in st.files()}
            all_parquet = set()
            for base, _dirs, fnames in os.walk(st.root):
                for fn in fnames:
                    if fn.endswith(".parquet"):
                        all_parquet.add(os.path.realpath(os.path.join(base, fn)))
            dead = sorted(all_parquet - live)

            def total(paths):
                return sum(os.path.getsize(p) for p in paths
                           if os.path.exists(p))

            live_len, dead_len = total(live), total(dead)
            table_len = live_len + dead_len
            tuple_count = self.ddl.table(name).count()
            dead_count = (
                self.spark.read.parquet(*dead).count() if dead else 0
            )
            pct = lambda part: (
                round(100.0 * part / table_len, 2) if table_len else 0.0
            )
            return self.spark.createDataFrame(
                [(
                    table_len, tuple_count, live_len, pct(live_len),
                    dead_count, dead_len, pct(dead_len), 0, 0.0,
                )],
                "table_len bigint, tuple_count bigint, tuple_len bigint, "
                "tuple_percent double, dead_tuple_count bigint, "
                "dead_tuple_len bigint, dead_tuple_percent double, "
                "free_space bigint, free_percent double",
            )
        # gp_parallel_retrieve_cursor's wait function (the extension's
        # gp_wait_parallel_retrieve_cursor): materialization is eager
        # here, so it reports the retrieval state without blocking
        m_wait = re.match(
            r"(?is)^select\s+(?:\*\s+from\s+)?"
            r"gp_wait_parallel_retrieve_cursor\s*\(\s*'(\w+)'\s*"
            r"(?:,\s*(-?\d+)\s*)?\)\s*;?\s*$",
            stmt,
        )
        if m_wait:
            cur = self.parallel_cursors.get(m_wait.group(1).lower())
            if cur is None:
                raise ValueError(
                    f"cursor \"{m_wait.group(1)}\" does not exist"
                )
            return self.spark.createDataFrame(
                [(cur.finished(),)], "finished boolean"
            )
        return None

    def _do_block(self, stmt: str):
        """DO $$ ... $$ anonymous blocks (gram.y DoStmt), run driver-side
        through the full plpgsql interpreter (plpgsql_interp.run_block):
        loops, IF, EXCEPTION handlers, RAISE NOTICE (recorded to
        self.notices — PG sends them to the client, not the result), and
        the SQL statements — PERFORM, SELECT INTO, INSERT/UPDATE/DELETE,
        EXECUTE expr, FOR rec IN <query> — executed through this engine."""
        stmt = self._rewrite_for_execution(stmt, "do")
        m = re.match(
            r"(?is)^do\s+(?:language\s+plpgsql\s+)?\$[\w]*\$(.*)\$[\w]*\$"
            r"(?:\s+language\s+plpgsql)?\s*$",
            stmt,
            re.DOTALL,
        )
        if not m:
            raise NotImplementedError("DO $$ body $$ [LANGUAGE plpgsql]")
        body = m.group(1).strip()
        from greengage_spark.operators.plpgsql_interp import run_block

        def hook(sql: str):
            # rowcount feeds GET DIAGNOSTICS row_count: len(rows) for
            # row-returning statements, the engine's tracked DML count
            # otherwise (None = shape whose count we refuse to guess)
            self.last_rowcount = None
            df = self.execute(sql)
            if df is not None:
                rows = df.collect()
                hook.rowcount = len(rows)
                return rows
            hook.rowcount = self.last_rowcount
            return []

        def cursor_factory(sql: str):
            # engine-backed portal: streams via toLocalIterator with the
            # retained-extent scroll machinery (operators/prepared.py)
            from greengage_spark.operators.prepared import Cursor

            return Cursor("__plpgsql__", self.execute(sql), scroll=True)

        notices: list = []
        prev = self._track_rowcount
        self._track_rowcount = True
        try:
            run_block(body, hook, notices, cursor_factory=cursor_factory,
                      types=self._composite_types())
        finally:
            self._track_rowcount = prev
        self.notices.extend(msg for _lvl, msg in notices)
        return None

    # ---------------- transactions ----------------
    #
    # BEGIN/COMMIT/ROLLBACK over copy-on-write manifests (the xact.c
    # surface a ported script actually uses).  Data files are immutable
    # and never deleted mid-transaction, so ROLLBACK is O(1) per table:
    # re-commit each table's pre-BEGIN manifest verbatim
    # (WritableTable.restore) and restore the catalog snapshot.  DROP
    # TABLE inside a transaction defers its storage removal to COMMIT so
    # the data stays rollback-reachable.  Sequences are intentionally
    # non-transactional, exactly as in PG (sequence.c: nextval is never
    # rolled back).  SAVEPOINTs are not supported.

    def _snapshot_state(self) -> dict:
        """Catalog + manifest-version snapshot — O(tables), no data I/O.

        Data files are immutable, so a snapshot is just the manifest version
        number per table plus catalog dict copies; restoring re-commits the
        old manifest verbatim (xact.c's pending-deletes discipline without
        ever touching data).  The same structure backs both BEGIN and
        SAVEPOINT (subtransaction stack, xact.c PushTransaction)."""
        import copy

        return {
            "tables": copy.deepcopy(self.ddl.tables),
            "views": dict(self.views),
            "matviews": copy.deepcopy(self.matviews),
            "domains": copy.deepcopy(self.domains),
            "functions": dict(self.functions),
            "versions": {
                name: self._storage(name).version for name in self.ddl.tables
            },
            "gucs": self.gucs.snapshot(),
        }

    def _restore_state(self, snap: dict) -> None:
        import shutil

        created = set(self.ddl.tables) - set(snap["tables"])
        self.ddl.tables = snap["tables"]
        self.views = snap["views"]
        self.matviews = snap.get("matviews", {})
        self.domains = snap.get("domains", {})
        self.functions = snap["functions"]
        for k in list(self.pl_registry):
            if k not in {n.lower() for n in self.functions}:
                self.pl_registry.pop(k, None)
        for name in created:
            shutil.rmtree(f"{self.ddl.root}/{name}", ignore_errors=True)
            try:
                self.spark.catalog.dropTempView(name)
            except Exception:
                pass
        for name, version in snap["versions"].items():
            self._storage(name).restore(version)
            self._register(name)
        self.gucs.restore(snap["gucs"])

    def _begin_txn(self):
        if self._txn is not None:
            return None  # PG: WARNING, transaction already in progress
        self._txn = self._snapshot_state()
        self._txn["deferred_rm"] = []
        self._txn["savepoints"] = []  # [(name, snapshot, deferred_rm_len)]
        # portals opened inside the txn close at COMMIT unless WITH HOLD
        # (portalcmds.c PersistHoldablePortal) and always at ROLLBACK
        self._txn["cursors_at_begin"] = set(self.cursors)
        return None

    # ---------------- savepoints (xact.c subtransactions) ----------------

    def _savepoint(self, stmt: str):
        m = re.match(r"(?is)^savepoint\s+([\w]+)$", stmt)
        if not m:
            raise NotImplementedError("SAVEPOINT name")
        if self._txn is None:
            raise ValueError("SAVEPOINT can only be used in transaction blocks")
        self._txn["savepoints"].append(
            (m.group(1).lower(), self._snapshot_state(), len(self._txn["deferred_rm"]))
        )
        return None

    def _find_savepoint(self, name: str) -> int:
        for i in range(len(self._txn["savepoints"]) - 1, -1, -1):
            if self._txn["savepoints"][i][0] == name:
                return i
        raise ValueError(f'savepoint "{name}" does not exist')

    def _rollback_to_savepoint(self, stmt: str):
        m = re.match(r"(?is)^rollback\s+to\s+(?:savepoint\s+)?([\w]+)$", stmt)
        if not m:
            raise NotImplementedError("ROLLBACK TO [SAVEPOINT] name")
        if self._txn is None:
            raise ValueError("ROLLBACK TO can only be used in transaction blocks")
        i = self._find_savepoint(m.group(1).lower())
        name, snap, rm_len = self._txn["savepoints"][i]
        self._restore_state(snap)
        self._txn["deferred_rm"] = self._txn["deferred_rm"][:rm_len]
        # later savepoints die; the target survives (PG keeps it re-usable)
        self._txn["savepoints"] = self._txn["savepoints"][: i + 1]
        return None

    def _release_savepoint(self, stmt: str):
        m = re.match(r"(?is)^release\s+(?:savepoint\s+)?([\w]+)$", stmt)
        if not m:
            raise NotImplementedError("RELEASE [SAVEPOINT] name")
        if self._txn is None:
            raise ValueError("RELEASE can only be used in transaction blocks")
        i = self._find_savepoint(m.group(1).lower())
        # releases the savepoint and everything after it; changes are kept
        self._txn["savepoints"] = self._txn["savepoints"][:i]
        return None

    def _commit_txn(self):
        import shutil

        if self._txn is None:
            return None  # PG: WARNING, no transaction in progress
        # persist/close portals FIRST: a held portal over a table dropped
        # in this txn must materialize before its storage is removed
        pre = self._txn.get("cursors_at_begin", set())
        for cname in list(self.cursors):
            if cname in pre:
                continue
            cur = self.cursors[cname]
            if getattr(cur, "holdable", False):
                # PersistHoldablePortal: materialize, keep position
                cur.persist()
            else:
                del self.cursors[cname]  # non-holdable portals die here
        for path in self._txn["deferred_rm"]:
            # a table dropped then re-created under the same name owns
            # the path again — leave it alone
            if path.rsplit("/", 1)[-1] not in self.ddl.tables:
                shutil.rmtree(path, ignore_errors=True)
        self.gucs.end_txn_commit(self._txn["gucs"])
        self._txn = None
        return None

    def _rollback_txn(self):
        if self._txn is None:
            return None
        snap = self._txn
        self._txn = None
        self._restore_state(snap)
        # every portal opened inside the aborted txn dies, WITH HOLD too
        # (portalcmds.c: hold only survives successful COMMIT)
        pre = snap.get("cursors_at_begin", set())
        for cname in list(self.cursors):
            if cname not in pre:
                del self.cursors[cname]
        return None

    def _try_wcte(self, stmt: str):
        """Data-modifying CTEs (gram.y common_table_expr with DML body;
        PG 9.1 wCTE, rewriteHandler.c): each INSERT/UPDATE/DELETE CTE
        runs exactly once in statement order, its RETURNING set becomes
        the CTE's rows; plain CTEs re-attach to the final statement.
        Documented divergence (COVERAGE.md): PG evaluates all wCTE
        bodies against one shared pre-statement snapshot; here they run
        sequentially, so a later body re-reading a table an earlier body
        modified sees the modification.
        Returns _NOT_WCTE when no CTE body is DML (plain WITH query)."""
        from greengage_spark.dialect.recursive_sql import parse_with_clauses

        try:
            ctes, main = parse_with_clauses(stmt)
        except ValueError:
            return _NOT_WCTE
        dml = ("insert", "update", "delete")
        if not any(_command_tag(body) in dml for _name, _cols, body in ctes):
            return _NOT_WCTE
        registered: list[str] = []
        plain: list[str] = []
        try:
            for name, cols, body in ctes:
                if _command_tag(body) in dml:
                    df = self.execute(body)
                    if df is None:
                        continue  # no RETURNING → not referencable (PG)
                    df = df.localCheckpoint(eager=True)
                    if cols:
                        df = df.toDF(*cols)
                    df.createOrReplaceTempView(name)
                    registered.append(name)
                else:
                    collist = f"({', '.join(cols)})" if cols else ""
                    plain.append(f"{name}{collist} AS ({body})")
            final = (f"WITH {', '.join(plain)} {main}") if plain else main
            out = self.execute(final)
            if out is not None and registered:
                # the result must survive the temp-view cleanup below
                out = out.localCheckpoint(eager=True)
            return out
        finally:
            for name in registered:
                self.spark.catalog.dropTempView(name)

    # ---------------- functions / aggregates ----------------

    def _create_function(self, stmt: str):
        from greengage_spark.operators.udf_ddl import (
            parse_create_function,
            register_function,
        )

        fd, replace = parse_create_function(stmt)
        if fd.name in self.functions and not replace:
            raise ValueError(f"function {fd.name!r} already exists")
        # the statement-level pass treats the $$-quoted body as a
        # literal, so pg_dump's public. qualifiers inside SQL bodies
        # survive to macro-expansion / Spark registration where no
        # further stripping happens — strip them here instead
        if fd.language in ("sql", "plpgsql"):
            fd.body = _strip_public_schema(fd.body)
        register_function(
            self.spark, fd, transpile, registry=self.pl_registry,
            composite_types=self._composite_types(),
        )
        self.functions[fd.name] = fd
        return None

    def _create_aggregate(self, stmt: str):
        from greengage_spark.operators.udf_ddl import (
            parse_create_aggregate,
            register_aggregate,
            resolve_transition,
        )

        ad, replace = parse_create_aggregate(stmt)
        if ad.name in self.functions and not replace:
            raise ValueError(f"aggregate {ad.name!r} already exists")
        register_aggregate(
            self.spark, ad, lambda n: resolve_transition(n, self.functions)
        )
        self.functions[ad.name] = ad
        return None

    # ---------------- sequences ----------------

    def _create_sequence(self, stmt: str):
        from greengage_spark.operators.sequence import Sequence

        m = re.match(
            r"(?is)^create\s+(?:temp(?:orary)?\s+)?sequence\s+"
            r"(if\s+not\s+exists\s+)?([\w.]+)(.*)$",
            stmt,
        )
        if not m:
            raise NotImplementedError("CREATE SEQUENCE [IF NOT EXISTS] name [options]")
        name, opts = m.group(2), m.group(3) or ""
        kw: dict = {}
        mm = re.search(r"(?is)\bincrement\s+(?:by\s+)?(-?\d+)", opts)
        if mm:
            kw["increment"] = int(mm.group(1))
        mm = re.search(r"(?is)\bstart\s+(?:with\s+)?(-?\d+)", opts)
        if mm:
            kw["start"] = int(mm.group(1))
        mm = re.search(r"(?is)\bminvalue\s+(-?\d+)", opts)
        if mm:
            kw["minvalue"] = int(mm.group(1))
        mm = re.search(r"(?is)\bmaxvalue\s+(-?\d+)", opts)
        if mm:
            kw["maxvalue"] = int(mm.group(1))
        if re.search(r"(?is)(?<!no\s)\bcycle\b", opts):
            kw["cycle"] = True
        inc = kw.get("increment", 1)
        if "start" not in kw and "minvalue" in kw and inc > 0:
            kw["start"] = kw["minvalue"]
        if "start" not in kw and "maxvalue" in kw and inc < 0:
            kw["start"] = kw["maxvalue"]
        if "start" not in kw and inc < 0:
            kw["start"] = -1
        self.sequences.create(Sequence(name=name, **kw), if_not_exists=bool(m.group(1)))
        return None

    def _alter_sequence(self, stmt: str):
        m = re.match(
            r"(?is)^alter\s+sequence\s+([\w.]+)\s+restart(?:\s+with\s+(-?\d+))?$", stmt
        )
        if m:
            seq = self.sequences.get(m.group(1))
            seq.last_value = int(m.group(2)) if m.group(2) else seq.start
            seq.is_called = False
            self.sequences._save()
            return None
        mo = re.match(
            r"(?is)^alter\s+sequence\s+([\w.]+)\s+"
            r"(?:owner\s+to\s+([\w\"]+)|owned\s+by\s+([\w.]+|none))\s*$",
            stmt,
        )
        if mo:
            # pg_dump pairing metadata (sequence.c): ownership recorded,
            # no executor effect (serial columns already bind through
            # _expand_serial)
            self.sequences.get(mo.group(1))  # validate it exists
            self.acl.set_owner(
                f"sequence:{mo.group(1)}", mo.group(2) or mo.group(3)
            )
            return None
        raise NotImplementedError(
            "ALTER SEQUENCE name RESTART [WITH n] | OWNER TO r | OWNED BY t.c"
        )

    def _lower_sequences(self, stmt: str, head: str) -> str:
        """Driver-evaluate setval/currval; lower nextval.  Scalar contexts
        (VALUES rows, FROM-less selects) substitute allocated literals in
        PG's row-major, left-to-right call order; per-row nextval over a
        FROM query counts rows once, reserves the whole range on the
        driver (the reference's master sequence-server analog,
        sequence.c nextval_internal cache), and emits a row_number
        window — unique + monotonic, not gapless, as in PG."""
        stmt = _SETVAL.sub(
            lambda m: str(
                self.sequences.setval(
                    m.group(1),
                    int(m.group(2)),
                    m.group(3) is None or m.group(3).lower() == "true",
                )
            ),
            stmt,
        )
        stmt = _CURRVAL.sub(lambda m: str(self.sequences.currval(m.group(1))), stmt)
        if not _NEXTVAL.search(stmt):
            return stmt
        if head in ("update", "delete"):
            raise NotImplementedError(
                "nextval in UPDATE/DELETE is not supported; rewrite as "
                "INSERT ... SELECT"
            )
        if head == "insert":
            msel = re.search(r"(?is)\b(select|with)\b", stmt)
            body_start = msel.start() if msel else -1
            has_from = (
                body_start >= 0 and find_top_level(stmt[body_start:], "from") >= 0
            )
        else:
            body_start = 0
            has_from = head in ("select", "with") and find_top_level(stmt, "from") >= 0
        if not has_from:
            return _NEXTVAL.sub(lambda m: str(self.sequences.nextval(m.group(1))), stmt)
        self._register_all()
        probe = _NEXTVAL.sub("CAST(NULL AS BIGINT)", stmt)
        # one planning pass collects PER-PARTITION row counts (replacing a
        # plain count(*) probe at the same cost), so each partition can be
        # assigned its own dense index span
        pid_counts = {
            r["__pid"]: r["__n"]
            for r in pg_sql(
                self.spark,
                f"SELECT spark_partition_id() AS __pid, count(*) AS __n "
                f"FROM ({probe[body_start:]}) __seq_probe GROUP BY __pid",
            ).collect()
        }
        nrows = sum(pid_counts.values())
        per_seq: dict[str, int] = {}
        for m in _NEXTVAL.finditer(stmt):
            per_seq[m.group(1)] = per_seq.get(m.group(1), 0) + 1
        if nrows == 0:
            return probe
        bases = {s: self.sequences.reserve(s, nrows * n) for s, n in per_seq.items()}
        counters = {s: 0 for s in per_seq}
        # dense per-row index WITHOUT a global window (a row_number() over
        # all rows would funnel the whole INSERT through one task): each
        # partition owns the span [offset[pid], offset[pid]+count[pid]) and
        # the within-partition position comes from the low 33 bits of
        # monotonically_increasing_id (pid<<33 | local row index) — pure
        # per-row arithmetic, zero exchanges.  If the real run's partition
        # layout ever deviated from the probe's (unknown pid, or more rows
        # in a partition than probed), the guard raises rather than risk
        # duplicate sequence values.
        offsets: dict[int, int] = {}
        acc = 0
        for pid in sorted(pid_counts):
            offsets[pid] = acc
            acc += pid_counts[pid]
        cnt_map = ", ".join(f"{p}, {n}" for p, n in sorted(pid_counts.items()))
        off_map = ", ".join(f"{p}, {o}" for p, o in sorted(offsets.items()))
        local_ix = "(monotonically_increasing_id() % 8589934592)"
        dense = (
            f"(element_at(map({off_map}), spark_partition_id()) + {local_ix})"
        )
        guard = (
            f"{local_ix} < element_at(map({cnt_map}), spark_partition_id())"
        )

        def _repl(m: "re.Match[str]") -> str:
            s = m.group(1)
            k = counters[s]
            counters[s] += 1
            seq = self.sequences.get(s)
            return (
                f"CAST(IF({guard}, "
                f"{bases[s]} + {seq.increment} * ({k} + {per_seq[s]} * {dense}), "
                f"raise_error('nextval: partition layout changed between "
                f"planning and execution; retry the statement')) AS BIGINT)"
            )

        return _NEXTVAL.sub(_repl, stmt)

    def _auto_explain(self, df: DataFrame, stmt: str) -> None:
        """contrib/auto_explain (auto_explain.c): when loaded and
        auto_explain.log_min_duration >= 0, append the query's physical
        plan to ``notices`` (PG logs it server-side).  Divergence,
        documented: plans here are LAZY — execution happens when the
        caller collects — so the threshold acts as an on/off switch and
        the duration line reads n/a; auto_explain.log_analyze would need
        eager double execution and rejects loudly when set on."""
        if "auto_explain" not in self._loaded_modules:
            return
        try:
            thresh = int(
                self.gucs.values.get("auto_explain.log_min_duration", "-1")
            )
        except ValueError:
            thresh = -1
        if thresh < 0:
            return
        if self.gucs.values.get(
            "auto_explain.log_analyze", "off"
        ).lower() in ("on", "true", "1"):
            raise NotImplementedError(
                "auto_explain.log_analyze: plans are lazy here; timing "
                "would require eager double execution"
            )
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        self.notices.append(
            "duration: n/a (lazy)  plan:\n"
            f"Query Text: {stmt.strip()}\n{plan.rstrip()}"
        )

    def _genfile(self, fn: str, path: str, off, length) -> DataFrame:
        """pg_read_file / pg_ls_dir / pg_stat_file (genfile.c).
        Superuser-only in PG — here an explicit opt-in (SET
        greengage.enable_server_file_access = on); relative paths
        resolve under the engine data directory and may not escape it
        (genfile.c convert_and_check_filename)."""
        import os

        if self.gucs.values.get(
            "greengage.enable_server_file_access", "off"
        ).lower() not in ("on", "true", "1"):
            raise PermissionError(
                "server file access functions read the engine host's "
                "filesystem; enable with SET "
                "greengage.enable_server_file_access = on"
            )
        base = os.path.realpath(self.warehouse)
        full = path if os.path.isabs(path) else os.path.join(base, path)
        full = os.path.realpath(full)
        # genfile.c convert_and_check_filename: absolute paths are
        # contained too — an opt-in GUC must not grant /etc/passwd reads
        if not (full == base or full.startswith(base + os.sep)):
            raise PermissionError(
                f'path must be inside the data directory: "{path}"'
            )
        if fn == "pg_read_file":
            with open(full, "r", errors="replace") as fh:
                if off is not None:
                    fh.seek(int(off))
                    data = fh.read(int(length))
                else:
                    data = fh.read()
            return self.spark.createDataFrame(
                [(data,)], "pg_read_file string"
            )
        if fn == "pg_ls_dir":
            names = sorted(os.listdir(full))
            return self.spark.createDataFrame(
                [(n,) for n in names], "pg_ls_dir string"
            )
        st = os.stat(full)
        import datetime as _dt

        def _ts(v):
            return _dt.datetime.fromtimestamp(v)

        return self.spark.createDataFrame(
            [(st.st_size, _ts(st.st_atime), _ts(st.st_mtime),
              os.path.isdir(full))],
            "size bigint, access timestamp, modification timestamp, "
            "isdir boolean",
        )

    def _composite_types(self) -> dict:
        """{type name: [field names]} from recorded CREATE TYPE AS
        definitions (typecmds.c DefineCompositeType) — the plpgsql
        interpreter uses it for ::composite casts of record values."""
        out = {}
        for key, cols in self.misc_ddl.items():
            if isinstance(key, tuple) and key[0] == "composite_type":
                names = []
                for c in str(cols).split(","):
                    parts = c.strip().split()
                    if parts:
                        names.append(parts[0].lower())
                out[key[1].lower()] = names
        return out

    def _explain(self, stmt: str) -> DataFrame:
        """EXPLAIN [ANALYZE] [VERBOSE] query (commands/explain.c): one
        'QUERY PLAN' text column, one row per plan line — here the Spark
        physical plan (ANALYZE executes the query first so AQE's final
        plan is shown; VERBOSE adds the full parsed/analyzed/optimized
        chain)."""
        stmt = self._rewrite_for_execution(stmt, "explain")
        m = re.match(
            r"(?is)^explain\s+(?:\(([^)]*)\)\s+)?(analyze\s+)?(verbose\s+)?(.*)$",
            stmt,
        )
        opts = (m.group(1) or "").lower()
        analyze = bool(m.group(2)) or "analyze" in opts
        verbose = bool(m.group(3)) or "verbose" in opts
        inner = m.group(4).strip()
        if _command_tag(inner) not in ("select", "with", "values", "table"):
            raise NotImplementedError("EXPLAIN supports queries, not DML")
        self._register_all()
        df = pg_sql(self.spark, inner)
        qe = df._jdf.queryExecution()
        if analyze:
            df.collect()  # run it so AQE finalizes the executed plan
        text = qe.toString() if verbose else qe.executedPlan().toString()
        return self.spark.createDataFrame(
            [(line,) for line in text.rstrip("\n").split("\n")],
            "`QUERY PLAN` string",
        )

    # ---------------- helpers ----------------

    def _geo_column_names(self) -> dict:
        """Column name → geo marker for columns the DDL catalog declares
        as geometric types.

        The dialect layer is textual and cannot see column types; the
        engine CAN — wrapping each such column reference in an identity
        marker (``geo(...)`` for the arity-dispatched point/box/circle
        family, ``geo_lseg/geo_path/geo_polygon(...)`` for the statically
        routed one) lets the reference's verbatim geo queries
        (``WHERE p.f1 << '(0,0)'``, point.sql/polygon.sql) route through
        _pass_geometry exactly as PG's operator resolution would."""
        names = {}
        for td in self.ddl.tables.values():
            for c in td.columns:
                t = c.pg_type.lower()
                if t in ("point", "box", "circle"):
                    names[c.name.lower()] = "geo"
                elif t in ("lseg", "path", "polygon"):
                    names[c.name.lower()] = "geo_" + t
        return names

    def _mark_geo_columns(self, stmt: str) -> str:
        geo_cols = self._geo_column_names()
        if not geo_cols:
            return stmt

        toks = tokenize(stmt)
        out: list[str] = []
        i = 0
        while i < len(toks):
            t = toks[i]
            if (
                is_ident(t)
                and t.lower() in geo_cols
                and (i + 1 >= len(toks) or toks[i + 1] != "(")
                # not an alias definition (AS f1) or qualifier head (f1.x)
                and not (out and is_ident(out[-1]) and out[-1].lower() == "as")
                and not (i + 1 < len(toks) and toks[i + 1] == ".")
            ):
                marker = geo_cols[t.lower()]
                if out and out[-1] == "." and len(out) >= 2 and is_ident(out[-2]):
                    qual = out[-2]
                    out = out[:-2]
                    out += [marker, "(", qual, ".", t, ")"]
                else:
                    out += [marker, "(", t, ")"]
                i += 1
                continue
            out.append(t)
            i += 1
        return join_tokens(out)

    def _create_external_table(self, stmt: str):
        from greengage_spark.sources.external import parse_create_external

        etd = parse_create_external(stmt)
        from greengage_spark.sources.external import ExecuteExternalTable

        if isinstance(etd.table, ExecuteExternalTable) and self.gucs.current(
            "greengage.enable_external_execute"
        ).lower() not in ("on", "true", "1"):
            # Trust boundary: EXECUTE-protocol tables run shell commands on
            # executors.  The reference restricts creation to superusers
            # (src/backend/catalog/pg_exttable.c); here the analog is an
            # explicit session opt-in.
            raise PermissionError(
                "EXECUTE-protocol external tables run shell commands; "
                "enable with SET greengage.enable_external_execute = on"
            )
        if etd.name in self.ddl.tables or etd.name in self.external:
            raise ValueError(f"table {etd.name!r} already exists")
        self.external[etd.name] = etd
        if not etd.writable:
            etd.table.read(self.spark).createOrReplaceTempView(etd.name)
        return None

    def _register(self, name: str) -> None:
        self.ddl.table(name).createOrReplaceTempView(name)

    def _register_all(self) -> None:
        for name in self.ddl.tables:
            self._register(name)
        for name, etd in self.external.items():
            if not etd.writable:
                etd.table.read(self.spark).createOrReplaceTempView(name)
        # views are late-binding (PG rule rewrite over current table data):
        # re-derive each from its defining query, in creation order so a
        # view may reference earlier views.
        for name, vsql in self.views.items():
            pg_sql(self.spark, vsql).createOrReplaceTempView(name)

    def _create_view(self, stmt: str):
        mv = re.match(
            r"(?is)^create\s+(or\s+replace\s+)?(temp(orary)?\s+)?view\s+([\w.]+)\s+as\s+(.*)$",
            stmt,
        )
        if not mv:
            raise _not_routed("create")
        name, query, replace = mv.group(4), mv.group(5), bool(mv.group(1))
        if name in self.ddl.tables:
            raise ValueError(f"{name!r} is a table")
        if name in self.views and not replace:
            raise ValueError(f"view {name} already exists")
        self._register_all()
        pg_sql(self.spark, query).createOrReplaceTempView(name)  # validate now
        self.views[name] = query
        return None

    def _create_table_as(self, name: str, body: str):
        """CTAS with optional trailing DISTRIBUTED clause (gram.y
        CreateAsStmt + distributed_clause) and WITH [NO] DATA
        (createas.c: NO DATA creates the shape, populates nothing)."""
        md = re.search(
            r"(?is)\bdistributed\s+(randomly|replicated|by\s*\(([^)]*)\))\s*$", body
        )
        distribution, dist_keys = "random", ()
        if md:
            body = body[: md.start()].rstrip()
            kind = md.group(1).lower()
            if kind == "replicated":
                distribution = "replicated"
            elif kind.startswith("by"):
                distribution = "hash"
                dist_keys = tuple(k.strip() for k in md.group(2).split(","))
        mnd = re.search(r"(?is)\s+with\s+(no\s+)?data\s*$", body)
        if mnd:
            if mnd.group(1):
                body = (
                    f"SELECT * FROM ({body[: mnd.start()].rstrip()}) "
                    f"__gg_nd LIMIT 0"
                )
            else:
                body = body[: mnd.start()].rstrip()
        self._register_all()
        df = pg_sql(self.spark, body)
        self.ddl.create_table_as(name, df, distribution, dist_keys)
        self._register(name)
        return None

    def _create_domain(self, stmt: str):
        """CREATE DOMAIN name [AS] basetype [DEFAULT d] [NOT NULL]
        [CHECK (expr)] (gram.y CreateDomainStmt; typecmds.c
        DefineDomain).  The domain resolves to its base type wherever it
        appears as a type (column defs, ::casts); NOT NULL / DEFAULT /
        CHECK become per-column constraints on tables that use it,
        enforced in the INSERT write projection."""
        m = re.match(
            r"(?is)^create\s+domain\s+([\w.]+)\s+(?:as\s+)?"
            r"([a-z_][\w ]*?(?:\s*\(\s*[\d, ]+\s*\))?)"
            r"(?=\s+default\b|\s+not\s+null\b|\s+null\b|\s+check\b|"
            r"\s+constraint\b|\s*$)(.*)$",
            stmt,
        )
        if not m:
            raise NotImplementedError(
                "CREATE DOMAIN name [AS] type [DEFAULT d] [NOT NULL] [CHECK (e)]"
            )
        name, base, rest = m.group(1), m.group(2).strip(), m.group(3)
        if name in self.domains:
            raise ValueError(f"domain {name!r} already exists")
        # domain over domain resolves to the ultimate base (typcmds.c)
        seen_base = self.domains.get(base)
        spec = {
            "base": seen_base["base"] if seen_base else base,
            "not_null": bool(re.search(r"(?is)\bnot\s+null\b", rest)),
            "default": None,
            "check": seen_base["check"] if seen_base else None,
        }
        md = re.search(
            r"(?is)\bdefault\s+((?:'(?:[^']|'')*'|[^\s])+)", rest
        )
        if md:
            spec["default"] = md.group(1)
        mc = re.search(r"(?is)(?:constraint\s+[\w]+\s+)?check\s*\(", rest)
        if mc:
            # balance parens to the end of the CHECK expression
            start = rest.index("(", mc.start())
            own = rest[start + 1 : close_of(rest, start)]
            spec["check"] = (
                f"({spec['check']}) AND ({own})" if spec["check"] else own
            )
        self.domains[name] = spec
        return None

    def _alter_domain(self, stmt: str):
        """ALTER DOMAIN (gram.y AlterDomainStmt; typecmds.c): constraint
        changes PROPAGATE to every existing column declared with the
        domain — PG's domains are dynamic, not copied at CREATE TABLE.
        SET NOT NULL and ADD CHECK validate existing rows first (one
        pushdown scan per affected table), like AlterDomainNotNull /
        AlterDomainAddConstraint."""
        m = re.match(r"(?is)^alter\s+domain\s+([\w.]+)\s+(.*)$", stmt)
        if not m:
            raise NotImplementedError("ALTER DOMAIN name action")
        name, action = m.group(1), m.group(2).strip()
        spec = self.domains.get(name)
        if spec is None:
            raise ValueError(f"unknown domain {name!r}")
        low = re.sub(r"\s+", " ", action.lower())

        def _cols():
            for tname, td in self.ddl.tables.items():
                for c in td.columns:
                    if c.domain == name:
                        yield tname, c

        def _validate(pred_fmt: str, errwhat: str):
            for tname, c in _cols():
                self._register(tname)
                bad = pg_sql(
                    self.spark,
                    f"SELECT count(*) AS n FROM {tname} "
                    f"WHERE {pred_fmt.format(col=c.name)}",
                ).collect()[0].n
                if bad:
                    raise ValueError(
                        f'column "{c.name}" of table "{tname}" contains '
                        f"{bad} row(s) violating the new {errwhat}"
                    )

        mr = re.match(r"(?is)^rename\s+to\s+([\w.]+)$", action)
        if mr:
            new = mr.group(1)
            self.domains[new] = self.domains.pop(name)
            for _, c in list(_cols()):
                c.domain = new
            return None
        if low == "set not null":
            _validate("{col} IS NULL", "NOT NULL constraint")
            spec["not_null"] = True
            for _, c in _cols():
                c.not_null = True
            return None
        if low == "drop not null":
            spec["not_null"] = False
            for _, c in _cols():
                c.not_null = False
            return None
        md = re.match(r"(?is)^set\s+default\s+(.+)$", action)
        if md:
            spec["default"] = md.group(1)
            for _, c in _cols():
                c.default = md.group(1)
            return None
        if low == "drop default":
            spec["default"] = None
            for _, c in _cols():
                c.default = None
            return None
        ma = re.match(
            r"(?is)^add\s+(?:constraint\s+([\w]+)\s+)?check\s*\((.*)\)\s*"
            r"(not\s+valid)?$",
            action,
        )
        if ma:
            own = ma.group(2)
            if not ma.group(3):
                _validate(
                    "NOT (" + re.sub(r"(?i)\bVALUE\b", "{col}", own) + ")",
                    "CHECK constraint",
                )
            spec["check"] = (
                f"({spec['check']}) AND ({own})" if spec["check"] else own
            )
            if ma.group(1):
                spec["check_name"] = ma.group(1)
            for _, c in _cols():
                c.check = re.sub(r"(?i)\bVALUE\b", c.name, spec["check"])
            return None
        mdc = re.match(r"(?is)^drop\s+constraint\s+(if\s+exists\s+)?([\w]+)$", action)
        if mdc:
            known = spec.get("check_name") or f"{name}_check"
            if mdc.group(2).lower() != known.lower():
                if mdc.group(1):
                    return None
                raise ValueError(
                    f"constraint {mdc.group(2)!r} of domain {name!r} does not exist"
                )
            spec["check"] = None
            spec.pop("check_name", None)
            for _, c in _cols():
                c.check = None
            return None
        if re.match(r"(?is)^owner\s+to\s+", action):
            self.acl.set_owner(f"domain:{name}", action.split()[-1].strip('"'))
            return None
        raise NotImplementedError(f"ALTER DOMAIN action {action[:40]!r}")

    def _resolve_domains(self, stmt: str, tag: str) -> str:
        """Substitute recorded domain names with their base types:
        ``::dom`` casts anywhere, standalone words in CREATE TABLE /
        CREATE DOMAIN bodies (type positions).  String literals are
        never touched.  CREATE TABLE substitutions also graft the
        domain's NOT NULL / DEFAULT / CHECK onto the column definition
        so existing constraint machinery enforces them."""
        is_ct = tag == "create table"
        col_checks: dict[str, str] = {}
        parts = re.split(r"('(?:[^']|'')*')", stmt)
        for k in range(0, len(parts), 2):
            seg = parts[k]
            for dom, spec in self.domains.items():
                seg = re.sub(
                    rf"(?is)::\s*{re.escape(dom)}\b", f"::{spec['base']}", seg
                )
                if is_ct:
                    repl = spec["base"]
                    if spec["default"]:
                        repl += f" DEFAULT {spec['default']}"
                    if spec["not_null"]:
                        repl += " NOT NULL"

                    def _sub(mm: "re.Match[str]") -> str:
                        col_checks[mm.group(1)] = dom
                        return mm.group(1) + " " + repl

                    # a type position: the word after a column name
                    seg = re.sub(
                        rf"(?is)\b(\w+)\s+{re.escape(dom)}\b", _sub, seg
                    )
            parts[k] = seg
        self._pending_domain_checks = col_checks
        return "".join(parts)

    def _cluster(self, stmt: str):
        """CLUSTER table [USING index] (cluster.c): physically reorder the
        table by the index keys.  The Spark-native payoff is parquet
        min/max pruning: a range repartition + in-partition sort makes
        every data file cover a NARROW key range, so key predicates skip
        whole files at the scan — the same I/O win a clustered B-tree
        gives the reference, achieved with statistics instead of an
        access method.  A bare CLUSTER re-clusters every previously
        clustered table, like PG."""
        m = re.match(
            r"(?is)^cluster\s*(verbose\s+)?(?:([\w.]+)"
            r"(?:\s+(?:using|on)\s+([\w.]+))?)?$",
            stmt,
        )
        if not m:
            raise NotImplementedError("CLUSTER [VERBOSE] [table [USING index]]")
        if not m.group(2):
            for tbl in list(self.clustered):
                self._cluster(f"CLUSTER {tbl}")
            return None
        table = m.group(2)
        if table not in self.ddl.tables:
            raise ValueError(f"unknown table {table!r}")
        idx_name = m.group(3) or self.clustered.get(table)
        if idx_name is None:
            raise ValueError(
                f"there is no previously clustered index for table {table!r}"
            )
        idx = self.indexes.get(idx_name)
        if idx is None or idx.table != table:
            raise ValueError(f"unknown index {idx_name!r} on table {table!r}")
        st = self._storage(table)
        n = st.num_partitions or self.spark.sparkContext.defaultParallelism
        keys = list(idx.keys)
        from pyspark.sql import functions as F

        df = (
            st.df()
            .repartitionByRange(n, *[F.col(k) for k in keys])
            .sortWithinPartitions(*keys)
        )
        st.replace(df)
        self.clustered[table] = idx_name
        self._register(table)
        return None

    def _create_matview(self, stmt: str):
        """CREATE MATERIALIZED VIEW (gram.y CreateMatViewStmt; matview.c):
        the defining query snapshots into a versioned storage table; WITH
        NO DATA leaves it unpopulated — unscannable until REFRESH, exactly
        the ExecRefreshMatView contract."""
        mmv = re.match(
            r"(?is)^create\s+materialized\s+view\s+([\w.]+)\s+as\s+(.*?)"
            r"(\s+with\s+(no\s+)?data)?$",
            stmt,
        )
        if not mmv:
            raise _not_routed("create")
        name, body, with_data = mmv.group(1), mmv.group(2), not mmv.group(4)
        if name in self.matviews or name in self.ddl.tables:
            raise ValueError(f"relation {name!r} already exists")
        self._register_all()
        df = pg_sql(self.spark, body)
        self.ddl.create_table_as(name, df if with_data else df.limit(0))
        self._register(name)
        self.matviews[name] = {"query": body, "populated": bool(with_data)}
        return None

    def _refresh_matview(self, stmt: str):
        """REFRESH MATERIALIZED VIEW: re-run the stored defining query and
        swap the storage in one manifest commit (full-table replace — the
        non-CONCURRENTLY path; readers of the old version keep their
        pinned file lists)."""
        mrf = re.match(
            r"(?is)^refresh\s+materialized\s+view\s+(concurrently\s+)?([\w.]+)"
            r"(\s+with\s+(no\s+)?data)?$",
            stmt,
        )
        if not mrf:
            raise _not_routed("refresh")
        name, with_data = mrf.group(2), not mrf.group(4)
        mv = self.matviews.get(name)
        if mv is None:
            raise ValueError(f"unknown materialized view {name!r}")
        self._register_all()
        df = pg_sql(self.spark, mv["query"])
        self._storage(name).replace(df if with_data else df.limit(0))
        self._register(name)
        mv["populated"] = with_data
        return None

    def _storage(self, name: str):
        if name not in self.ddl.tables:
            raise ValueError(f"unknown table {name!r}")
        return self.ddl._storage(self.ddl.tables[name])

    @staticmethod
    def _split_returning(text: str) -> tuple[str, str | None]:
        """Strip a trailing top-level RETURNING clause (gram.y
        returning_clause); returns (text-without-it, exprs-or-None)."""
        ridx = find_top_level(text, "returning")
        if ridx < 0:
            return text, None
        return text[:ridx].rstrip(), text[ridx + len("returning") :].strip()

    def _returning_df(self, name: str, rows: DataFrame, exprs: str) -> DataFrame:
        """Evaluate RETURNING expressions over the affected-rows set
        (ExecProcessReturning): NEW values for INSERT/UPDATE, OLD for
        DELETE — the caller passes the right rows.  COW manifests pin the
        lazy plan to explicit file lists, so the result stays valid after
        the commit."""
        rows.createOrReplaceTempView("__returning_rows")
        return pg_sql(
            self.spark,
            f"SELECT {exprs} FROM __returning_rows AS {name}",
        )

    def _touched_files_sql(self, name: str, st, match_pred: str) -> list[str]:
        """Data files of ``name`` holding ≥1 row matching a SQL predicate
        (which may hold subqueries / EXISTS over other registered tables).

        The file name is projected with input_file_name() INSIDE the scan
        subquery — below any join/exchange the predicate's decorrelation
        introduces — so it is evaluated while the file context exists.
        Only file names reach the driver; this is the SQL-path analog of
        WritableTable._touched_files, and makes subquery DML rewrite only
        the files it touches."""
        from greengage_spark.operators.dml import _norm_file

        hits = pg_sql(
            self.spark,
            f"SELECT DISTINCT __cow_f FROM "
            f"(SELECT {name}.*, input_file_name() AS __cow_f FROM {name}) "
            f"AS {name} WHERE ({match_pred}) IS TRUE",
        ).collect()
        touched = {_norm_file(r["__cow_f"]) for r in hits}
        return [f for f in st.files() if f in touched]

    def _expand_serial(self, stmt: str) -> str:
        """serial/bigserial pseudo-types (gram.y SimpleTypename →
        transformColumnDefinition): expand to int NOT NULL DEFAULT
        nextval('<table>_<col>_seq') and create the owned sequence."""
        if not re.search(r"(?is)\b(small|big)?serial[248]?\b", stmt):
            return stmt
        mt = re.match(r"(?is)^create\s+(?:temp(?:orary)?\s+)?table\s+([\w.]+)", stmt)
        if not mt:
            return stmt
        tname = mt.group(1)
        bases = {
            "smallserial": "int2", "serial2": "int2",
            "serial": "int4", "serial4": "int4",
            "bigserial": "int8", "serial8": "int8",
        }
        created: list[str] = []

        def _repl(mm: "re.Match[str]") -> str:
            seq = f"{tname}_{mm.group(1)}_seq"
            created.append(seq)
            return (
                f"{mm.group(1)} {bases[mm.group(2).lower()]} NOT NULL "
                f"DEFAULT nextval('{seq}')"
            )

        parts = re.split(r"('(?:[^']|'')*')", stmt)
        for k in range(0, len(parts), 2):
            parts[k] = re.sub(
                r"(?is)\b(\w+)\s+(smallserial|bigserial|serial[248]?)\b",
                _repl,
                parts[k],
            )
        if created:
            from greengage_spark.operators.sequence import Sequence

            for seq in created:
                self.sequences.create(Sequence(seq), if_not_exists=True)
        return "".join(parts)

    def _expand_seq_defaults(self, stmt: str) -> str:
        """Surface sequence-backed column DEFAULTs (serial columns,
        ``DEFAULT nextval(...)``) into the INSERT text, so the statement
        lowering assigns per-row values through the sequence manager —
        a DataFrame-side default would evaluate ONE value for all rows."""
        m = re.match(
            r"(?is)^insert\s+into\s+([\w.]+)\s*"
            r"(\((?!\s*(?:select|with)\b)[^)]*\))?\s*(.*)$",
            stmt,
        )
        if not m:
            return stmt
        td = self.ddl.tables.get(m.group(1))
        if td is None:
            return stmt
        seq_cols = [
            c for c in td.columns if c.default and _NEXTVAL.search(c.default)
        ]
        if not seq_cols:
            return stmt
        name, colspec, body = m.group(1), m.group(2), m.group(3).strip()
        if re.match(r"(?is)^default\s+values$", body):
            colspec, body = f"({td.columns[0].name})", "VALUES (DEFAULT)"
        cols = (
            [c.strip().strip('"').lower() for c in colspec[1:-1].split(",")]
            if colspec
            else None
        )
        mb = re.match(r"(?is)^values\b(.*)$", body)
        if mb:
            # peel a trailing RETURNING clause first — it would otherwise
            # corrupt the per-row default append on multi-row VALUES
            vals_text, returning = self._split_returning(mb.group(1))
            rows = split_top_level(vals_text.strip())
            if not rows or not rows[0].strip().startswith("("):
                return stmt
            if cols is None:
                n_items = len(split_top_level(rows[0].strip()[1:-1]))
                cols = [c.name.lower() for c in td.columns[:n_items]]
            missing = [c for c in seq_cols if c.name.lower() not in cols]
            if not missing:
                return stmt
            exp = ", ".join(c.default for c in missing)
            new_rows = [
                "(" + r.strip()[1:-1] + ", " + exp + ")" for r in rows
            ]
            new_cols = cols + [c.name.lower() for c in missing]
            tail = f" RETURNING {returning}" if returning else ""
            return (
                f"INSERT INTO {name} ({', '.join(new_cols)}) "
                f"VALUES {', '.join(new_rows)}{tail}"
            )
        if cols is not None and re.match(r"(?is)^(select|with|\()", body):
            missing = [c for c in seq_cols if c.name.lower() not in cols]
            if not missing:
                return stmt
            new_cols = cols + [c.name.lower() for c in missing]
            sel = ", ".join(c.default for c in missing)
            return (
                f"INSERT INTO {name} ({', '.join(new_cols)}) "
                f"SELECT __sd.*, {sel} FROM ({body}) __sd"
            )
        return stmt

    def _insert(self, stmt: str):
        stmt = self._rewrite_for_execution(stmt, "insert")
        stmt, ret = self._split_returning(stmt)
        mdv = re.match(
            r"(?is)^insert\s+into\s+([\w.]+)\s+default\s+values$", stmt
        )
        if mdv:
            # gram.y DEFAULT VALUES ≡ one row of per-column defaults
            # (rewriteValuesRTE handles the DEFAULT item below)
            td = self.ddl.tables.get(mdv.group(1))
            if td is None:
                raise ValueError(f"unknown table {mdv.group(1)!r}")
            first = td.columns[0].name
            stmt = f"INSERT INTO {mdv.group(1)} ({first}) VALUES (DEFAULT)"
        m = re.match(
            r"(?is)^insert\s+into\s+([\w.]+)\s*"
            r"(\((?!\s*(?:select|with)\b)[^)]*\))?\s*"
            r"(values\s*\(.+|select\b.+|with\b.+|\(\s*(?:select|with)\b.+)$",
            stmt,
        )
        if not m:
            raise NotImplementedError("INSERT INTO name [cols] VALUES(...) | SELECT ...")
        name, cols_raw, body = m.group(1), m.group(2), m.group(3)
        etd = self.external.get(name)
        if etd is not None:
            # INSERT ... SELECT into a WRITABLE EXTERNAL TABLE = parallel
            # unload (fileam.c writable path / COPY ON SEGMENT shape: one
            # output file per partition, appended).
            if not etd.writable:
                raise ValueError(f"cannot INSERT into READABLE external table {name!r}")
            self._register_all()
            src = pg_sql(self.spark, body)
            if etd.table is not None:
                # gpfdist:// unload: per-partition POST streams to the
                # daemon (url_curl.c forwrite)
                etd.table.write(src)
                return None
            from greengage_spark.sources.external import copy_to

            copy_to(src, etd.location, etd.fmt, header=etd.header, mode="append")
            return None
        td = self.ddl.tables.get(name)
        if td is None:
            raise ValueError(f"unknown table {name!r}")
        if cols_raw:
            cols = [c.strip() for c in cols_raw.strip("()").split(",")]
        else:
            cols = None  # leftmost-columns rule resolved below
        if re.match(r"(?is)^values\b", body):
            body, n_exprs = self._values_defaults(td, cols, body)
        else:
            n_exprs = None
        # both VALUES and SELECT bodies evaluate through the dialect layer
        self._register_all()
        src = pg_sql(self.spark, body)
        if cols is None:
            # a short SELECT/VALUES list targets the leftmost columns, the
            # rest default to NULL (rewriteTargetListIU)
            cols = [c.name for c in td.columns][: len(src.columns)]
        if len(src.columns) != len(cols):
            raise ValueError(
                f"INSERT has {len(src.columns)} expressions for {len(cols)} columns"
            )
        src = src.toDF(*cols)
        # missing columns take their DEFAULT expression, else NULL
        # (rewriteTargetListIU), then cast to declared types
        full = src
        for c in td.columns:
            if c.name not in cols:
                full = full.withColumn(
                    c.name,
                    F.expr(transpile(c.default)) if c.default else F.lit(None),
                )
        full = full.select([F.col(c.name) for c in td.columns])
        checks = {c.name: c.check for c in td.columns if c.check}
        if checks:
            # domain CHECK constraints (typecmds.c domain_check): raise
            # only when the predicate is FALSE — NULL passes, as in PG
            full = full.select(
                [
                    F.when(
                        F.expr(transpile(checks[c.name])).isNotNull()
                        & ~F.expr(transpile(checks[c.name])),
                        F.raise_error(
                            F.lit(
                                f'value for domain column "{c.name}" violates '
                                f"check constraint"
                            )
                        ).cast(c.spark_type),
                    )
                    .otherwise(F.col(c.name))
                    .alias(c.name)
                    if c.name in checks
                    else F.col(c.name)
                    for c in td.columns
                ]
            )
        nn = [c.name for c in td.columns if c.not_null]
        if nn:
            # ExecConstraints: reject NULL in a NOT NULL column.  The check
            # is folded into the write projection (assert_true guards each
            # NOT NULL column) so the source query evaluates ONCE — a
            # pre-check pass would double-evaluate INSERT ... SELECT.
            full = full.select(
                [
                    F.when(
                        F.col(c.name).isNull(),
                        F.raise_error(
                            F.lit(
                                f'null value in column "{c.name}" violates '
                                f"not-null constraint"
                            )
                        ).cast(c.spark_type),
                    )
                    .otherwise(F.col(c.name))
                    .alias(c.name)
                    if c.name in nn
                    else F.col(c.name)
                    for c in td.columns
                ]
            )
        track = self._track_rowcount
        before_files = (
            set(self._storage(name).files()) if (ret or track) else None
        )
        try:
            self.ddl.insert(name, full)
        except Exception as e:  # surface the constraint as PG's error
            m = re.search(
                r'null value in column "[^"]+" violates not-null constraint',
                str(e),
            )
            if m is None:
                raise
            raise ValueError(m.group(0)) from None
        self._register(name)
        if track:
            st = self._storage(name)
            new_files = [f for f in st.files() if f not in before_files]
            self.last_rowcount = (
                st._read_files(new_files).count() if new_files else 0
            )
        if ret is None:
            return None
        # RETURNING evaluates over exactly the rows just written: the
        # files this commit added (ExecProcessReturning, NEW values)
        st = self._storage(name)
        new_files = [f for f in st.files() if f not in before_files]
        return self._returning_df(name, st._read_files(new_files), ret)

    def _update(self, stmt: str):
        stmt = self._rewrite_for_execution(stmt, "update")
        m = re.match(
            r"(?is)^update\s+([\w.]+)(?:\s+(?:as\s+)?(?!set\b)(\w+))?"
            r"\s+set\s+(.+)$",
            stmt,
        )
        if not m:
            raise NotImplementedError("UPDATE name SET col = expr [, ...] [WHERE pred]")
        name, alias, rest = m.group(1), m.group(2), m.group(3)
        if alias:
            # with an alias the original table name is invalid
            # (transformUpdateStmt: "invalid reference to FROM-clause
            # entry"), then alias-qualified references resolve by
            # dropping the qualifier (the working frame is bare columns)
            if re.search(rf"(?i)\b{re.escape(name)}\s*\.", rest):
                raise ValueError(
                    f"invalid reference to table {name!r}: "
                    f"use the alias {alias!r}"
                )
            rest = re.sub(rf"(?i)\b{alias}\s*\.\s*", "", rest)
        rest, ret = self._split_returning(rest)
        fidx = find_top_level(rest, "from")
        widx = find_top_level(rest, "where")
        if fidx >= 0 and (widx < 0 or fidx < widx):
            if ret is not None:
                raise NotImplementedError("RETURNING with UPDATE ... FROM")
            return self._update_from(name, rest, fidx, widx)
        set_raw = rest[:widx] if widx >= 0 else rest
        where_raw = rest[widx + 5 :].strip() if widx >= 0 else None
        st = self._storage(name)
        parts = self._expand_set_parts(name, split_top_level(set_raw))
        texts = parts + ([where_raw] if where_raw else [])
        if any(re.search(r"(?is)\(\s*select\b", t) for t in texts):
            # subqueries in SET/WHERE evaluate through SQL (a scalar
            # subquery over >1 row errors at runtime, as in PG); CASE
            # keeps unmatched rows byte-identical.  Copy-on-write: one
            # input_file_name() pass finds the files holding matching
            # rows, the CASE projection runs over only those files
            # (aliased back to the table name so correlated references
            # resolve; subqueries FROM the table still see the full view),
            # every other file carries into the new manifest by reference.
            td = self.ddl.tables[name]
            self._register_all()
            sets = {}
            for part in parts:
                col, _, expr = part.partition("=")
                sets[col.strip().lower()] = expr.strip()
            cond = f"({where_raw})" if where_raw else "TRUE"
            if self._track_rowcount:
                self.last_rowcount = pg_sql(
                    self.spark,
                    f"SELECT count(*) AS c FROM {name} WHERE ({cond}) IS TRUE",
                ).collect()[0].c
            touched = self._touched_files_sql(name, st, cond)
            proj = ", ".join(
                f"CASE WHEN ({cond}) IS TRUE THEN ({sets[c.name]}) "
                f"ELSE {c.name} END AS {c.name}"
                if c.name in sets
                else c.name
                for c in td.columns
            )
            st._read_files(touched).createOrReplaceTempView("__cow_target")
            out = pg_sql(
                self.spark, f"SELECT {proj} FROM __cow_target AS {name}"
            )
            ret_rows = None
            if ret is not None:
                # NEW values of matched rows; the plan pins the pre-commit
                # touched-file list, so it survives the rewrite below
                ret_rows = pg_sql(
                    self.spark,
                    f"SELECT {proj} FROM __cow_target AS {name} "
                    f"WHERE ({cond}) IS TRUE",
                )
            st.rewrite_files(touched, out)
            self.spark.catalog.dropTempView("__cow_target")
        else:
            td = self.ddl.tables[name]
            set_map = {}
            for part in parts:
                col, _, expr = part.partition("=")
                set_map[col.strip()] = F.expr(transpile(expr.strip()))
            cond = F.expr(transpile(where_raw)) if where_raw else None
            if self._track_rowcount:
                self.last_rowcount = st.df().filter(
                    cond if cond is not None else F.lit(True)
                ).count()
            ret_rows = None
            if ret is not None:
                sm = {k.lower(): v for k, v in set_map.items()}
                old = st.df().filter(
                    F.coalesce(cond, F.lit(False)) if cond is not None else F.lit(True)
                )
                ret_rows = old.select(
                    [
                        sm[c.name.lower()].cast(c.spark_type).alias(c.name)
                        if c.name.lower() in sm
                        else F.col(c.name)
                        for c in td.columns
                    ]
                )
            st.update(set_map, cond)
        self._register(name)
        if ret is None:
            return None
        return self._returning_df(name, ret_rows, ret)

    def _values_defaults(self, td, cols, body: str):
        """VALUES-body normalization (rewriteValuesRTE): a bare DEFAULT
        item takes the target column's DEFAULT expression (NULL without
        one), and per-row expression counts must match the target list —
        PG errors before evaluating anything."""
        m = re.match(r"(?is)^values\b(.*)$", body)
        rows_raw = m.group(1).strip()
        rows = split_top_level(rows_raw)
        target = cols if cols is not None else [c.name for c in td.columns]
        defaults = {c.name.lower(): c.default for c in td.columns}
        out_rows = []
        n_items = None
        for row in rows:
            row = row.strip()
            if not (row.startswith("(") and row.endswith(")")):
                raise NotImplementedError(f"VALUES row {row!r}")
            items = split_top_level(row[1:-1])
            if n_items is None:
                n_items = len(items)
                if len(items) > len(target):
                    raise ValueError(
                        "INSERT has more expressions than target columns"
                    )
                if cols is not None and len(items) < len(target):
                    raise ValueError(
                        "INSERT has more target columns than expressions"
                    )
            new_items = []
            for k, it in enumerate(items):
                if it.strip().lower() == "default":
                    cname = target[k].lower() if k < len(target) else None
                    d = defaults.get(cname) or "NULL"
                    if _has_seq_call(d):
                        # DEFAULT substitution happens after statement
                        # lowering — a VALUES item is a scalar context,
                        # so driver-evaluate here (same call order)
                        d = _CURRVAL.sub(
                            lambda m: str(self.sequences.currval(m.group(1))), d
                        )
                        d = _NEXTVAL.sub(
                            lambda m: str(self.sequences.nextval(m.group(1))), d
                        )
                    new_items.append(d)
                else:
                    new_items.append(it.strip())
            out_rows.append("(" + ", ".join(new_items) + ")")
        if re.search(r"(?is)\(\s*select\b", " ".join(out_rows)):
            # Spark VALUES rows cannot hold subqueries — lower to a
            # UNION ALL of single-row SELECTs (same shape PG plans)
            return (
                " UNION ALL ".join(f"SELECT {r[1:-1]}" for r in out_rows),
                n_items,
            )
        return "VALUES " + ", ".join(out_rows), n_items

    def _expand_set_parts(self, name: str, parts: list[str]) -> list[str]:
        """SET-clause normalization (rewriteTargetListIU):
        ``(c, b) = (e1, e2)`` multi-assignments expand pairwise, and
        ``col = DEFAULT`` takes the column's DEFAULT expression (NULL
        without one).  Duplicate assignments to one column error."""
        td = self.ddl.tables[name]
        defaults = {c.name.lower(): c.default for c in td.columns}
        out: list[str] = []
        for part in parts:
            part = part.strip()
            if part.startswith("("):
                close = part.index(")")
                lhs = [c.strip() for c in part[1:close].split(",")]
                rhs_raw = part[close + 1 :].strip()
                if not rhs_raw.startswith("="):
                    raise NotImplementedError(f"SET clause {part!r}")
                rhs_raw = rhs_raw.lstrip("=").strip()
                if re.match(r"(?is)^\(\s*select\b", rhs_raw):
                    raise NotImplementedError(
                        "multi-assignment from a subquery"
                    )
                # row constructor: ROW(e1, e2) or (e1, e2) — strip the ROW
                # keyword and exactly ONE balanced outer paren pair, so
                # (a,b) = ((1+2), 3) keeps the inner parens intact
                rhs_raw = re.sub(r"(?is)^row\s*\(", "(", rhs_raw)
                rhs = split_top_level(self._strip_one_paren(rhs_raw))
                if len(lhs) != len(rhs):
                    raise ValueError(
                        f"number of columns does not match number of values"
                    )
                out += [f"{c} = {e}" for c, e in zip(lhs, rhs)]
            else:
                out.append(part)
        seen: set[str] = set()
        final: list[str] = []
        for part in out:
            col, _, expr = part.partition("=")
            cname = col.strip().lower()
            if cname in seen:
                raise ValueError(
                    f"multiple assignments to same column {cname!r}"
                )
            seen.add(cname)
            if expr.strip().lower() == "default":
                expr = defaults.get(cname) or "NULL"
            final.append(f"{col.strip()} = {expr.strip()}")
        return final

    def _update_from(self, name: str, rest: str, fidx: int, widx: int):
        """UPDATE target SET ... FROM items WHERE cond
        (nodeModifyTable.c joined UPDATE): each target row joining at
        least one FROM row takes the SET expressions evaluated in the
        joined context; one arbitrary-but-deterministic match wins when
        several join (PG leaves the choice unspecified).

        Copy-on-write: an EXISTS pass over the target finds the files
        holding rows with ≥1 FROM match; only those files' rows enter the
        join+rewrite, everything else carries by reference.  The working
        row set is localCheckpoint-materialized so its row ids are
        computed ONCE — both sides of the self-join read the same
        materialized ids (a lineage recompute of monotonically_increasing
        ids could silently pair wrong rows)."""
        set_raw = rest[:fidx]
        from_raw = rest[fidx + 4 : widx if widx >= 0 else len(rest)].strip()
        where_raw = rest[widx + 5 :].strip() if widx >= 0 else "TRUE"
        td = self.ddl.tables[name]
        st = self._storage(name)
        parts = self._expand_set_parts(name, split_top_level(set_raw))
        sets = {}
        for part in parts:
            col, _, expr = part.partition("=")
            sets[col.strip().lower()] = expr.strip()
        self._register_all()
        match_pred = f"EXISTS (SELECT 1 FROM {from_raw} WHERE {where_raw})"
        touched = self._touched_files_sql(name, st, match_pred)
        if not touched:
            st.rewrite_files([], None)
            self._register(name)
            return None
        base = (
            st._read_files(touched)
            .withColumn("__rid", F.monotonically_increasing_id())
            .localCheckpoint(eager=True)
        )
        base.createOrReplaceTempView("__upd_target")
        set_cols = ", ".join(
            f"({sets[c.name.lower()]}) AS __set_{c.name}"
            for c in td.columns
            if c.name.lower() in sets
        )
        # the working copy re-aliases to the original name so SET/WHERE
        # can keep their target-qualified references; subqueries that FROM
        # the table by name still resolve to the full registered view
        matched = pg_sql(
            self.spark,
            f"SELECT * FROM (SELECT {name}.__rid AS __mrid, {set_cols}, "
            f"row_number() OVER (PARTITION BY {name}.__rid ORDER BY 1) "
            f"AS __mrn FROM __upd_target AS {name}, {from_raw} "
            f"WHERE {where_raw}) WHERE __mrn = 1",
        )
        joined = base.join(
            matched, base["__rid"] == matched["__mrid"], "left"
        )
        out = joined.select(
            [
                F.when(
                    F.col("__mrid").isNotNull(), F.col(f"__set_{c.name}")
                )
                .otherwise(F.col(c.name))
                .cast(c.spark_type)
                .alias(c.name)
                if c.name.lower() in sets
                else F.col(c.name)
                for c in td.columns
            ]
        )
        st.rewrite_files(touched, out)
        self.spark.catalog.dropTempView("__upd_target")
        self._register(name)
        return None

    def _delete(self, stmt: str):
        stmt = self._rewrite_for_execution(stmt, "delete")
        stmt, ret = self._split_returning(stmt)
        m = re.match(r"(?is)^delete\s+from\s+([\w.]+)(\s+.*)?$", stmt)
        if not m:
            raise NotImplementedError("DELETE FROM name [USING items] [WHERE pred]")
        name, rest = m.group(1), (m.group(2) or "").strip()
        using_raw = where_raw = None
        if rest:
            uidx = find_top_level(rest, "using")
            widx = find_top_level(rest, "where")
            if widx >= 0:
                where_raw = rest[widx + 5 :].strip()
            if uidx == 0:
                using_raw = rest[uidx + 5 : widx if widx >= 0 else len(rest)].strip()
            elif widx != 0:
                raise NotImplementedError("DELETE FROM name [USING items] [WHERE pred]")
        st = self._storage(name)
        td = self.ddl.tables[name]
        if using_raw:
            # nodeModifyTable.c: USING joins the target against the items;
            # a target row dies when ANY joined row satisfies WHERE
            pred = f"EXISTS (SELECT 1 FROM {using_raw} WHERE {where_raw or 'TRUE'})"
        elif where_raw:
            pred = f"({where_raw})"
        else:
            victims = None
            if ret:
                victims = st.df().localCheckpoint(eager=True)
            if self._track_rowcount:
                self.last_rowcount = st.df().count()
            st.delete(F.lit(True))
            self._register(name)
            return self._returning_df(name, victims, ret) if ret else None
        victims = None
        if ret:
            # RETURNING projects the rows being deleted (nodeModifyTable.c
            # ExecDelete → ExecProcessReturning): capture them eagerly
            # BEFORE the manifest advances
            self._register_all()
            st.df().createOrReplaceTempView("__del_target")
            victims = pg_sql(
                self.spark,
                f"SELECT {name}.* FROM __del_target AS {name} WHERE {pred}",
            ).localCheckpoint(eager=True)
            self.spark.catalog.dropTempView("__del_target")
        if using_raw or re.search(r"(?is)\(\s*select\b", pred):
            # subquery predicates route through SQL; IS NOT TRUE keeps
            # NULL-predicate rows (PG: WHERE NULL does not delete).
            # Copy-on-write: only files holding a to-delete row are
            # rewritten (with their survivors); the rest carry by
            # reference into the new manifest.
            self._register_all()
            if self._track_rowcount:
                self.last_rowcount = pg_sql(
                    self.spark,
                    f"SELECT count(*) AS c FROM {name} WHERE ({pred}) IS TRUE",
                ).collect()[0].c
            touched = self._touched_files_sql(name, st, pred)
            if touched:
                st._read_files(touched).createOrReplaceTempView("__cow_target")
                keep = pg_sql(
                    self.spark,
                    f"SELECT {name}.* FROM __cow_target AS {name} "
                    f"WHERE ({pred}) IS NOT TRUE",
                )
                st.rewrite_files(touched, keep)
                self.spark.catalog.dropTempView("__cow_target")
            else:
                st.rewrite_files([], None)
        else:
            if self._track_rowcount:
                self.last_rowcount = (
                    st.df().filter(F.expr(transpile(where_raw))).count()
                )
            st.delete(F.expr(transpile(where_raw)))
        self._register(name)
        return self._returning_df(name, victims, ret) if ret else None

    def _copy(self, stmt: str):
        """COPY name|(query) TO 'path' / COPY name FROM 'path' with
        [BINARY|CSV [HEADER]|TEXT] [DELIMITER 'c'] [NULL 's'] [ON SEGMENT]
        — commands/copy.c's surface.  BINARY is the PGCOPY file format
        (sources/pgbinary.py: one file per partition on unload, one
        executor per file on load — the reference's ON SEGMENT
        distribution, cdbcopy.c).  ON SEGMENT on text paths is the
        default Spark behavior already (part-file per partition)."""
        stmt = self._rewrite_for_execution(stmt, "copy")
        ms = re.match(
            r"(?is)^copy\s+(?:([\w.]+)|\((.+?)\))\s+to\s+stdout(.*)$", stmt
        )
        if ms:
            return self._copy_to_stdout(ms.group(1), ms.group(2), ms.group(3) or "")
        m = re.match(
            r"(?is)^copy\s+(?:([\w.]+)|\((.+?)\))\s+(to|from)\s+'([^']+)'(.*)$",
            stmt,
        )
        if not m:
            raise NotImplementedError(
                "COPY name|(query) TO|FROM 'path'|STDOUT [BINARY|CSV HEADER|"
                "TEXT] [DELIMITER 'c'] [NULL 's'] [ON SEGMENT]"
            )
        name, query, direction, path, opts_raw = m.groups()
        direction = direction.lower()
        opts = opts_raw or ""
        binary = bool(re.search(r"(?is)\b(?:with\s+)?binary\b", opts))
        header = bool(re.search(r"(?is)\bheader\b", opts))
        is_csv = bool(re.search(r"(?is)\bcsv\b", opts))
        mdel = re.search(r"(?is)delimiter\s+(?:as\s+)?(?:e)?'([^']*)'", opts)
        sep = (mdel.group(1).replace("\\t", "\t") if mdel
               else ("," if is_csv or header else "\t"))
        mnull = re.search(r"(?is)null\s+(?:as\s+)?'([^']*)'", opts)
        null_str = mnull.group(1) if mnull else ("" if is_csv else "\\N")

        if direction == "to":
            if query is not None:
                self._register_all()
                df = pg_sql(self.spark, query)
            else:
                if name not in self.ddl.tables:
                    raise ValueError(f"unknown table {name!r}")
                df = self.ddl.table(name)
            if binary:
                from greengage_spark.sources.pgbinary import write_binary

                write_binary(df, path)
            else:
                (df.write.mode("overwrite")
                 .option("header", header)
                 .option("sep", sep)
                 .option("nullValue", null_str)
                 .csv(path))
            return None
        if query is not None:
            raise NotImplementedError("COPY (query) FROM is not valid SQL")
        td = self.ddl.tables.get(name)
        if td is None:
            raise ValueError(f"unknown table {name!r}")
        if binary:
            from greengage_spark.sources.pgbinary import read_binary

            df = read_binary(self.spark, path, td.schema())
        else:
            df = (
                self.spark.read.schema(td.schema())
                .option("header", header)
                .option("sep", sep)
                .option("nullValue", null_str)
                .csv(path)
            )
        self.ddl.insert(name, df)
        self._register(name)
        return None

    def _copy_to_stdout(self, name: str | None, query: str | None, opts: str):
        """COPY ... TO STDOUT (copy.c CopyTo text format): returns one
        ``line`` per row in PG's text serialization — tab delimiter, \\N
        nulls, backslash escapes, t/f booleans — the stream a client (or
        a COPY FROM stdin round-trip) would receive.  Rendering is one
        JVM projection; rows stay distributed until the caller collects."""
        from pyspark.sql.types import BooleanType, DateType, TimestampType

        if query is not None:
            self._register_all()
            df = pg_sql(self.spark, query)
        else:
            if name not in self.ddl.tables:
                raise ValueError(f"unknown table {name!r}")
            df = self.ddl.table(name)
        mdel = re.search(r"(?is)delimiter\s+(?:as\s+)?(?:e)?'([^']*)'", opts)
        sep = mdel.group(1).replace("\\t", "\t") if mdel else "\t"
        mnull = re.search(r"(?is)null\s+(?:as\s+)?'([^']*)'", opts)
        null_str = mnull.group(1) if mnull else "\\N"

        def render(field) -> "F.Column":
            c = F.col(field.name)
            if isinstance(field.dataType, BooleanType):
                s = F.when(c, "t").otherwise("f")
            elif isinstance(field.dataType, TimestampType):
                s = F.date_format(c, "yyyy-MM-dd HH:mm:ss")
            elif isinstance(field.dataType, DateType):
                s = F.date_format(c, "yyyy-MM-dd")
            else:
                s = c.cast("string")
                for lit, esc in (("\\", "\\\\"), ("\t", "\\t"),
                                 ("\n", "\\n"), ("\r", "\\r")):
                    s = F.replace(s, F.lit(lit), F.lit(esc))
            return F.coalesce(s, F.lit(null_str))

        return df.select(
            F.concat_ws(sep, *[render(f) for f in df.schema.fields]).alias("line")
        )

    @staticmethod
    def _strip_one_paren(s: str) -> str:
        """Strip exactly one balanced outer paren pair (quote-aware);
        ``((1+2), 3)`` → ``(1+2), 3``, leaving inner parens alone."""
        s = s.strip()
        if not (s.startswith("(") and s.endswith(")")):
            return s
        try:
            # outer pair is balanced only if it closes at the end
            return s[1:-1].strip() if close_of(s, 0) == len(s) - 1 else s
        except ValueError:
            return s


class _DropKind(NamedTuple):
    names: Callable | None  # engine → the names it holds; None: unchecked
    remove: Callable  # (engine, name) → None
    cascade: bool = False  # CASCADE accepted: no dependent can be stranded
    signature: bool = False  # a name may carry its (argument types)
    missing: Callable | None = None  # name → error; default "unknown <kind>"


def _unknown(what: str) -> Callable[[str], ValueError]:
    return lambda name: ValueError(f"unknown {what} {name!r}")


_DROP_KINDS = {
    "table": _DropKind(lambda e: e.ddl.tables, GreengageEngine._remove_table),
    "view": _DropKind(lambda e: e.views, GreengageEngine._remove_view),
    "materialized view": _DropKind(
        lambda e: e.matviews, GreengageEngine._remove_matview),
    "external table": _DropKind(
        lambda e: e.external, GreengageEngine._remove_external),
    "foreign table": _DropKind(
        None, lambda e, n: e._remove_external(n.lower())),
    "server": _DropKind(
        None, lambda e, n: e.servers.pop(n.lower(), None), cascade=True),
    **dict.fromkeys(("function", "aggregate"), _DropKind(
        lambda e: e.functions, GreengageEngine._remove_function,
        signature=True, missing=_unknown("function"))),
    "sequence": _DropKind(
        lambda e: e.sequences.seqs, lambda e, n: e.sequences.drop(n)),
    "type": _DropKind(
        lambda e: e.domains, lambda e, n: e.domains.pop(n), cascade=True,
        missing=lambda n: NotImplementedError(
            "only enum types are droppable (composite/base types are "
            "not routed)"
        )),
    "domain": _DropKind(
        lambda e: e.domains, lambda e, n: e.domains.pop(n), cascade=True),
    "index": _DropKind(
        lambda e: e.indexes, lambda e, n: e.indexes.pop(n), cascade=True,
        missing=lambda n: ValueError(f'index "{n}" does not exist')),
}


def _unsupported(message: str) -> Callable:
    def handler(engine, stmt):
        raise NotImplementedError(message)

    return handler


def _no_op(engine, stmt) -> None:
    return None


# Command tag → handler(engine, stmt): the one list of the statement kinds
# the engine serves.  _command_tag picks the longest tag the statement's
# leading words start with, so no entry depends on another's position.
_ROUTES: dict[str, Callable] = {
    # queries and data changes
    **{h: partial(GreengageEngine._query, head=h)
       for h in ("select", "with", "values", "table")},
    "insert": GreengageEngine._insert,
    "update": GreengageEngine._update,
    "delete": GreengageEngine._delete,
    "truncate": execute_truncate,
    "copy": GreengageEngine._copy,
    "explain": GreengageEngine._explain,
    "do": GreengageEngine._do_block,
    # relations
    "create table": GreengageEngine._create_table,
    "create view": GreengageEngine._create_view,
    "create materialized view": GreengageEngine._create_matview,
    "refresh materialized view": GreengageEngine._refresh_matview,
    "create external table": GreengageEngine._create_external_table,
    "create server": GreengageEngine._create_server,
    "create foreign table": GreengageEngine._create_foreign_table,
    "alter table": GreengageEngine._alter_table,
    "alter view": GreengageEngine._alter_view,
    **{f"drop {kind}": partial(GreengageEngine._drop, kind=kind)
       for kind in _DROP_KINDS},
    "create index": maintenance.create_index,
    "reindex": _no_op,  # nothing to rebuild; parquet stats are always fresh
    "cluster": GreengageEngine._cluster,
    "vacuum": maintenance.vacuum,
    "analyze": maintenance.analyze,
    # functions, sequences, types
    "create function": GreengageEngine._create_function,
    "create aggregate": GreengageEngine._create_aggregate,
    "alter function": GreengageEngine._alter_function,
    "alter aggregate": GreengageEngine._alter_function,
    "create sequence": GreengageEngine._create_sequence,
    "alter sequence": GreengageEngine._alter_sequence,
    "create domain": GreengageEngine._create_domain,
    "alter domain": GreengageEngine._alter_domain,
    "create type": GreengageEngine._create_type,
    "create cast": GreengageEngine._record_ddl,
    "create operator": GreengageEngine._record_ddl,
    **{f"{verb} text search dictionary": GreengageEngine._text_search_dictionary
       for verb in ("create", "alter", "drop")},
    # trigger.c: row/statement triggers change DML semantics — accepting
    # one silently would hide behavior, so reject specifically (the
    # reference itself restricts triggers on distributed tables)
    "create trigger": _unsupported(
        "CREATE TRIGGER: triggers are not supported; move the "
        "logic into the loading pipeline or a wCTE"
    ),
    "create rule": _unsupported(
        "CREATE RULE: query rewrite rules are not supported; use "
        "views or data-modifying CTEs"
    ),
    # recorded metadata: roles, privileges, comments, schemas, resource
    # queues (operators/acl.py), extensions, languages, databases
    "create role": lambda e, s: e.acl.create_role(s),
    "alter role": lambda e, s: e.acl.alter_role(s),
    "drop role": lambda e, s: e.acl.drop_role(s),
    "grant": lambda e, s: e.acl.grant(s),
    "revoke": lambda e, s: e.acl.revoke(s),
    "comment": lambda e, s: e.acl.comment(s),
    "alter default privileges": GreengageEngine._record_ddl,
    "create schema": lambda e, s: e.acl.create_schema(s),
    "alter schema": lambda e, s: e.acl.alter_schema(s),
    "drop schema": lambda e, s: e.acl.drop_schema(s),
    **{f"{verb} resource": lambda e, s: e.acl.resource_stmt(s)
       for verb in ("create", "alter", "drop")},
    **{f"{verb} {kind}": GreengageEngine._record_object
       for verb in ("create", "drop")
       for kind in ("extension", "language", "database", "tablespace")},
    # session: parameters, prepared statements, cursors
    "set": lambda e, s: e.gucs.set(s, in_txn=e._txn is not None),
    "reset": lambda e, s: e.gucs.reset(s),
    "show": lambda e, s: e.gucs.show(s),
    "discard": GreengageEngine._discard,
    "load": GreengageEngine._load,
    "prepare": prepared.prepare,
    "execute": prepared.execute,
    "deallocate": prepared.deallocate,
    "declare": prepared.declare,
    "fetch": prepared.fetch,
    "move": prepared.fetch,
    "close": prepared.close,
    "retrieve": prepared.retrieve,
    # transactions
    "begin": lambda e, s: e._begin_txn(),
    "commit": lambda e, s: e._commit_txn(),
    "rollback": lambda e, s: e._rollback_txn(),
    "rollback to": GreengageEngine._rollback_to_savepoint,
    "savepoint": GreengageEngine._savepoint,
    "release": GreengageEngine._release_savepoint,
    # LOCK: snapshot-isolated single-writer manifests — every reader pins
    # a manifest version, so table locks are no-ops (lockcmds.c semantics
    # trivially hold).  CHECKPOINT: commits are already durable at
    # manifest rename.  LISTEN/NOTIFY: no async message bus; accepted so
    # scripts keep running.
    **dict.fromkeys(("lock", "checkpoint", "listen", "unlisten", "notify"), _no_op),
}
_LONGEST_TAG = max(len(tag.split()) for tag in _ROUTES)
