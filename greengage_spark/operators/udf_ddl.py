"""CREATE FUNCTION / CREATE AGGREGATE SQL DDL surface.

Reference semantics being reproduced:

* ``CREATE FUNCTION ... LANGUAGE sql`` (src/backend/catalog/pg_proc.c
  fmgr SQL functions; regress create_function_*.sql) — a single-SELECT
  body becomes a **Spark SQL-defined function** (``CREATE TEMPORARY
  FUNCTION ... RETURN expr``), so calls inline into Catalyst and stay
  JVM-side/whole-stage-codegen — the fastest possible lowering.
* ``CREATE FUNCTION ... LANGUAGE plpythonu`` (src/pl/plpython/) — the
  body compiles to a real Python function registered as a Spark Python
  UDF.  Row-at-a-time, exactly like the reference's embedded
  interpreter; keep these off the hot path just as you would in
  Greenplum.
* ``CREATE AGGREGATE name (basetype) (SFUNC=..., STYPE=..., [FINALFUNC],
  [INITCOND])`` (src/backend/commands/aggregatecmds.c; regress
  create_aggregate.sql) — lowered to an Arrow-batched pandas
  GROUPED_AGG UDAF that folds SFUNC over the group and applies
  FINALFUNC.  SFUNC resolves to a previously created plpythonu function
  or one of the built-in transition functions the reference's own tests
  use (int4pl, float8pl, int8larger, ...).  Strict transition semantics:
  null inputs are skipped (advance_transition_function).

Argument references: by name or positionally as ``$1``..``$n`` (PG SQL
function convention).
"""

from __future__ import annotations

import operator
import re
from dataclasses import dataclass

from pyspark.sql import SparkSession

from greengage_spark.dialect.spans import (
    close_of,
    find_top_level,
    lex,
    split_top_level,
    substitute_names,
    substitute_params,
)

# PG typename → Spark SQL type string (subset of transpiler._TYPE_MAP;
# kept here so this module has no import cycle with the transpiler)
_TYPES = {
    "int2": "SMALLINT", "smallint": "SMALLINT",
    "int4": "INT", "int": "INT", "integer": "INT",
    "int8": "BIGINT", "bigint": "BIGINT",
    "float4": "FLOAT", "real": "FLOAT",
    "float8": "DOUBLE", "float": "DOUBLE", "double precision": "DOUBLE",
    "bool": "BOOLEAN", "boolean": "BOOLEAN",
    "text": "STRING", "varchar": "STRING", "char": "STRING", "bpchar": "STRING",
    "date": "DATE", "timestamp": "TIMESTAMP_NTZ", "timestamptz": "TIMESTAMP",
    "numeric": "DOUBLE", "decimal": "DOUBLE",  # UDAF state math in float
}

# built-in transition/final functions the reference's create_aggregate
# tests use (pg_proc.h names) → Python equivalents
_BUILTIN_FNS = {
    "int2pl": operator.add, "int4pl": operator.add, "int8pl": operator.add,
    "float4pl": operator.add, "float8pl": operator.add,
    "numeric_add": operator.add,
    "int2larger": max, "int4larger": max, "int8larger": max,
    "float4larger": max, "float8larger": max, "numeric_larger": max,
    "int2smaller": min, "int4smaller": min, "int8smaller": min,
    "float4smaller": min, "float8smaller": min, "numeric_smaller": min,
    "int8inc": lambda s, *_: s + 1,  # zero-arg count transition
}


def _spark_type(pg_type: str) -> str:
    t = re.sub(r"\(.*\)", "", pg_type).strip().lower()
    if t.endswith("[]"):
        return f"ARRAY<{_spark_type(t[:-2])}>"
    if t.startswith("_"):  # pg internal array-type spelling (_int4)
        return f"ARRAY<{_spark_type(t[1:])}>"
    if t in _TYPES:
        return _TYPES[t]
    raise NotImplementedError(f"unsupported type in function DDL: {pg_type!r}")


_PY_CASTS = {
    "SMALLINT": int, "INT": int, "BIGINT": int,
    "FLOAT": float, "DOUBLE": float,
    "BOOLEAN": bool, "STRING": str,
}


@dataclass
class FunctionDef:
    name: str
    arg_names: list[str]
    arg_types: list[str]  # Spark SQL type strings
    ret_type: str
    language: str  # 'sql' | 'plpgsql' | 'plpythonu'
    body: str
    pyfn: object | None = None  # compiled callable for plpythonu
    setof: bool = False  # RETURNS SETOF / RETURNS TABLE: body is a query
    # RETURN QUERY EXECUTE (pl_exec.c:145 exec_stmt_return_query dynamic
    # form): (query-string expression text, [USING expression texts]);
    # evaluated at macro-expansion time with the call-site arguments
    dyn_query: tuple | None = None
    # procedural SETOF body outside the inline-lowering subset: runs
    # through the driver-side interpreter (plpgsql_interp.run_setof) at
    # macro-expansion time, materializing rows like PG's tuplestore
    interp_setof: bool = False
    # OUT/INOUT parameter names: result columns for RETURNS [SETOF]
    # record functions; bare RETURN NEXT appends their current values
    out_names: list | None = None
    # every parameter (IN and OUT) in declaration order — PG numbers
    # $n across both kinds
    param_order: list | None = None
    # Spark element type for RETURNS SETOF <scalar>: enables the
    # per-ROW lane (SQL-free bodies run as an array UDF on executors
    # and explode laterally when call-site args reference columns)
    ret_elem: str | None = None


_CREATE_FN = re.compile(
    r"(?is)^create\s+(or\s+replace\s+)?function\s+([\w.]+)\s*\(([^)]*)\)\s+"
    r"returns\s+(setof\s+)?([\w ()\[\],]+?)\s+"
    r"(?:as\s+(\$[\w]*\$(?P<dollar>.*?)\$[\w]*\$|'(?P<quoted>(?:[^']|'')*)')\s+)?"
    r"language\s+['\"]?(\w+)['\"]?"
    r"(?:\s+as\s+(\$[\w]*\$(?P<dollar2>.*?)\$[\w]*\$|'(?P<quoted2>(?:[^']|'')*)'))?"
    r"\s*(immutable|stable|volatile|strict|\s)*$"
)


def _setof_elem_type(ret: str) -> str | None:
    """Spark element type for RETURNS SETOF <scalar>; None for
    record/composite/TABLE(...) shapes (those stay on the driver-side
    interpreter path)."""
    r = ret.strip().lower()
    if r == "record" or r.startswith("table"):
        return None
    try:
        return _spark_type(ret)
    except Exception:  # noqa: BLE001 — unknown type: no row lane
        return None


def parse_create_function(stmt: str) -> tuple[FunctionDef, bool]:
    """Parse CREATE [OR REPLACE] FUNCTION; returns (def, or_replace)."""
    m = _CREATE_FN.match(stmt.strip())
    if not m:
        raise NotImplementedError(
            "CREATE [OR REPLACE] FUNCTION name(args) RETURNS type AS "
            "$$ body $$ LANGUAGE sql|plpythonu"
        )
    setof = bool(m.group(4)) or bool(
        re.match(r"(?is)^\s*table\s*\(", m.group(5))
    )
    body = (
        m.group("dollar") or m.group("quoted")
        or m.group("dollar2") or m.group("quoted2")
    )
    if body is None:
        raise NotImplementedError("function body required")
    if m.group("quoted") or m.group("quoted2"):
        body = body.replace("''", "'")
    arg_names, arg_types, out_names = [], [], []
    param_order = []  # ALL parameters in declaration order ($n numbering)
    args_raw = m.group(3).strip()
    if args_raw:
        k_in = 0
        for a in args_raw.split(","):
            parts = a.strip().split()
            mode = "in"
            while parts and parts[0].lower() in (
                "in", "out", "inout", "variadic"
            ):
                if parts[0].lower() in ("out", "inout"):
                    mode = parts[0].lower()
                parts.pop(0)
            if mode == "out":
                # OUT parameters are result columns, not call arguments
                # (functioncmds.c: they shape the record return type)
                oname = (parts[0].lower() if len(parts) >= 2
                         else f"column{len(out_names) + 1}")
                out_names.append(oname)
                param_order.append(oname)
                continue
            k_in += 1
            if mode == "inout":
                out_names.append(parts[0].lower())
            if len(parts) >= 2:
                arg_names.append(parts[0])
                arg_types.append(_spark_type(" ".join(parts[1:])))
            else:  # unnamed arg: positional only
                arg_names.append(f"__a{k_in}")
                arg_types.append(_spark_type(parts[0]))
            param_order.append(arg_names[-1].lower())
    lang = m.group(9).lower()
    if lang in ("plpythonu", "plpython3u", "plpython2u"):
        lang = "plpythonu"
    elif lang in ("plperl", "plperlu"):
        lang = "plperl"
    elif lang in ("pltcl", "pltclu"):
        lang = "pltcl"
    elif lang not in ("sql", "plpgsql"):
        raise NotImplementedError(
            f"LANGUAGE {lang} not supported (sql, plpgsql, plpythonu, "
            "plperl, pltcl)"
        )
    body = body.strip()
    dyn_query_val = None
    interp_setof_val = False
    if setof:
        # SETOF/TABLE: the body IS a query.  LANGUAGE sql bodies are the
        # query verbatim; plpgsql bodies are BEGIN RETURN QUERY <q>;
        # [RETURN QUERY <q>;]... END — appended result sets, i.e. UNION
        # ALL (exec_stmt_return_query).  The stored body becomes an
        # inline-expandable table macro (optimizer/util/clauses.c
        # inline_set_returning_function).
        if lang in ("plpythonu", "plperl", "pltcl"):
            raise NotImplementedError(
                f"RETURNS SETOF LANGUAGE {lang}: use mapInPandas table "
                "functions (operators.tablefunc)"
            )
        if lang == "plpgsql":
            body, dyn_query_val, interp_setof_val = _lower_setof_plpgsql(
                body, m.group(2)
            )
        elif not re.match(r"(?is)^\s*(select|with|values|table)\b", body):
            raise NotImplementedError(
                "RETURNS SETOF LANGUAGE sql body must be a query"
            )
    return (
        FunctionDef(
            name=m.group(2),
            arg_names=arg_names,
            arg_types=arg_types,
            ret_type="SETOF" if setof else _spark_type(m.group(5)),
            language=lang,
            body=body,
            setof=setof,
            dyn_query=dyn_query_val,
            interp_setof=interp_setof_val,
            out_names=out_names,
            param_order=param_order,
            ret_elem=_setof_elem_type(m.group(5)) if setof else None,
        ),
        bool(m.group(1)),
    )


def _lower_setof_plpgsql(body: str, fname: str):
    """SETOF plpgsql lowering: inline table-macro rewrite first (the
    fast path — the query inlines into Catalyst); bodies outside that
    subset fall back to the driver-side interpreter when they parse
    in SETOF mode (pl_exec.c's materialize-into-tuplestore model),
    else the inline rewrite's loud reject stands."""
    try:
        b, dyn = _lower_setof_plpgsql_inline(body, fname)
        return b, dyn, False
    except NotImplementedError:
        from greengage_spark.operators.plpgsql_interp import parse_setof

        parse_setof(body)  # re-raises the interpreter's own reject
        return body, None, True


def _lower_setof_plpgsql_inline(body: str, fname: str):
    """The inline table-macro rewrite for SETOF plpgsql bodies
    (queries inline into Catalyst — the fast path); raises
    NotImplementedError for bodies outside the subset."""
    mb = re.match(
        r"(?is)^(?:declare\b.*?)?\bbegin\b(.*)\bend$",
        body.rstrip(";").strip(),
        re.DOTALL,
    )
    if not mb:
        raise NotImplementedError(
            "SETOF plpgsql body must be [DECLARE ...] BEGIN "
            "RETURN QUERY / FOR ... RETURN NEXT ...; END"
        )
    queries = []
    dyn = None
    colname = fname.rsplit(".", 1)[-1]
    sts = split_top_level(mb.group(1), ";")
    j = 0
    while j < len(sts):
        st = sts[j]
        mdq = re.match(
            r"(?is)^return\s+query\s+execute\s+(.+)$", st, re.DOTALL
        )
        if mdq:
            # pl_exec.c:145 exec_stmt_return_query (dynamic form):
            # the query-string expression resolves at macro
            # expansion time against the call-site arguments
            if dyn is not None or queries:
                raise NotImplementedError(
                    "SETOF plpgsql: a dynamic RETURN QUERY EXECUTE "
                    "must be the body's only result statement"
                )
            dyn = _split_using(mdq.group(1).strip())
            j += 1
            continue
        mq = re.match(r"(?is)^return\s+query\s+(.+)$", st, re.DOTALL)
        if mq:
            if dyn is not None:
                raise NotImplementedError(
                    "SETOF plpgsql: mixing RETURN QUERY and "
                    "RETURN QUERY EXECUTE is not supported"
                )
            queries.append(mq.group(1).strip())
            j += 1
            continue
        if re.match(r"(?is)^return$", st):
            j += 1  # bare RETURN ends the function
            continue
        # FOR v IN a .. b LOOP RETURN NEXT expr; END LOOP —
        # exec_stmt_fori + exec_stmt_return_next, lowered to a
        # generate_series scan (plpgsql.sql test_ret_set_scalar);
        # FOR rec IN <query> LOOP RETURN NEXT rec; END LOOP is the
        # query itself (test_table_func_rec/_row)
        mfr = re.match(
            r"(?is)^for\s+(\w+)\s+in\s+(reverse\s+)?(.+?)\s+loop\s+"
            r"return\s+next\s+(.+)$",
            st,
            re.DOTALL,
        )
        if (
            mfr
            and j + 1 < len(sts)
            and re.match(r"(?is)^end\s+loop$", sts[j + 1])
        ):
            var = mfr.group(1)
            rev = bool(mfr.group(2))
            src = mfr.group(3).strip()
            retex = mfr.group(4).strip()
            mrange = re.match(
                r"(?is)^(.+?)\s*\.\.\s*(.+?)(?:\s+by\s+(.+))?$", src
            )
            if mrange:
                lo, hi = mrange.group(1).strip(), mrange.group(2).strip()
                stp = (mrange.group(3) or "1").strip()
                if rev:
                    stp = f"-({stp})"
                queries.append(
                    f"SELECT ({retex}) AS {colname} FROM "
                    f"generate_series(({lo}), ({hi}), ({stp})) "
                    f"AS __ggfor({var})"
                )
            else:
                if retex.rstrip(";").strip().lower() != var.lower():
                    raise NotImplementedError(
                        "SETOF plpgsql FOR-over-query must RETURN "
                        "NEXT the loop record itself"
                    )
                if not re.match(r"(?is)^\(?\s*select\b", src):
                    raise NotImplementedError(
                        "SETOF plpgsql FOR source must be a range "
                        "a .. b or a SELECT"
                    )
                queries.append(src)
            j += 2
            continue
        raise NotImplementedError(
            "SETOF plpgsql supports RETURN QUERY and "
            "FOR ... LOOP RETURN NEXT ...; END LOOP bodies"
        )
    if dyn is not None:
        return "", dyn
    elif not queries:
        raise NotImplementedError("SETOF plpgsql body has no RETURN QUERY")
    else:
        body = (
            queries[0]
            if len(queries) == 1
            else " UNION ALL ".join(
                f"SELECT * FROM ({q}) __ggq{k}"
                for k, q in enumerate(queries)
            )
        )
    return body, None


def plpgsql_to_expr(body: str) -> str:
    """Lower a restricted PL/pgSQL body (src/pl/plpgsql/ exec_stmt_return
    / exec_stmt_if / exec_stmt_assign) to ONE SQL expression so the
    function inlines into Catalyst exactly like a LANGUAGE sql function:

    * ``BEGIN RETURN <expr>; END``                       → ``<expr>``
    * ``DECLARE v type [:= e | DEFAULT e]; ...`` plus ``v := e;``
      assignment statements — straight-line code is symbolically
      evaluated: each assignment binds the variable to its (typed-cast)
      value expression with all earlier bindings substituted in, so the
      final RETURN folds to a single pure expression.  Assignment casts
      to the declared type mirror exec_assign_value's coercion.
    * a terminal ``IF c THEN RETURN e; [ELSIF ...] [ELSE RETURN e;]
      END IF;``                                          → CASE chain;
      a missing ELSE raises PL/pgSQL's own runtime error ("control
      reached end of function without RETURN") via raise_error, matching
      exec_stmt_block's fall-off-the-end behavior.

    * ``FOR v IN [REVERSE] a .. b [BY s] LOOP`` / ``FOREACH v IN ARRAY``
      whose body is assignments to declared variables — folded to a
      JVM-side ``aggregate(sequence(...))`` with the loop-carried
      variables as the accumulator (exec_stmt_fori re-expressed as a
      fold; stays in whole-stage codegen).

    DECLARE also accepts pure parameter aliases — ``name ALIAS FOR $n;``
    (the qp_functions.sql house style).  Anything beyond this subset
    (WHILE, EXIT/CONTINUE, nested IF bodies, EXCEPTION blocks) raises
    NotImplementedError and register_function falls back to the
    row-at-a-time interpreter in operators/plpgsql_interp.py."""
    b = body.strip().rstrip(";").strip()
    aliases: dict[str, str] = {}
    env: dict[str, str] = {}  # var → fully-substituted value expression
    decls: dict[str, str] = {}  # var → declared Spark type
    md = re.match(
        r"(?is)^declare\s+(.*?)\bbegin\b(.*)\bend$", b, re.DOTALL
    )
    m = md or re.match(r"(?is)^begin\b(.*)\bend$", b, re.DOTALL)
    if not m:
        raise NotImplementedError(
            "LANGUAGE plpgsql body must be [DECLARE ...] BEGIN ... END"
        )

    def subst(e: str) -> str:
        return substitute_names(e, env)

    if md:
        for d in split_top_level(md.group(1), ";"):
            ma = re.match(r"(?is)^(\w+)\s+alias\s+for\s+(\$\d+)$", d)
            if ma:
                aliases[ma.group(1)] = ma.group(2)
                continue
            mv = re.match(
                r"(?is)^(\w+)\s+([a-z_][\w ]*?(?:\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
                r"(?:\s*(?::=|default)\s*(.+))?$",
                d,
                re.DOTALL,
            )
            if not mv:
                raise NotImplementedError(
                    f"plpgsql DECLARE entry not understood: {d!r}"
                )
            name, typ, init = mv.group(1), _spark_type(mv.group(2)), mv.group(3)
            decls[name.lower()] = typ
            val = subst(init.strip()) if init else "NULL"
            env[name] = f"CAST(({val}) AS {typ})"
        inner = md.group(2).strip()
    else:
        inner = m.group(1).strip()
    if aliases:
        for alias, pos in aliases.items():
            inner = re.sub(rf"(?i)\b{re.escape(alias)}\b", pos, inner)

    def _set_var(name: str, value: str) -> None:
        for key in [k_ for k_ in env if k_.lower() == name.lower()]:
            del env[key]
        env[name] = value

    def _fold_loop(stmts: list[str], k: int) -> int:
        """Lower ``FOR v IN [REVERSE] a .. b [BY s] LOOP <assignments>
        END LOOP`` / ``FOREACH x IN ARRAY a LOOP ...`` (exec_stmt_fori /
        exec_stmt_foreach_a) to a JVM-side ``aggregate()`` fold: the
        loop-carried variables become the accumulator (a struct when
        more than one), each body assignment rewrites the accumulator,
        and the bounds build a guarded ``sequence()`` — empty when the
        range is empty in the iteration direction, as in PG.  Returns
        the index after END LOOP; raises NotImplementedError for bodies
        with nested control flow (those take the interpreter path)."""
        st = stmts[k]
        mfor = re.match(
            r"(?is)^for\s+(\w+)\s+in\s+(reverse\s+)?(.+?)\s*\.\.\s*(.+?)"
            r"(?:\s+by\s+(.+?))?\s+loop\s+(.*)$",
            st,
            re.DOTALL,
        )
        mfe = re.match(
            r"(?is)^foreach\s+(\w+)\s+in\s+array\s+(.+?)\s+loop\s+(.*)$",
            st,
            re.DOTALL,
        )
        if not mfor and not mfe:
            raise NotImplementedError(
                "plpgsql SQL path: only FOR v IN a .. b and FOREACH v IN "
                "ARRAY loops fold to expressions (interpreter handles the rest)"
            )
        loopvar = (mfor or mfe).group(1).lower()
        body_frags = [(mfor.group(6) if mfor else mfe.group(3)).strip()]
        k += 1
        while k < len(stmts) and not re.match(r"(?is)^end\s+loop$", stmts[k]):
            body_frags.append(stmts[k])
            k += 1
        if k >= len(stmts):
            raise NotImplementedError("plpgsql: END LOOP not found")
        k += 1
        assigns: list[tuple[str, str]] = []
        for frag in body_frags:
            if not frag:
                continue
            ma = re.match(r"(?is)^(\w+)\s*:=\s*(.+)$", frag, re.DOTALL)
            if not ma or ma.group(1).lower() not in decls:
                raise NotImplementedError(
                    "plpgsql SQL path: loop bodies fold only when every "
                    "statement is an assignment to a declared variable"
                )
            assigns.append((ma.group(1).lower(), ma.group(2).strip()))
        if not assigns:
            raise NotImplementedError("plpgsql SQL path: empty loop body")
        carried: list[str] = []
        for n, _ in assigns:
            if n == loopvar:
                raise NotImplementedError(
                    "plpgsql SQL path: assignment to the loop variable"
                )
            if n not in carried:
                carried.append(n)

        def env_val(name: str) -> str:
            for key, v in env.items():
                if key.lower() == name:
                    return v
            return "NULL"

        acc = "__gga"
        local = {
            v: (acc if len(carried) == 1 else f"{acc}.{v}") for v in carried
        }

        def subst_body(e: str) -> str:
            # carried vars -> accumulator refs; other declared vars ->
            # their outer values; the loop var stays as the lambda param
            mapping = {
                k: v
                for k, v in env.items()
                if k.lower() not in carried and k.lower() != loopvar
            }
            mapping.update({v: f"({val})" for v, val in local.items()})
            return substitute_names(e, mapping)

        for v, e in assigns:
            local[v] = f"CAST(({subst_body(e)}) AS {decls[v]})"
        if len(carried) == 1:
            step_fn = local[carried[0]]
            init = env_val(carried[0])
        else:
            step_fn = "named_struct(" + ", ".join(
                f"'{v}', {local[v]}" for v in carried
            ) + ")"
            init = "named_struct(" + ", ".join(
                f"'{v}', {env_val(v)}" for v in carried
            ) + ")"
        if mfor:
            lo, hi = subst(mfor.group(3).strip()), subst(mfor.group(4).strip())
            stp = subst(mfor.group(5).strip()) if mfor.group(5) else "1"
            rev = bool(mfor.group(2))
            cmp_op, neg = ("<", "-") if rev else (">", "")
            seq = (
                f"(CASE WHEN CAST(({lo}) AS BIGINT) {cmp_op} "
                f"CAST(({hi}) AS BIGINT) "
                f"THEN slice(sequence(CAST(0 AS BIGINT), CAST(0 AS BIGINT)), 1, 0) "
                f"ELSE sequence(CAST(({lo}) AS BIGINT), CAST(({hi}) AS BIGINT), "
                f"CAST({neg}({stp}) AS BIGINT)) END)"
            )
        else:
            seq = f"({subst(mfe.group(2).strip())})"
        # __GG_ARROW__ survives the transpiler's JSON -> pass verbatim;
        # register_function restores the lambda arrow post-transpile
        fold = (
            f"aggregate({seq}, {init}, ({acc}, {loopvar}) "
            f"__GG_ARROW__ {step_fn})"
        )
        for v in carried:
            _set_var(v, fold if len(carried) == 1 else f"({fold}).{v}")
        return k

    stmts = split_top_level(inner, ";")
    k = 0
    while k < len(stmts):
        st = stmts[k]
        if re.match(r"(?is)^if\b", st):
            break  # terminal IF chain handled below
        if re.match(r"(?is)^(for|foreach)\b", st):
            k = _fold_loop(stmts, k)
            continue
        ma = re.match(r"(?is)^(\w+)\s*:=\s*(.+)$", st, re.DOTALL)
        if ma:
            name = ma.group(1)
            if name.lower() not in decls:
                raise NotImplementedError(
                    f"plpgsql assignment to undeclared variable {name!r}"
                )
            val = subst(ma.group(2).strip())
            env[name] = f"CAST(({val}) AS {decls[name.lower()]})"
            k += 1
            continue
        mr = re.match(r"(?is)^return\s+(.+)$", st, re.DOTALL)
        if mr and k == len(stmts) - 1:
            return subst(mr.group(1).strip())
        raise NotImplementedError(
            "plpgsql subset: straight-line 'v := expr;' assignments ending "
            "in RETURN expr or a terminal IF chain; use LANGUAGE plpythonu "
            "for loops and procedural bodies"
        )
    chain = subst("; ".join(stmts[k:]))
    mi = re.match(r"(?is)^if\s+(.*)\s+end\s+if;?$", chain, re.DOTALL)
    if mi:
        whens, else_expr = [], None
        branches = mi.group(1).rstrip().rstrip(";") + ";"
        for part in re.split(r"(?is)\belsif\s+", branches):
            mp = re.match(
                r"(?is)^(.*?)\s+then\s+return\s+(.*?);"
                r"(?:\s*else\s+return\s+(.*?);)?\s*$",
                part,
                re.DOTALL,
            )
            if not mp:
                raise NotImplementedError(
                    "plpgsql IF branches must each be THEN RETURN <expr>;"
                )
            whens.append((mp.group(1).strip(), mp.group(2).strip()))
            if mp.group(3):
                else_expr = mp.group(3).strip()
        case = " ".join(f"WHEN ({c}) THEN ({e})" for c, e in whens)
        tail = (
            f"ELSE ({else_expr})"
            if else_expr is not None
            else "ELSE raise_error('control reached end of function "
            "without RETURN')"
        )
        return f"CASE {case} {tail} END"
    raise NotImplementedError(
        "plpgsql subset: [assignments +] RETURN expr or a single "
        "IF/ELSIF/ELSE chain of RETURNs; use LANGUAGE plpythonu for "
        "procedural bodies"
    )


_FROM_KEYWORDS = frozenset(
    "on using where group order limit offset inner left right full cross "
    "join union intersect except having window natural lateral".split()
)


def _split_using(rest: str) -> tuple[str, list[str]]:
    """Split 'expr [USING a, b, ...]' at the top-level USING keyword."""
    k = find_top_level(rest, "using")
    if k < 0:
        return rest.strip(), []
    return rest[:k].strip(), split_top_level(rest[k + 5 :])


def _eval_const_expr(text: str):
    """Evaluate a plpgsql expression that must be constant-foldable after
    call-site argument substitution (literals, ||, format/quote_ident,
    arithmetic) — the RETURN QUERY EXECUTE resolution path."""
    from greengage_spark.operators import plpgsql_interp as P

    toks = P._tokenize(text)
    ep = P._ExprParser(toks, 0)
    e = ep.parse()
    if ep.pos != len(toks):
        raise NotImplementedError(
            f"RETURN QUERY EXECUTE: trailing tokens in {text!r}"
        )
    return e({})


def _resolve_dyn_query(fd, args: list[str]) -> str:
    """Resolve a RETURN QUERY EXECUTE body at macro-expansion time: the
    call-site argument texts substitute for $n / parameter names, the
    query-string expression constant-folds to SQL text, and USING values
    substitute for $n inside that text as literals.  Column-dependent
    arguments cannot fold — loud reject (the macro architecture inlines
    one query per call site, exactly PG's
    inline_set_returning_function contract)."""
    from greengage_spark.operators import plpgsql_interp as P

    expr_text, using_texts = fd.dyn_query
    bound = [f"({a})" for a in args]

    def subst(t: str) -> str:
        # $n / names inside the quoted query text are DATA ($n there
        # belongs to USING, substituted after evaluation)
        return substitute_names(substitute_params(t, bound), dict(zip(fd.arg_names, bound)))

    try:
        sql = _eval_const_expr(subst(expr_text))
        if sql is None:
            raise ValueError("EXECUTE of a null query string")
        sql = P._bind_using(sql, [_eval_const_expr(subst(ut)) for ut in using_texts])
    except NotImplementedError:
        raise
    except Exception as e:
        raise NotImplementedError(
            f"RETURN QUERY EXECUTE in {fd.name!r}: the query string must "
            f"constant-fold from the call-site arguments ({e})"
        ) from None
    return sql


def expand_table_macros(sql: str, functions: dict, engine=None) -> str:
    """Expand FROM-position calls to RETURNS SETOF functions into inline
    subqueries — PG's inline_set_returning_function
    (optimizer/util/clauses.c): ``FROM f(a, b) AS t(c1, c2)`` becomes
    ``FROM (<body with $1→a, $2→b>) AS t(c1, c2)``.  Arguments
    substitute positionally ($n) and by declared name; expansion
    iterates so SETOF functions may call other SETOF functions (depth
    capped at 10, PG's own check_stack_depth analog)."""
    macros = {
        n.lower(): f for n, f in functions.items() if getattr(f, "setof", False)
    }
    if not macros:
        return sql
    for _ in range(10):
        changed = False
        for name, fd in macros.items():
            # NB: \b applies to the keywords only — a comma preceded by
            # ')' (e.g. "... AS s(c), f(x)") has no word boundary
            m = re.search(
                rf"(?is)(\bfrom|\bjoin|,)\s+{re.escape(name)}\s*\(", sql
            )
            if not m:
                continue
            i = close_of(sql, m.end() - 1) + 1
            args = split_top_level(sql[m.end() : i - 1])
            rest = sql[i:]
            alias, collist = None, ""
            mal = re.match(r"(?is)^\s+(?:as\s+)?(\w+)(\s*\(\s*\w+(?:\s*,\s*\w+)*\s*\))?", rest)
            if mal and mal.group(1).lower() not in _FROM_KEYWORDS:
                alias, collist = mal.group(1), mal.group(2) or ""
                rest = rest[mal.end() :]
            if getattr(fd, "interp_setof", False):
                try:
                    body = _run_interp_setof(fd, args, engine)
                except NotImplementedError:
                    # non-constant (per-row) arguments: if the body is
                    # SQL-free it can run ON EXECUTORS as an array UDF
                    # and explode laterally — the real per-row SETOF
                    # lane (pl_exec.c SRF calls with lateral references)
                    sub = _rowtier_setof_subquery(fd, args, engine)
                    if sub is None or m.group(1) != ",":
                        raise
                    col = name
                    if collist:
                        col = collist.strip(" ()").split(",")[0].strip()
                    elif alias:
                        col = alias
                    sql = (
                        sql[: m.start(1)]
                        + f", LATERAL (SELECT explode({sub}) AS {col}) "
                        + f"AS {alias or name}"
                        + rest
                    )
                    changed = True
                    continue
            elif getattr(fd, "dyn_query", None):
                body = _resolve_dyn_query(fd, args)
            else:
                bound = [f"({a})" for a in args]
                body = substitute_names(
                    substitute_params(fd.body, bound), dict(zip(fd.arg_names, bound))
                )
            # PG function-in-FROM calls are implicitly LATERAL
            # (ParseFuncOrColumn/transformRangeFunction); Spark needs
            # the keyword for correlated references to prior FROM items
            lat = "LATERAL " if m.group(1) == "," else ""
            sql = (
                sql[: m.start(1)]
                + m.group(1)
                + f" {lat}({body}) AS {alias or name}{collist}"
                + rest
            )
            changed = True
        if not changed:
            break
    return sql


def _rowtier_setof_subquery(fd: FunctionDef, args: list[str], engine):
    """Per-row SETOF lane: compile the body SQL-free with the RETURN
    NEXT accumulator (compile_plpgsql setof=True), register it as an
    ARRAY-returning UDF, and return the call text for a lateral
    explode.  None when the body needs the SQL engine or returns a
    non-scalar set (those keep the constant-args driver path)."""
    if engine is None or not getattr(fd, "ret_elem", None):
        return None
    from greengage_spark.operators.plpgsql_interp import compile_plpgsql

    try:
        gen = compile_plpgsql(
            fd.body, fd.arg_names, setof=True,
            functions=getattr(engine, "pl_registry", None),
            composite_types=(
                engine._composite_types()
                if hasattr(engine, "_composite_types") else None
            ),
        )
    except Exception:  # noqa: BLE001 — outside the row subset
        return None
    udf_name = f"__gg_srf_{fd.name.lower()}"
    engine.spark.udf.register(udf_name, gen, f"array<{fd.ret_elem}>")
    return f"{udf_name}({', '.join(args)})"


def _run_interp_setof(fd: FunctionDef, args: list[str], engine) -> str:
    """Execute an interpreter-backed SETOF function driver-side and
    inline its materialized rows as a VALUES relation — the analog of
    PG's tuplestore materialization for non-inlinable SRFs
    (pl_exec.c exec_stmt_return_next/return_query).  Arguments must be
    constant expressions (they evaluate once, driver-side; a LATERAL
    column reference cannot reach a driver-run interpreter)."""
    if engine is None:
        raise NotImplementedError(
            f"SETOF plpgsql function {fd.name} runs through the "
            "driver-side interpreter and needs engine context"
        )
    from greengage_spark.operators.plpgsql_interp import (
        _sql_literal,
        run_setof,
    )

    vals = []
    for a in args:
        try:
            row = engine.execute(f"SELECT ({a}) AS __v").collect()
        except Exception as e:
            raise NotImplementedError(
                f"SETOF plpgsql function {fd.name}: arguments must be "
                f"constant expressions (got {a!r}: {e})"
            ) from e
        vals.append(row[0][0])

    def hook(sql: str):
        engine.last_rowcount = None
        df = engine.execute(sql)
        if df is not None:
            rows = df.collect()
            hook.rowcount = len(rows)
            return rows
        hook.rowcount = engine.last_rowcount
        return []

    notices: list = []
    rows = run_setof(fd.body, hook, vals, fd.arg_names,
                     out_names=fd.out_names, param_order=fd.param_order,
                     notices=notices, types=engine._composite_types())
    engine.notices.extend(msg for _lvl, msg in notices)
    leaf = fd.name.rsplit(".", 1)[-1]

    def _shape(r):
        if isinstance(r, dict):
            return tuple(r)
        return tuple(getattr(r, "__fields__", ()))

    # single-column record rows unwrap to scalars so RETURN NEXT <expr>
    # and RETURN QUERY <1-col select> compose (PG checks the structures
    # against the declared result type; here the declared SETOF element
    # is scalar whenever any RETURN NEXT appended a scalar) — unless the
    # function declares OUT columns, whose record shape is the contract
    if not fd.out_names:
        rows = [r[0] if len(_shape(r)) == 1 else r for r in rows]
    else:
        # OUT parameters define the record contract: RETURN QUERY rows
        # map to the OUT columns positionally (pl_exec.c coerces the
        # query's tupdesc to the function's result rowtype)
        relabeled = []
        for r in rows:
            sh = _shape(r)
            if tuple(fd.out_names) == sh:
                relabeled.append(r)
            elif len(sh) == len(fd.out_names):
                vals = [r[c] for c in sh]
                relabeled.append(dict(zip(fd.out_names, vals)))
            elif not sh and len(fd.out_names) == 1:
                relabeled.append({fd.out_names[0]: r})
            else:
                raise ValueError(
                    f"SETOF plpgsql function {fd.name}: query row has "
                    f"{len(sh)} column(s), result type expects "
                    f"{len(fd.out_names)}"
                )
        rows = relabeled
    shapes = {_shape(r) for r in rows}
    if len(shapes) > 1:
        raise ValueError(
            f"SETOF plpgsql function {fd.name}: appended row structures "
            f"do not match ({sorted(shapes)})"
        )
    if not rows:
        cols = fd.out_names or [leaf]
        nulls = ", ".join(f"NULL AS {c}" for c in cols)
        return f"SELECT {nulls} WHERE 1 = 0"
    first = _shape(rows[0])
    if first:
        cols = list(first)
        values = ", ".join(
            "(" + ", ".join(_sql_literal(r[c]) for c in cols) + ")"
            for r in rows
        )
        return f"SELECT * FROM (VALUES {values}) AS __ggsetof({', '.join(cols)})"
    values = ", ".join(f"({_sql_literal(v)})" for v in rows)
    return f"SELECT * FROM (VALUES {values}) AS __ggsetof({leaf})"


def _registry_add(registry, fd: FunctionDef, composite_types=None) -> None:
    """Best-effort row-tier callable for the function registry, so
    interpreted plpgsql bodies can call this function per row on an
    executor (PG resolves such calls through SPI at execution)."""
    if registry is None or fd.setof:
        return
    from greengage_spark.operators.plpgsql_interp import (
        compile_plpgsql,
        compile_simple_sql_function,
    )

    try:
        if fd.language == "plpgsql":
            registry[fd.name.lower()] = compile_plpgsql(
                fd.body, fd.arg_names, functions=registry,
                composite_types=composite_types,
            )
        elif fd.language == "sql":
            registry[fd.name.lower()] = compile_simple_sql_function(
                fd.body, fd.arg_names
            )
    except Exception:  # noqa: BLE001
        # not row-callable: calls raise undefined_function loudly
        registry.pop(fd.name.lower(), None)


def register_function(
    spark: SparkSession,
    fd: FunctionDef,
    transpile,
    registry: dict | None = None,
    composite_types: dict | None = None,
) -> None:
    """Register on the session: sql/plpgsql → Spark SQL-defined function
    (inlines into Catalyst); plpythonu → Python UDF.  SETOF table macros
    have no session-side object — they expand inline at query time
    (expand_table_macros).  ``registry`` (name → Python callable) feeds
    the plpgsql interpreter's per-row function resolution."""
    if fd.setof:
        return
    if fd.language in ("sql", "plpgsql"):
        _registry_add(registry, fd, composite_types)
        if fd.language == "plpgsql":
            try:
                expr = plpgsql_to_expr(fd.body)
            except NotImplementedError:
                # procedural body (WHILE / EXIT / CONTINUE / nested IF /
                # EXCEPTION): interpret it — the slow row-at-a-time path,
                # the same execution model as the reference's own
                # interpreted PL/pgSQL (pl_exec.c)
                from greengage_spark.operators.plpgsql_interp import (
                    compile_plpgsql,
                )

                fd.pyfn = compile_plpgsql(
                    fd.body, fd.arg_names, functions=registry,
                    composite_types=composite_types,
                )
                cast = _PY_CASTS.get(fd.ret_type)
                fn = fd.pyfn
                if cast is not None:
                    def fn(*a, _f=fd.pyfn, _c=cast):  # noqa: E306
                        r = _f(*a)
                        return None if r is None else _c(r)
                spark.udf.register(fd.name, fn, fd.ret_type)
                return
        else:
            body = fd.body.rstrip(";").strip()
            msel = re.match(r"(?is)^select\s+(.*)$", body)
            if not msel:
                raise NotImplementedError(
                    "LANGUAGE sql body must be a single SELECT expr"
                )
            expr = msel.group(1).strip()
        expr = substitute_params(expr, fd.arg_names)
        args = ", ".join(
            f"{n} {t}" for n, t in zip(fd.arg_names, fd.arg_types)
        )
        lowered = transpile(expr).replace("__GG_ARROW__", "->")
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {fd.name}({args}) "
            f"RETURNS {fd.ret_type} RETURN {lowered}"
        )
        return
    if fd.language in ("plperl", "pltcl"):
        # real interpreter coprocess (operators/plforeign.py — the
        # libperl/libtcl-embedding analog); compile errors surface NOW
        from greengage_spark.operators.plforeign import compile_foreign

        fd.pyfn = compile_foreign(
            fd.language, fd.body, len(fd.arg_names), fd.ret_type
        )
        spark.udf.register(fd.name, fd.pyfn, fd.ret_type)
        return
    # plpythonu: compile the body as a def with the declared arg names
    indented = "\n".join("    " + ln for ln in fd.body.split("\n"))
    src = f"def __gg_fn({', '.join(fd.arg_names)}):\n{indented}\n"
    ns: dict = {}
    exec(src, ns)  # noqa: S102 - the user's own CREATE FUNCTION body
    fd.pyfn = ns["__gg_fn"]
    if registry is not None:
        registry[fd.name.lower()] = fd.pyfn
    cast = _PY_CASTS.get(fd.ret_type)
    fn = fd.pyfn
    if cast is not None:
        def fn(*a, _f=fd.pyfn, _c=cast):  # noqa: E306
            r = _f(*a)
            return None if r is None else _c(r)
    spark.udf.register(fd.name, fn, fd.ret_type)


@dataclass
class AggregateDef:
    name: str
    base_type: str | None  # Spark type string; None for (*)
    sfunc: str
    stype: str
    finalfunc: str | None
    initcond: object


_CREATE_AGG = re.compile(
    r"(?is)^create\s+(or\s+replace\s+)?(?:ordered\s+)?aggregate\s+([\w.]+)\s*(\(.*\))\s*$"
)


def _paren_groups(s: str) -> list[str]:
    """The contents of each top-level (...) group of s."""
    groups, end = [], -1
    for m in lex(s):
        if m.start() > end and m.group(0) == "(":
            end = close_of(s, m.start())
            groups.append(s[m.end() : end])
    return groups


def parse_create_aggregate(stmt: str) -> tuple[AggregateDef, bool]:
    m = _CREATE_AGG.match(stmt.strip())
    groups = _paren_groups(m.group(3)) if m else []
    # new style: (basetype) (options); old style (create_aggregate.sql
    # "old-style spelling"): (options incl. basetype =)
    if m and len(groups) == 2:
        base_grp, opts_grp = groups
    elif m and len(groups) == 1:
        base_grp, opts_grp = "", groups[0]
    else:
        raise NotImplementedError(
            "CREATE AGGREGATE name (type|*) (SFUNC=..., STYPE=..., "
            "[FINALFUNC=...], [INITCOND=...])"
        )
    opts: dict[str, str] = {}
    for item in opts_grp.split(","):
        k, _, v = item.partition("=")
        if k.strip():
            opts[k.strip().lower()] = v.strip().strip("'")
    # obsolete spellings (create_aggregate.sql: sfunc1/stype1/initcond1,
    # basetype in the option list)
    sfunc = opts.get("sfunc") or opts.get("sfunc1")
    stype = opts.get("stype") or opts.get("stype1")
    if not sfunc or not stype:
        raise NotImplementedError("CREATE AGGREGATE requires SFUNC and STYPE")
    base_raw = base_grp.strip()
    if base_raw == "*" or not base_raw:
        base = None
    else:
        base = _spark_type(base_raw.split()[-1])
    if base is None and "basetype" in opts and opts["basetype"].lower() != "any":
        base = _spark_type(opts["basetype"])
    init_raw = opts.get("initcond", opts.get("initcond1"))
    init = None
    if init_raw is not None:
        try:
            init = int(init_raw)
        except ValueError:
            try:
                init = float(init_raw)
            except ValueError:
                init = init_raw
    return (
        AggregateDef(
            name=m.group(2),
            base_type=base,
            sfunc=sfunc.lower(),
            stype=_spark_type(re.sub(r"^_", "", stype)),
            finalfunc=(opts.get("finalfunc") or "").lower() or None,
            initcond=init,
        ),
        bool(m.group(1)),
    )


def register_aggregate(
    spark: SparkSession,
    ad: AggregateDef,
    resolve,  # name -> python callable (engine-registered or builtin)
) -> None:
    """Register as an Arrow-batched pandas GROUPED_AGG UDAF folding SFUNC
    over the group (advance_transition_function loop), then FINALFUNC."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    sfn = resolve(ad.sfunc)
    ffn = resolve(ad.finalfunc) if ad.finalfunc else None
    init = ad.initcond

    def fold(col):
        state = init
        # strict transition: skip nulls (advance_transition_function)
        for v in col.dropna():
            state = v if state is None else sfn(state, v)
        if state is not None and ffn is not None:
            state = ffn(state)
        return state

    spark.udf.register(
        ad.name, pandas_udf(fold, ad.stype, PandasUDFType.GROUPED_AGG)
    )


def resolve_transition(name: str, registry: dict[str, FunctionDef]):
    """SFUNC/FINALFUNC lookup: engine-created plpythonu function, else a
    built-in transition function (pg_proc.h arithmetic family)."""
    fd = registry.get(name)
    if fd is not None:
        if fd.pyfn is None:
            raise NotImplementedError(
                f"aggregate transition {name!r} must be LANGUAGE plpythonu "
                f"(sql-language functions inline into Catalyst and are not "
                f"callable from the Python fold)"
            )
        return fd.pyfn
    if name in _BUILTIN_FNS:
        return _BUILTIN_FNS[name]
    raise NotImplementedError(
        f"unknown transition function {name!r}: CREATE FUNCTION it first "
        f"(LANGUAGE plpythonu) or use a built-in (int4pl, float8pl, ...)"
    )
