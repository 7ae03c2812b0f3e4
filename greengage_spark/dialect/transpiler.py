"""PostgreSQL/Greenplum SQL → Spark SQL transpiler.

Token-level rewriting of the PG-specific surface the reference's grammar
accepts (src/backend/parser/gram.y) into Spark SQL:

  expr::type            → CAST(expr AS sparktype)     (gram.y Typecast)
  j -> 'k', j ->> 'k'   → get_json_object(j, '$.k')   (json.c operators)
  j #> '{a,b}'          → get_json_object(j, '$.a.b')
  s ~ 'p' / ~* / !~ / !~*  → [NOT] s RLIKE '(?i)p'    (regexp.c operators)
  to_char(ts,'YYYY-MM') → date_format(ts,'yyyy-MM')   (formatting.c)
  to_date/to_timestamp  → pattern-translated builtins
  date_part('dow',x)    → PG day numbering (Sunday=0)
  generate_series(a,b) in FROM → explode(sequence())  (nodeFunctionscan.c)
  gp_segment_id         → spark_partition_id()
  PG function aliases   → Spark names (strpos→instr, log→log10, …)

ILIKE, ||, BETWEEN SYMMETRIC-less forms, EXTRACT, INTERVAL literals and
LATERAL pass through — Spark SQL parses them natively.

Lexing and span helpers live in ``dialect/spans.py``: its tokenizer
understands PG string literals (''-escaped, E''), quoted identifiers,
comments and numbers, so rewrites never fire inside strings, and its
bracket matchers, depth-0 splitter and iterator, operand spans and
call-site rewriter are the only copies the passes use.

Pass-order contract: ``transpile()`` runs three string-level rewrites
(DISTINCT ON, FROM generate_series, bit literals), then the token passes
in the fixed order written there.  Each pass takes and returns the full
token list and may rely on the passes before it — e.g. CAST typenames
map before ``::`` casts emit Spark type tokens, geometry runs before the
json arrows, and quoted identifiers and ''-literals are re-spelled for
Spark last.  A new pass goes where its input forms still exist and its
output cannot be re-read by a later pass.
"""

from __future__ import annotations

import re

from greengage_spark.dialect.datetime_patterns import pg_pattern_to_java
from greengage_spark.dialect.spans import (
    CLOSE,
    NON_FUNC_KEYWORDS,
    close_of,
    find_top_level,
    is_ident,
    is_string,
    join_tokens,
    match_close,
    match_open,
    operand_end,
    operand_start,
    rewrite_calls,
    split_top,
    tokenize,
    top_level,
)

_ESTRING_ESCAPES = {
    "b": "\b", "f": "\f", "n": "\n", "r": "\r", "t": "\t",
    "\\": "\\", "'": "'",
}


def _decode_estring(tok: str) -> str:
    """Decode a PG E'' escape-string literal (scan.l xe rules) into a plain
    quoted literal: \\n \\t \\b \\f \\r, octal \\o[oo], hex \\xh[h], unicode
    \\uXXXX / \\UXXXXXXXX; any other \\c is c.  '' stays an escaped quote.
    The session runs with escapedStringLiterals=true, so the emitted plain
    literal is taken verbatim by Spark (backslashes inert)."""
    body = tok[2:-1]  # strip E' ... '
    out: list[str] = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "'":  # doubled quote in source → one literal quote
            out.append("'")
            i += 2
            continue
        if c != "\\":
            out.append(c)
            i += 1
            continue
        i += 1
        if i >= len(body):
            out.append("\\")
            break
        e = body[i]
        if e in _ESTRING_ESCAPES:
            out.append(_ESTRING_ESCAPES[e])
            i += 1
        elif e in "01234567":
            j = i
            while j < len(body) and j < i + 3 and body[j] in "01234567":
                j += 1
            out.append(chr(int(body[i:j], 8)))
            i = j
        elif e in "xX":
            j = i + 1
            while j < len(body) and j < i + 3 and body[j] in "0123456789abcdefABCDEF":
                j += 1
            if j > i + 1:
                out.append(chr(int(body[i + 1 : j], 16)))
            else:
                out.append(e)
            i = j
        elif e in "uU":
            width = 4 if e == "u" else 8
            h = body[i + 1 : i + 1 + width]
            if len(h) == width and all(ch in "0123456789abcdefABCDEF" for ch in h):
                out.append(chr(int(h, 16)))
                i += 1 + width
            else:
                out.append(e)
                i += 1
        else:
            out.append(e)
            i += 1
    return "'" + "".join(out).replace("'", "''") + "'"


def _pass_estrings(toks: list[str]) -> list[str]:
    """PG E'' escape strings → decoded plain literals, so every later pass
    (and Spark itself) sees ordinary quoted strings."""
    return [
        _decode_estring(t) if len(t) >= 3 and t[0] in "eE" and t[1] == "'" else t
        for t in toks
    ]


def _count_capture_groups(pat: str) -> int:
    """Count CAPTURING groups in a regex (PG regexp.c re_nsub): an
    unescaped ``(`` not followed by ``?`` and outside every bracket
    expression.  In a bracket expression a ``]`` right after ``[`` or
    ``[^`` is literal, and ``[:class:]`` / ``[.coll.]`` / ``[=equiv=]``
    items nest (regc_lex.c brackets)."""
    n, i = 0, 0
    while i < len(pat):
        c = pat[i]
        if c == "\\":
            i += 2
            continue
        if c == "[":
            i += 1
            if pat.startswith("^", i):
                i += 1
            if pat.startswith("]", i):
                i += 1
            while i < len(pat) and pat[i] != "]":
                if pat[i] == "\\":
                    i += 1
                elif pat[i] == "[" and pat[i + 1 : i + 2] in (":", ".", "="):
                    end = pat.find(pat[i + 1] + "]", i + 2)
                    if end >= 0:
                        i = end + 1
                i += 1
        elif c == "(" and not pat.startswith("?", i + 1):
            n += 1
        i += 1
    return n


def _is_operand_end(t: str) -> bool:
    return t == ")" or t == "]" or is_ident(t) or is_string(t) or re.match(r"^[\d.]", t)


# ------------------------------------------------------------------- passes

_TYPE_MAP = {
    "int2": "SMALLINT", "smallint": "SMALLINT",
    "int4": "INT", "int": "INT", "integer": "INT",
    "int8": "BIGINT", "bigint": "BIGINT", "oid": "BIGINT",
    "float4": "FLOAT", "real": "FLOAT",
    # bare `float` is float8 in PG (gram.y SimpleTypename; float(p) p>24 ≡ float8)
    "float8": "DOUBLE", "float": "DOUBLE",
    "bool": "BOOLEAN", "boolean": "BOOLEAN",
    "text": "STRING", "varchar": "STRING", "char": "STRING",
    "bpchar": "STRING", "name": "STRING", "citext": "STRING",
    # contrib/ltree: label paths as their text form (functions/ltree_ops)
    "ltree": "STRING", "lquery": "STRING",
    "bytea": "BINARY",
    "date": "DATE",
    "timestamp": "TIMESTAMP_NTZ", "timestamptz": "TIMESTAMP",
    "time": "STRING", "json": "STRING", "jsonb": "STRING",
    "uuid": "STRING", "regclass": "STRING",
    "numeric": "DECIMAL(38,18)", "decimal": "DECIMAL(38,18)",
    # cash.c: money is a fixed-point 2-dp value; plain-number literals
    # cast directly ($/comma input forms are out of the subset)
    "money": "DECIMAL(19,2)",
    # geometric types are their PG literal text (functions/geometry.py);
    # ::point etc. is an identity cast over that representation
    "point": "STRING", "box": "STRING", "circle": "STRING",
    # text-search types are their text form (functions/textsearch.py);
    # literal ::tsquery casts are consumed by _pass_text_search — these
    # identity casts cover the non-literal column form
    "tsquery": "STRING", "tsvector": "STRING",
}

_PARAMETERIZED = {"numeric", "decimal"}  # keep (p,s); others drop args


def _pass_cast_typenames(toks: list[str]) -> list[str]:
    """Normalize PG type names in explicit ``CAST(expr AS type)`` (gram.y
    func_expr_common_subexpr) the same way the ``::`` pass does: float8 →
    DOUBLE, int8 → BIGINT, numeric(p,s) → DECIMAL(p,s), varchar(n) → STRING
    (length dropped), double precision → DOUBLE."""
    i = 0
    while i + 1 < len(toks):
        if not (is_ident(toks[i]) and toks[i].lower() == "cast" and toks[i + 1] == "("):
            i += 1
            continue
        close = match_close(toks, i + 1)
        # the type name follows the LAST depth-1 AS inside the parens
        as_idx = None
        for j, t in top_level(toks, i + 2):
            if is_ident(t) and t.lower() == "as":
                as_idx = j
        if as_idx is None:
            i += 1
            continue
        k = as_idx + 1
        tname = toks[k].lower() if k < close and is_ident(toks[k]) else None
        mapped = _TYPE_MAP.get(tname) if tname else None
        if tname == "double" and k + 1 < close and toks[k + 1].lower() == "precision":
            toks[k : k + 2] = ["DOUBLE"]
        elif mapped:
            end = k
            if end + 1 < close and toks[end + 1] == "(":
                pclose = match_close(toks, end + 1)
                if tname in _PARAMETERIZED:
                    mapped = "DECIMAL" + "".join(toks[end + 1 : pclose + 1])
                end = pclose
            toks[k : end + 1] = [mapped]
        i += 1
    return toks


_SEG_OPS = (
    # multi-token glyphs first (longest match); name keys into pg_seg_*
    (("@", ">"), "contains", None), (("<", "@"), "contained", None),
    (("&", "&"), "overlap", None), (("<<",), "left", None),
    ((">>",), "right", None), (("&", "<"), "overleft", None),
    (("&", ">"), "overright", None),
    (("<=",), None, "<="), ((">=",), None, ">="),
    (("<>",), None, "<>"), (("!=",), None, "<>"),
    (("=",), None, "="), (("<",), None, "<"), ((">",), None, ">"),
)


def _marker_binops(toks: list[str], marker: str, ops, kernel: str) -> list[str]:
    """``marker(a) <glyph> marker(b)`` → ``kernel_<name>(a, b)``, or
    ``(kernel_cmp(a, b) <op> 0)`` for the ordering glyphs of ``ops``;
    rescans from the start after each rewrite."""
    i = 0
    while i < len(toks):
        if toks[i] != marker:
            i += 1
            continue
        lclose = match_close(toks, i + 1)
        for glyph, name, cmpop in ops:
            j = lclose + 1
            k = j + len(glyph)
            if tuple(toks[j:k]) != glyph or toks[k : k + 1] != [marker]:
                continue
            rclose = match_close(toks, k + 1)
            left, right = toks[i + 2 : lclose], toks[k + 2 : rclose]
            if name is not None:
                expr = [f"{kernel}_{name}", "("] + left + [","] + right + [")"]
            else:
                expr = (
                    ["(", f"{kernel}_cmp", "("] + left + [","] + right
                    + [")", cmpop if cmpop != "<>" else "!=", "0", ")"]
                )
            toks = toks[:i] + expr + toks[rclose + 1 :]
            i = 0
            break
        else:
            i += 1
    return toks


def _pass_seg(toks: list[str]) -> list[str]:
    """contrib/seg (seg.c, segparse.y): ``expr::seg`` canonicalizes the
    interval text (plan time for literals — input errors surface like
    PG's); the interval operators (@> <@ && << >> &< &>) and ordering
    run between two seg values via the parsed-bounds kernels; the
    canonical string is both the stored value and the display form, so
    no output wrapping is needed.  seg_size/center/upper/lower lower
    to their kernels."""
    if not any(is_ident(t) and t.lower() == "seg" for t in toks):
        return toks
    changed = True
    while changed:
        changed = False
        for i in range(len(toks) - 1):
            if toks[i] != "::" or toks[i + 1].lower() != "seg":
                continue
            start = operand_start(toks, i - 1)
            operand = toks[start:i]
            if len(operand) == 1 and is_string(operand[0]):
                from greengage_spark.functions.seg import canonical

                v = canonical(operand[0][1:-1].replace("''", "'"))
                repl = ["__gg_seg", "(", "'" + v.replace("'", "''") + "'", ")"]
            elif operand and operand[0] == "__gg_seg":
                repl = operand
            else:
                repl = (
                    ["__gg_seg", "(", "pg_seg_in", "("]
                    + operand + [")", ")"]
                )
            toks = toks[:start] + repl + toks[i + 2 :]
            changed = True
            break
    # binary operators between two seg markers
    toks = _marker_binops(toks, "__gg_seg", _SEG_OPS, "pg_seg")
    # seg functions + leftover markers
    fns = {
        "seg_size": "pg_seg_size", "seg_center": "pg_seg_center",
        "seg_upper": "pg_seg_upperf", "seg_lower": "pg_seg_lowerf",
    }

    def lower(name: str, args: list[list[str]]) -> list[str] | None:
        if name == "__gg_seg":
            return ["(", *args[0], ")"]
        if args and args[0][:1] == ["__gg_seg"]:
            return [fns[name.lower()], "(", *args[0][2:-1], ")"]
        return None

    return rewrite_calls(toks, {"__gg_seg", *fns}, lower)


_CUBE_OPS = (
    # multi-token glyphs first (longest match); name keys into pg_cube_*
    (("@", ">"), "contains", None), (("<", "@"), "contained", None),
    (("&", "&"), "overlap", None),
    (("@",), "contains", None), (("~",), "contained", None),  # deprecated
    (("<=",), None, "<="), ((">=",), None, ">="),
    (("<>",), None, "<>"), (("!=",), None, "<>"),
    (("=",), None, "="), (("<",), None, "<"), ((">",), None, ">"),
)

_CUBE_FNS = {
    # name -> (pg_cube_* kernel, returns-cube?)
    "cube_dim": ("pg_cube_dim", False),
    "cube_ll_coord": ("pg_cube_ll_coord", False),
    "cube_ur_coord": ("pg_cube_ur_coord", False),
    "cube_is_point": ("pg_cube_is_point", False),
    "cube_size": ("pg_cube_size", False),
    "cube_distance": ("pg_cube_distance", False),
    "cube_union": ("pg_cube_union", True),
    "cube_inter": ("pg_cube_inter", True),
    "cube_enlarge": ("pg_cube_enlarge", True),
    "cube_subset": ("pg_cube_subset", True),
}


def _grouping_cube_spans(toks, low) -> set[int]:
    """Token indexes belonging to GROUP BY clauses — CUBE there is the
    grouping construct (gram.y reserves it), never the contrib type."""
    spans: set[int] = set()
    enders = {"having", "order", "limit", "offset", "window",
              "union", "intersect", "except"}
    i = 0
    while i < len(low) - 1:
        if low[i] == "group" and low[i + 1] == "by":
            j = next(
                (k for k, t in top_level(toks, i + 2)
                 if t in CLOSE or low[k] in enders),
                len(toks),
            )
            spans.update(range(i + 2, j))
            i = j
        else:
            i += 1
    return spans


def _cube_arg_is_array(arg: list[str]) -> bool:
    """Lexical array detection for the cube(float8[]...) constructor
    forms: ARRAY[...]/array(...) expressions or a ::float[]-style cast."""
    low = [t.lower() if is_ident(t) else t for t in arg]
    if "array" in low:
        return True
    for k in range(len(arg) - 1):
        if arg[k] == "[" or (arg[k] == "::" and k + 1 < len(arg)
                             and low[k + 1] in ("float", "float8", "float4",
                                                "real", "numeric", "double")
                             and "[" in arg[k + 1:]):
            return True
    return False


def _pass_cube(toks: list[str]) -> list[str]:
    """contrib/cube (cube.c, cubeparse.y): ``expr::cube`` canonicalizes
    the n-dimensional interval text (plan time for literals); the
    ``cube(...)`` constructors dispatch on argument shape (scalar point/
    interval, cube+dimension append, float8[] forms); the operators
    (@> <@ && and ordering) and the cube_* function family run via the
    parsed-corner kernels in functions/pgcube.py.  GROUP BY CUBE is the
    grouping construct and is never touched."""
    low0 = [t.lower() if is_ident(t) else "" for t in toks]
    if "cube" not in low0 and not any(c.startswith("cube_") for c in low0):
        return toks
    grouping = _grouping_cube_spans(toks, low0)

    # ::cube casts -> markers (literals fold at plan time)
    changed = True
    while changed:
        changed = False
        for i in range(len(toks) - 1):
            if toks[i] != "::" or toks[i + 1].lower() != "cube":
                continue
            start = operand_start(toks, i - 1)
            # extend left over chained casts ('(0)'::text::cube)
            while start >= 2 and toks[start - 1] == "::":
                start = operand_start(toks, start - 2)
            operand = toks[start:i]
            # a text-cast chain on a literal is still the input function
            while (
                len(operand) >= 3
                and operand[-2] == "::"
                and operand[-1].lower() in ("text", "varchar", "cstring")
            ):
                operand = operand[:-2]
            if len(operand) == 1 and is_string(operand[0]):
                from greengage_spark.functions.pgcube import canonical

                v = canonical(operand[0][1:-1].replace("''", "'"))
                repl = ["__gg_cube", "(", "'" + v.replace("'", "''") + "'", ")"]
            elif operand and operand[0] == "__gg_cube":
                repl = operand
            else:
                repl = (
                    ["__gg_cube", "(", "pg_cube_in", "("]
                    + operand + [")", ")"]
                )
            toks = toks[:start] + repl + toks[i + 2 :]
            changed = True
            break
    # cube(...) constructors (innermost-first so chains resolve) and the
    # cube_* function family
    changed = True
    while changed:
        changed = False
        low = [t.lower() if is_ident(t) else "" for t in toks]
        grouping = _grouping_cube_spans(toks, low)
        for i in range(len(toks) - 1):
            name = low[i]
            if toks[i : i + 1] == ["__gg_cube"] or toks[i + 1] != "(":
                continue
            if name == "cube" and i not in grouping:
                close = match_close(toks, i + 1)
                inner = toks[i + 2 : close]
                if any(
                    t.lower() == "cube" or t.lower().startswith("cube_")
                    for t in inner if is_ident(t)
                ):
                    continue  # resolve nested cube expressions first
                args = split_top(inner)
                repl = _lower_cube_ctor(args)
                if repl is None:
                    continue
                toks = toks[:i] + repl + toks[close + 1 :]
                changed = True
                break
            if name in _CUBE_FNS:
                close = match_close(toks, i + 1)
                inner = toks[i + 2 : close]
                if any(
                    t.lower() == "cube" or t.lower().startswith("cube_")
                    for t in inner if is_ident(t)
                ):
                    continue
                args = split_top(inner)
                kern, ret_cube = _CUBE_FNS[name]
                flat: list[str] = []
                for k, a in enumerate(args):
                    if k:
                        flat.append(",")
                    flat += _unwrap_cube(a)
                repl = [kern, "(", *flat, ")"]
                if ret_cube:
                    repl = ["__gg_cube", "(", *repl, ")"]
                toks = toks[:i] + repl + toks[close + 1 :]
                changed = True
                break
    # binary operators between two cube markers
    toks = _marker_binops(toks, "__gg_cube", _CUBE_OPS, "pg_cube")
    # leftover markers unwrap to their canonical-string expression
    return rewrite_calls(toks, {"__gg_cube"}, lambda _, args: ["(", *args[0], ")"])


def _unwrap_cube(arg: list[str]) -> list[str]:
    if arg and arg[0] == "__gg_cube":
        return arg[2 : match_close(arg, 1)]
    return arg


def _lower_cube_ctor(args: list[list[str]]) -> list[str] | None:
    """cube(...) constructor dispatch (cube--1.0.sql's six forms)."""
    if not args or len(args) > 3:
        return None
    first_is_cube = args[0] and args[0][0] == "__gg_cube"
    if len(args) == 1:
        if first_is_cube:  # cube(cube) is the identity cast
            return list(args[0])
        if _cube_arg_is_array(args[0]):
            return ["__gg_cube", "(", "pg_cube_arr", "(", *args[0], ")", ")"]
        # cube(text) is the input function; strip a ::text cast first
        a0 = list(args[0])
        while (
            len(a0) >= 3 and a0[-2] == "::"
            and a0[-1].lower() in ("text", "varchar", "cstring")
        ):
            a0 = a0[:-2]
        args = [a0] + list(args[1:])
        if len(args[0]) == 1 and is_string(args[0][0]):
            # cube('text') = the input function
            from greengage_spark.functions.pgcube import canonical

            v = canonical(args[0][0][1:-1].replace("''", "'"))
            return ["__gg_cube", "(", "'" + v.replace("'", "''") + "'", ")"]
        return ["__gg_cube", "(", "pg_cube_point", "(", *args[0], ")", ")"]
    if len(args) == 2:
        if first_is_cube:
            return ["__gg_cube", "(", "pg_cube_add_point", "(",
                    *_unwrap_cube(args[0]), ",", *args[1], ")", ")"]
        if _cube_arg_is_array(args[0]) and _cube_arg_is_array(args[1]):
            return ["__gg_cube", "(", "pg_cube_arr", "(",
                    *args[0], ",", *args[1], ")", ")"]
        return ["__gg_cube", "(", "pg_cube_interval", "(",
                *args[0], ",", *args[1], ")", ")"]
    if not first_is_cube:
        return None
    return ["__gg_cube", "(", "pg_cube_add_interval", "(",
            *_unwrap_cube(args[0]), ",", *args[1], ",", *args[2], ")", ")"]


_INTARR_TYPES = ("int", "int2", "int4", "int8", "integer", "smallint", "bigint")
# heads our own rewrites emit — lets chained ops (a | b | c) keep matching
_INTARR_EMITTED = ("array_sort", "array_remove", "flatten", "filter")


def _intarrayish(span: list[str]) -> bool:
    """Lexical int-array evidence: a ::int[]-family cast anywhere in the
    span, an ARRAY constructor head, or one of our own emitted heads.
    A textual front-end cannot see column types, so bare columns must
    pass through a cast site ((col)::int[] | 5) — the documented subset,
    same rule as the md-array functions."""
    low = [t.lower() if is_ident(t) else t for t in span]
    if low and (low[0] == "array" or low[0] in _INTARR_EMITTED):
        return True
    for k in range(len(low) - 2):
        if low[k] == "::" and low[k + 1] in _INTARR_TYPES and low[k + 2] == "[":
            return True
    # the earlier cast passes may already have lowered '{..}'::int[] to
    # CAST(ARRAY(..) AS ARRAY<INT>) — the type token is the evidence
    return any(
        t.upper() in ("ARRAY<INT>", "ARRAY<BIGINT>", "ARRAY<SMALLINT>")
        for t in span
    )


def _extend_cast_left(toks: list[str], lstart: int) -> int:
    """Extend an operand start leftward over ``expr :: type [ ]`` casts
    (the plain operand_start stops at the type name)."""
    while lstart >= 2 and toks[lstart - 1] == "::":
        lstart = operand_start(toks, lstart - 2)
    return lstart


def _extend_cast_right(toks: list[str], rend: int) -> int:
    """Extend an operand end rightward over ``:: type [ ]`` suffixes."""
    while (
        rend + 2 < len(toks)
        and toks[rend + 1] == "::"
        and is_ident(toks[rend + 2])
    ):
        rend += 2
        while (
            rend + 2 < len(toks)
            and toks[rend + 1] == "["
            and toks[rend + 2] == "]"
        ):
            rend += 2
    return rend


def _pass_intarray_ops(toks: list[str]) -> list[str]:
    """contrib/intarray operators (_int_op.c; _int_bool.c):

    * ``a + e`` append / ``a + b`` concatenate (order kept, dups kept)
    * ``a - e`` remove every occurrence / ``a - b`` remove members of b
      (a's order and remaining dups kept)
    * ``a | e`` / ``a | b`` union → SORTED distinct
    * ``a & b`` intersection → sorted distinct
    * ``a @@ 'query'`` / ``'query' ~~ a`` — the query_int boolean match,
      folded at plan time into pure JVM array_contains logic
    * ``'...'::query_int`` → the canonical infix display

    All JVM expressions, zero UDFs.  Runs before the cast passes so the
    ::int[] evidence is still visible.
    """
    low0 = [t.lower() if is_ident(t) else t for t in toks]
    if not (
        "query_int" in low0
        or any(
            t.upper() in ("ARRAY<INT>", "ARRAY<BIGINT>", "ARRAY<SMALLINT>")
            for t in toks
        )
        or any(
            low0[k] == "::" and low0[k + 1] in _INTARR_TYPES
            and k + 2 < len(low0) and low0[k + 2] == "["
            for k in range(len(low0) - 2)
        )
    ):
        return toks
    from greengage_spark.functions.intquery import (
        canonical as qi_canon,
        parse_query_int,
        to_sql as qi_sql,
    )

    # ::query_int casts fold to the canonical display string
    changed = True
    while changed:
        changed = False
        for i in range(len(toks) - 1):
            if toks[i] != "::" or toks[i + 1].lower() != "query_int":
                continue
            start = operand_start(toks, i - 1)
            operand = toks[start:i]
            if len(operand) == 1 and is_string(operand[0]):
                v = qi_canon(operand[0][1:-1].replace("''", "'"))
                toks = (
                    toks[:start]
                    + ["__gg_qint", "(", "'" + v.replace("'", "''") + "'", ")"]
                    + toks[i + 2 :]
                )
                changed = True
                break
            raise NotImplementedError(
                "query_int values must be literals (the reference has no "
                "query_int columns in its regress either)"
            )
    # @@ / ~~ match operators
    changed = True
    while changed:
        changed = False
        i = 1
        while i < len(toks) - 2:
            is_at = toks[i] == "@" and toks[i + 1] == "@"
            is_tld = toks[i] == "~" and toks[i + 1] == "~"
            if not (is_at or is_tld):
                i += 1
                continue
            lstart = _extend_cast_left(toks, operand_start(toks, i - 1))
            rend = _extend_cast_right(toks, operand_end(toks, i + 2))
            left = toks[lstart:i]
            right = toks[i + 2 : rend + 1]
            arr, q = (left, right) if is_at else (right, left)
            if q and q[0] == "__gg_qint":
                qtext = q[2][1:-1].replace("''", "'")
            elif (
                len(q) == 1 and is_string(q[0])
                and (_intarrayish(arr) or is_tld)
            ):
                qtext = q[0][1:-1].replace("''", "'")
            else:
                i += 1
                continue
            expr = qi_sql(parse_query_int(qtext), "(" + " ".join(arr) + ")")
            toks = toks[:lstart] + tokenize(expr) + toks[rend + 1 :]
            changed = True
            break
    # leftover query_int markers unwrap to their display literal
    return rewrite_calls(toks, {"__gg_qint"}, lambda _, args: args[0])


def _pass_chkpass(toks: list[str]) -> list[str]:
    """contrib/chkpass (chkpass.c): ``expr::chkpass`` crypt(3)s the
    password with a random 2-char DES salt (':'-prefixed input stores
    verbatim); ``=``/``<>`` against text re-crypts the candidate with
    the stored salt (never string equality); raw() drops the colon.
    Literal input with a ':' prefix folds at plan time; plain literals
    stay runtime (the salt is random per evaluation, like PG's input
    function)."""
    if not any(is_ident(t) and t.lower() == "chkpass" for t in toks):
        return toks
    # expr::chkpass -> __gg_chk(<string expr>)
    changed = True
    while changed:
        changed = False
        for i in range(len(toks) - 1):
            if toks[i] != "::" or toks[i + 1].lower() != "chkpass":
                continue
            start = operand_start(toks, i - 1)
            operand = toks[start:i]
            if (
                len(operand) == 1
                and is_string(operand[0])
                and operand[0][1:-1].startswith(":")
            ):
                from greengage_spark.functions.chkpass import chkpass_in

                v = chkpass_in(operand[0][1:-1])
                repl = ["__gg_chk", "(", f"'{v}'", ")"]
            else:
                repl = (
                    ["__gg_chk", "(", "pg_chkpass_in", "("]
                    + operand + [")", ")"]
                )
            toks = toks[:start] + repl + toks[i + 2 :]
            changed = True
            break
    # __gg_chk(X) = Y  /  Y = __gg_chk(X)  ->  pg_chkpass_eq(X, Y)
    changed = True
    while changed:
        changed = False
        for i in range(len(toks)):
            if toks[i] not in ("=", "<>", "!="):
                continue
            neg = toks[i] != "="
            la, ra = operand_start(toks, i - 1), i + 1
            left = toks[la:i]
            rclose = (
                match_close(toks, ra + 1) if toks[ra] == "__gg_chk" else None
            )
            if left and left[0] == "__gg_chk":
                inner = left[2:-1]
                rend = ra
                # right operand span
                if toks[ra] == "(" or is_ident(toks[ra]) or is_string(toks[ra]):
                    rend = operand_end(toks, ra) + 1
                right = toks[ra:rend]
                expr = (
                    ["pg_chkpass_eq", "("] + inner + [","] + right + [")"]
                )
                if neg:
                    expr = ["NOT", "("] + expr + [")"]
                toks = toks[:la] + expr + toks[rend:]
                changed = True
                break
            if rclose is not None:
                inner = toks[ra + 2 : rclose]
                expr = (
                    ["pg_chkpass_eq", "("] + inner + [","] + left + [")"]
                )
                if neg:
                    expr = ["NOT", "("] + expr + [")"]
                toks = toks[:la] + expr + toks[rclose + 1 :]
                changed = True
                break
    # raw(__gg_chk(X)) / remaining markers
    def lower(name: str, args: list[list[str]]) -> list[str] | None:
        if name == "__gg_chk":
            return ["(", *args[0], ")"]
        if args and args[0][:1] == ["__gg_chk"]:
            return ["pg_chkpass_raw", "(", *args[0][2:-1], ")"]
        return None

    return rewrite_calls(toks, {"raw", "__gg_chk"}, lower)


_ISN_TYPES = (
    "ean13", "isbn13", "ismn13", "issn13", "isbn", "ismn", "issn", "upc",
)
_ISN_WEAK = {"on": False}  # module-level session flag (isn.c g_weak)


def _pass_isn(toks: list[str]) -> list[str]:
    """contrib/isn (isn.c): ``expr::isbn`` et al. become the bigint
    ean13<<1|invalid representation — PG's own — so comparisons across
    isn types are plain bigint compares.  String literals parse at PLAN
    time (errors surface like PG's); columns go through Arrow-batched
    UDFs.  A ``__gg_isn(value, 'type')`` marker carries the declared
    type; _pass_isn_resolve later display-wraps select-list outputs and
    strips the marker everywhere else.  isn_weak(bool) flips the weak
    input mode (a module flag, like the reference's C global)."""
    if not any(
        is_ident(t) and t.lower() in (
            "isn_weak", "is_valid", "make_valid", *_ISN_TYPES,
        )
        for t in toks
    ):
        return toks
    from greengage_spark.functions.isn import display as _idisplay
    from greengage_spark.functions.isn import parse as _iparse
    from greengage_spark.functions.isn import recast as _irecast

    # isn_weak(bool) — plan-time session flag
    i = 0
    while i + 3 < len(toks):
        if (
            is_ident(toks[i])
            and toks[i].lower() == "isn_weak"
            and toks[i + 1] == "("
            and toks[i + 3] == ")"
            and toks[i + 2].lower() in ("true", "false")
        ):
            _ISN_WEAK["on"] = toks[i + 2].lower() == "true"
            toks[i : i + 4] = [toks[i + 2].upper()]
        i += 1

    weak = _ISN_WEAK["on"]
    # innermost-first cast rewriting (repeat until no ::isntype remains)
    changed = True
    while changed:
        changed = False
        for i in range(len(toks) - 1):
            if toks[i] != "::" or toks[i + 1].lower() not in _ISN_TYPES:
                continue
            t = toks[i + 1].lower()
            start = operand_start(toks, i - 1)
            operand = toks[start:i]
            if len(operand) == 1 and is_string(operand[0]):
                v = _iparse(
                    operand[0][1:-1].replace("''", "'"), t, weak=weak
                )
                repl = ["__gg_isn", "(", f"{v}L", ",", f"'{t}'", ")"]
            elif (
                operand
                and operand[0] == "__gg_isn"
            ):
                inner = operand[2:-1]
                comma = len(inner) - 2  # [..., ',', "'type'"]
                val = inner[:comma]
                if len(val) == 1 and val[0].endswith("L"):
                    v = _irecast(int(val[0][:-1]), t)
                    repl = ["__gg_isn", "(", f"{v}L", ",", f"'{t}'", ")"]
                else:
                    repl = (
                        ["__gg_isn", "(", "pg_isn_recast", "("]
                        + val + [",", f"'{t}'", ")", ",", f"'{t}'", ")"]
                    )
            else:
                repl = (
                    ["__gg_isn", "(", "pg_isn_parse", "("]
                    + operand
                    + [",", f"'{t}'", ",", "TRUE" if weak else "FALSE",
                       ")", ",", f"'{t}'", ")"]
                )
            toks = toks[:start] + repl + toks[i + 2 :]
            changed = True
            break

    # is_valid / make_valid over marker values
    changed = True
    while changed:
        changed = False
        for i in range(len(toks) - 1):
            low = toks[i].lower() if is_ident(toks[i]) else ""
            if low not in ("is_valid", "make_valid") or toks[i + 1] != "(":
                continue
            close = match_close(toks, i + 1)
            inner = toks[i + 2 : close]
            if not inner or inner[0] != "__gg_isn":
                continue
            body = inner[2:-1]
            comma = len(body) - 2
            val, typ = body[:comma], body[comma + 1]
            if low == "is_valid":
                repl = ["(", "("] + val + [")", "%", "2", "=", "0", ")"]
            else:
                repl = (
                    ["__gg_isn", "(", "("] + val + [")", "-", "(", "("]
                    + val + [")", "%", "2", ")", ",", typ, ")"]
                )
            toks = toks[:i] + repl + toks[close + 1 :]
            changed = True
            break

    return _pass_isn_resolve(toks, _idisplay)


def _pass_isn_resolve(toks: list[str], idisplay) -> list[str]:
    """Display-wrap __gg_isn markers that ARE a select-list item (PG's
    type output function runs on projection); strip markers elsewhere
    (joins/filters/grouping compare the bigint)."""
    # collect select-list item spans whose whole expr is one marker call
    wrap: set[int] = set()
    for i, t in enumerate(toks):
        if not (is_ident(t) and t.lower() == "select"):
            continue
        a = i + 1
        if a < len(toks) and is_ident(toks[a]) and toks[a].lower() == "distinct":
            a += 1
        while True:
            j = next(
                (k for k, tk in top_level(toks, a)
                 if tk in CLOSE or tk in (",", ";") or is_ident(tk)
                 and tk.lower() in ("from", "union", "intersect", "except")),
                len(toks),
            )
            b = j
            # strip [AS] alias tail
            if b - a >= 2 and is_ident(toks[b - 1]):
                if b - a >= 3 and is_ident(toks[b - 2]) and toks[b - 2].lower() == "as":
                    b -= 2
                elif toks[b - 1].lower() not in ("from",) and toks[b - 2] == ")":
                    b -= 1
            if (
                b > a
                and toks[a] == "__gg_isn"
                and a + 1 < len(toks)
                and toks[a + 1] == "("
                and match_close(toks, a + 1) == b - 1
            ):
                wrap.add(a)
            if j == len(toks) or toks[j] != ",":
                break
            a = j + 1

    out: list[str] = []
    i = 0
    while i < len(toks):
        if toks[i] == "__gg_isn":
            close = match_close(toks, i + 1)
            body = toks[i + 2 : close]
            comma = len(body) - 2
            val, typ = body[:comma], body[comma + 1]
            if i in wrap:
                if len(val) == 1 and val[0].endswith("L"):
                    disp = idisplay(int(val[0][:-1]), typ.strip("'"))
                    out.append("'" + disp.replace("'", "''") + "'")
                else:
                    out += ["pg_isn_display", "(", *val, ",", typ, ")"]
            else:
                out += ["(", *val, ")"]
            i = close + 1
            continue
        out.append(toks[i])
        i += 1
    return out


def _pass_casts(toks: list[str]) -> list[str]:
    pos = 0
    while True:
        try:
            i = toks.index("::", pos)
        except ValueError:
            return toks
        tname = toks[i + 1].lower()
        if tname in ("lseg", "path", "polygon"):
            # statically-dispatched geo types: the ::cast IS the type
            # marker _pass_geometry (which runs later) dispatches on
            pos = i + 1
            continue
        start = operand_start(toks, i - 1)
        end = i + 1
        mapped = _TYPE_MAP.get(tname)
        # '1 year'::interval → canonical Spark interval literal (gram.y
        # Typecast on interval strings; Spark has no string→interval cast).
        # Canonicalized to a single unit — MONTH for year-month, DAY/SECOND
        # for day-time — because Spark requires both bounds of a RANGE frame
        # to share one interval subtype (PG mixes '1 year' and '1 month').
        if tname == "interval" and start == i - 1 and is_string(toks[i - 1]):
            toks = toks[:start] + _interval_literal(toks[i - 1]) + toks[i + 2 :]
            continue
        # non-literal ::interval (e.g. null::interval) — day-time subtype,
        # the fixed-width scope our interval surface supports
        if tname == "interval":
            mapped = "INTERVAL DAY TO SECOND"
        # double precision (two words)
        if tname == "double" and i + 2 < len(toks) and toks[i + 2].lower() == "precision":
            mapped, end = "DOUBLE", i + 2
        elif tname == "hstore":
            # 'k=>v'::hstore → the hstore() input parser (hstore_io.c);
            # lowered to a MapType expression by the function templates
            toks = (
                toks[:start]
                + ["hstore", "("] + toks[start:i] + [")"]
                + toks[i + 2 :]
            )
            continue
        elif mapped is None:
            raise ValueError(f"unsupported cast target type: {tname}")
        # bool.c boolin accepts on/off (and prefixes) that Spark's
        # boolean cast rejects — normalize literal spellings
        if (
            tname in ("bool", "boolean")
            and start == i - 1
            and is_string(toks[i - 1])
        ):
            lv = toks[i - 1].strip("'").strip().lower()
            # unique prefixes only: bare 'o' is ambiguous and errors in PG
            if lv in ("on", "of", "off"):
                toks[start : i + 2] = ["TRUE" if lv == "on" else "FALSE"]
                continue
        # PG float input range checks (float.c float8in/float4in):
        # literal operands overflow/underflow at PARSE time — Spark's
        # CAST would silently yield ±Inf/0 instead
        if (
            tname in ("float8", "float", "float4", "real")
            and start == i - 1
            and is_string(toks[i - 1])
        ):
            lit = toks[i - 1].strip("'").strip()
            try:
                fv = float(lit)
            except ValueError:
                fv = None  # 'NaN'/'Infinity' spellings Spark accepts
            if fv is not None and lit.lower() not in (
                "nan", "infinity", "-infinity", "+infinity", "inf",
                "-inf", "+inf",
            ):
                import math as _math

                limit = 3.4028234663852886e38 if tname in (
                    "float4", "real",
                ) else float("inf")
                if _math.isinf(fv) or abs(fv) > limit:
                    raise ValueError(
                        f'"{lit}" is out of range for type {tname}'
                    )
                if fv == 0.0 and re.search(r"[1-9]", lit.split("e")[0]):
                    raise ValueError(
                        f'"{lit}" is out of range for type {tname}'
                    )
        # PG numeric accepts NaN (numeric.c); DECIMAL cannot — fall back
        # to DOUBLE for the literal spelling
        if (
            tname in ("numeric", "decimal")
            and start == i - 1
            and is_string(toks[i - 1])
            and toks[i - 1].strip("'").strip().lower() == "nan"
        ):
            mapped = "DOUBLE"
        if end + 1 < len(toks) and toks[end + 1] == "(":
            j = match_close(toks, end + 1)
            if tname in _PARAMETERIZED:
                mapped = "DECIMAL" + "".join(toks[end + 1 : j + 1])
            end = j
        # array-typed cast: type[] — '{…}' literals become ARRAY(…) (array.c
        # array_in for the literal form; plain expressions cast to ARRAY<T>)
        if end + 2 < len(toks) and toks[end + 1] == "[" and toks[end + 2] == "]":
            if start == i - 1 and is_string(toks[i - 1]):
                # literal form: nesting depth comes from the literal
                # itself — PG's T[] is dimension-agnostic (array.c)
                arr_toks, depth = _pg_array_literal(toks[i - 1], mapped)
                typ = mapped
                for _ in range(depth):
                    typ = f"ARRAY<{typ}>"
                toks = (
                    toks[:start]
                    + ["CAST", "("] + arr_toks
                    + ["AS", typ, ")"]
                    + toks[end + 3 :]
                )
                continue
            # non-literal operand: PG's T[] is dimension-agnostic, so take
            # the depth from the expression shape (nested constructors)
            for _ in range(_md_array_depth(toks[start:i])):
                mapped = f"ARRAY<{mapped}>"
            end = end + 2
        toks = (
            toks[:start]
            + ["CAST", "("] + toks[start:i] + ["AS", mapped, ")"]
            + toks[end + 1 :]
        )


_NUMERIC_ITEM_RE = re.compile(r"^-?(\d+\.?\d*|\.\d+)([Ee][+-]?\d+)?$")


def _pg_array_literal_items(str_tok: str, elem_type: str) -> list[str]:
    """Back-compat flat wrapper over _pg_array_literal (1-D only)."""
    toks, depth = _pg_array_literal(str_tok, elem_type)
    if depth != 1:
        raise ValueError(f"expected a 1-D array literal: {str_tok!r}")
    return toks[2:-1]  # strip the outer ARRAY ( ... )


def _pg_array_literal(str_tok: str, elem_type: str) -> tuple[list[str], int]:
    """'{1,2,3}' / '{{1,2},{3,4}}' (PG array literal, array.c array_in,
    any dimensionality) → Spark ``ARRAY(...)`` constructor tokens plus
    the nesting depth.  Elements may be double-quoted (commas and braces
    inside quotes are data, as in array_in's scanner)."""
    body = str_tok[1:] if str_tok[:1].lower() == "e" else str_tok
    body = body[1:-1].replace("''", "'").strip()
    if not (body.startswith("{") and body.endswith("}")):
        raise ValueError(f"unsupported array literal: {body!r}")

    def emit_elem(p: str, out: list[str], quoted: bool = False) -> None:
        # array_in: only an UNQUOTED bare NULL is SQL NULL; a quoted
        # "NULL" element is the four-character string (array.c scanner)
        if not quoted and p.upper() == "NULL":
            out.append("NULL")
        elif quoted or elem_type == "STRING" or not _NUMERIC_ITEM_RE.match(p):
            out.append("'" + p.replace("'", "''") + "'")
        else:
            out.append(p)

    def parse(i: int) -> tuple[list[str], int, int]:
        """parse a '{...}' starting at i; returns (tokens, end+1, depth)."""
        assert body[i] == "{"
        out: list[str] = ["ARRAY", "("]
        depth = 1
        i += 1
        first = True
        buf: list[str] = []
        in_quotes = False
        quoted = False

        def flush() -> None:
            nonlocal buf, quoted
            p = "".join(buf).strip()
            if p or quoted:
                if not first_ref[0]:
                    out.append(",")
                first_ref[0] = False
                emit_elem(
                    "".join(buf).strip() if not quoted else "".join(buf),
                    out,
                    quoted,
                )
            buf = []
            quoted = False

        first_ref = [True]
        while i < len(body):
            ch = body[i]
            if in_quotes:
                if ch == "\\" and i + 1 < len(body):
                    buf.append(body[i + 1])
                    i += 2
                    continue
                if ch == '"':
                    in_quotes = False
                    i += 1
                    continue
                buf.append(ch)
                i += 1
                continue
            if ch == '"':
                in_quotes = True
                quoted = True
                i += 1
                continue
            if ch == "{":
                sub, i, sub_depth = parse(i)
                if not first_ref[0]:
                    out.append(",")
                first_ref[0] = False
                out += sub
                depth = max(depth, sub_depth + 1)
                continue
            if ch == ",":
                flush()
                i += 1
                continue
            if ch == "}":
                flush()
                out.append(")")
                return out, i + 1, depth
            buf.append(ch)
            i += 1
        raise ValueError(f"unterminated array literal: {body!r}")

    toks, end, depth = parse(0)
    if body[end:].strip():
        raise ValueError(f"trailing text in array literal: {body!r}")
    return toks, depth


_INTERVAL_UNITS = {
    "year": ("ym", 12), "years": ("ym", 12), "yr": ("ym", 12),
    "month": ("ym", 1), "months": ("ym", 1), "mon": ("ym", 1), "mons": ("ym", 1),
    "week": ("dt", 7 * 86400), "weeks": ("dt", 7 * 86400),
    "day": ("dt", 86400), "days": ("dt", 86400),
    "hour": ("dt", 3600), "hours": ("dt", 3600),
    "minute": ("dt", 60), "minutes": ("dt", 60), "min": ("dt", 60), "mins": ("dt", 60),
    "second": ("dt", 1), "seconds": ("dt", 1), "sec": ("dt", 1), "secs": ("dt", 1),
}


def _interval_literal(str_tok: str) -> list[str]:
    """PG interval string → canonical single-unit Spark interval tokens."""
    text = str_tok.strip("'").strip()
    parts = text.split()
    if len(parts) % 2 != 0:
        raise ValueError(f"unsupported interval literal: {text!r}")
    months = 0
    seconds = 0.0
    for qty, unit in zip(parts[::2], parts[1::2]):
        kind_mult = _INTERVAL_UNITS.get(unit.lower())
        if kind_mult is None:
            raise ValueError(f"unsupported interval unit: {unit!r}")
        kind, mult = kind_mult
        if kind == "ym":
            months += int(qty) * mult
        else:
            seconds += float(qty) * mult
    if months and seconds:
        raise ValueError(f"mixed year-month/day-time interval: {text!r}")
    if months:
        return ["INTERVAL", f"'{months}'", "MONTH"]
    if seconds == int(seconds) and int(seconds) % 86400 == 0:
        return ["INTERVAL", f"'{int(seconds) // 86400}'", "DAY"]
    return ["INTERVAL", f"'{seconds:g}'", "SECOND"]


_ORDERED_AGG_FNS = {"string_agg", "listagg", "array_agg", "collect_list"}


def _ordered_array_agg(args: list[str], keys: list[str]) -> list[str]:
    """array_agg(x ORDER BY k...) → comparator-lambda array_sort rewrite.

    Values are struct-wrapped so NULL *inputs* survive (PG array_agg keeps
    them; Spark's bare array_agg drops nulls), and the comparator encodes
    the full PG sort spec per key: ASC/DESC with NULLS FIRST/LAST
    (defaults ASC→NULLS LAST, DESC→NULLS FIRST, nodeSort.c)."""
    key_parts = split_top(keys)
    dirs: list[str] = []
    nulls: list[str] = []
    cleaned: list[list[str]] = []
    for kp in key_parts:
        kp = list(kp)
        null_pos = None
        if (
            len(kp) >= 2
            and is_ident(kp[-2])
            and kp[-2].lower() == "nulls"
            and kp[-1].lower() in ("first", "last")
        ):
            null_pos = kp[-1].lower()
            kp = kp[:-2]
        d = "asc"
        if kp and is_ident(kp[-1]) and kp[-1].lower() in ("asc", "desc"):
            d = kp[-1].lower()
            kp = kp[:-1]
        if null_pos is None:
            null_pos = "last" if d == "asc" else "first"
        dirs.append(d)
        nulls.append(null_pos)
        cleaned.append(kp)
    fields: list[str] = []
    for n, kp in enumerate(cleaned):
        fields += kp + ["AS", f"_o{n}", ","]
    fields += args + ["AS", "_x"]
    agg = ["array_agg", "(", "struct", "("] + fields + [")", ")"]
    # comparator: first non-zero per-key comparison wins
    per_key: list[list[str]] = []
    for n, (d, np) in enumerate(zip(dirs, nulls)):
        nf = "-1" if np == "first" else "1"
        lt = "-1" if d == "asc" else "1"
        neg = lambda v: v[1:] if v.startswith("-") else "-" + v
        lx = ["__l", ".", f"_o{n}"]
        rx = ["__r", ".", f"_o{n}"]
        per_key.append(
            ["CASE", "WHEN"] + lx + ["IS", "NULL", "AND"] + rx + ["IS", "NULL", "THEN", "0"]
            + ["WHEN"] + lx + ["IS", "NULL", "THEN", nf]
            + ["WHEN"] + rx + ["IS", "NULL", "THEN", neg(nf)]
            + ["WHEN"] + lx + ["<"] + rx + ["THEN", lt]
            + ["WHEN"] + lx + [">"] + rx + ["THEN", neg(lt)]
            + ["ELSE", "0", "END"]
        )
    if len(per_key) == 1:
        cmp_toks = per_key[0]
    else:
        cmp_toks = ["CASE"]
        for k in per_key[:-1]:
            cmp_toks += ["WHEN", "("] + k + [")", "!=", "0", "THEN", "("] + k + [")"]
        cmp_toks += ["ELSE", "("] + per_key[-1] + [")", "END"]
    inner = (
        ["array_sort", "("] + agg
        + [",", "(", "__l", ",", "__r", ")", "->"] + cmp_toks + [")"]
    )
    return ["transform", "("] + inner + [",", "s", "->", "s", ".", "_x", ")"]


def _pass_array_subquery(toks: list[str]) -> list[str]:
    """``ARRAY(SELECT ...)`` (gram.y ARRAY select_with_parens — the
    subquery array constructor): lower to a scalar subquery aggregating
    the rows.  A plain ``SELECT expr FROM ... ORDER BY keys`` shape
    inlines as ``(SELECT array_agg((expr) ORDER BY keys) FROM ...)`` so
    PG's ordered-array contract holds; other shapes (GROUP BY/DISTINCT/
    LIMIT/set ops) wrap as an unordered collect over the subquery —
    exactly PG's unspecified order without ORDER BY."""
    i = 0
    while i < len(toks):
        if not (
            is_ident(toks[i])
            and toks[i].lower() == "array"
            and i + 2 < len(toks)
            and toks[i + 1] == "("
            and is_ident(toks[i + 2])
            and toks[i + 2].lower() == "select"
        ):
            i += 1
            continue
        close = match_close(toks, i + 1)
        inner = toks[i + 2 : close]
        ob = frm = None
        banned = False
        for j, t in top_level(inner):
            if is_ident(t):
                tl = t.lower()
                if (
                    tl == "order"
                    and j + 1 < len(inner)
                    and inner[j + 1].lower() == "by"
                    and ob is None
                ):
                    ob = j
                elif tl == "from" and frm is None:
                    frm = j
                elif tl in (
                    "group", "distinct", "limit", "union",
                    "intersect", "except", "having", "offset",
                ):
                    banned = True
        if ob is not None and frm is not None and not banned and ob > frm:
            expr = inner[1:frm]
            rest = inner[frm:ob]
            keys = inner[ob + 2 :]
            new = (
                ["(", "SELECT", "array_agg", "(", "("] + expr
                + [")", "ORDER", "BY"] + keys + [")"] + rest + [")"]
            )
        else:
            new = (
                ["(", "SELECT", "collect_list", "(", "__gg_av", ")",
                 "FROM", "("] + inner
                + [")", "AS", "__gg_arrsub", "(", "__gg_av", ")", ")"]
            )
        toks[i : close + 1] = new
        i += 1
    return toks


def _pass_agg_order_by(toks: list[str]) -> list[str]:
    """PG inline ordered-aggregate syntax ``agg(args ORDER BY keys)``
    (gram.y func_arg_list opt_sort_clause; reference tests
    gp_aggregates.sql:1-8, gpcontrib/gp_array_agg):
      string_agg(x, sep ORDER BY k) → listagg(x, sep) WITHIN GROUP (ORDER BY k)
      array_agg(x ORDER BY k [DESC]) → array_sort/struct-sort rewrite.

    Pre-step: contrib aliases — intagg's int_array_aggregate IS
    array_agg (intagg--1.1.sql), and gp_legacy_string_agg's 1-arg
    string_agg(x) concatenates with no delimiter."""
    i = 0
    while i < len(toks):
        if is_ident(toks[i]):
            low = toks[i].lower()
            if low == "int_array_aggregate":
                toks[i] = "array_agg"
            elif (
                low in ("json_agg", "jsonb_agg")
                and i + 1 < len(toks)
                and toks[i + 1] == "("
            ):
                # json_agg(x ORDER BY k) rides the ordered array_agg
                # rewrite below, wrapped in to_json
                close = match_close(toks, i + 1)
                inner = toks[i + 2 : close]
                has_ob = any(
                    is_ident(t)
                    and t.lower() == "order"
                    and j + 1 < len(inner)
                    and inner[j + 1].lower() == "by"
                    for j, t in enumerate(inner)
                )
                if has_ob:
                    toks[i : close + 1] = (
                        ["to_json", "(", "array_agg", "("]
                        + inner
                        + [")", ")"]
                    )
            elif (
                low == "string_agg"
                and i + 1 < len(toks)
                and toks[i + 1] == "("
            ):
                close = match_close(toks, i + 1)
                args = split_top(toks[i + 2 : close])
                if len(args) == 1:
                    # append the empty delimiter BEFORE any ORDER BY
                    a = args[0]
                    ob = next(
                        (
                            k
                            for k in range(len(a))
                            if is_ident(a[k])
                            and a[k].lower() == "order"
                            and k + 1 < len(a)
                            and a[k + 1].lower() == "by"
                        ),
                        None,
                    )
                    if ob is None:
                        toks[close:close] = [",", "''"]
                    else:
                        at = i + 2 + ob
                        toks[at:at] = [",", "''"]
        i += 1
    i = 0
    while i < len(toks):
        if not (
            is_ident(toks[i])
            and toks[i].lower() in _ORDERED_AGG_FNS
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            i += 1
            continue
        close = match_close(toks, i + 1)
        ob = next(
            (j for j, t in top_level(toks, i + 2)
             if t.lower() == "order" and toks[j + 1].lower() == "by"),
            None,
        )

        if ob is None:
            i += 1
            continue
        args, keys = toks[i + 2 : ob], toks[ob + 2 : close]
        if toks[i].lower() in ("string_agg", "listagg"):
            repl = (
                ["listagg", "("] + args
                + [")", "WITHIN", "GROUP", "(", "ORDER", "BY"] + keys + [")"]
            )
        else:
            dargs = args
            distinct = (
                bool(dargs)
                and is_ident(dargs[0])
                and dargs[0].lower() == "distinct"
            )
            if distinct:
                dargs = dargs[1:]
            repl = _ordered_array_agg(dargs, keys)
            if distinct:
                # array_agg(DISTINCT x ORDER BY ...): dedup after the
                # ordered extraction — sorted first-occurrence ≡ PG's
                # sorted distinct set
                repl = ["array_distinct", "("] + repl + [")"]
        toks = toks[:i] + repl + toks[close + 1 :]
        i += 1
    return toks


_QUANT_OPS = {"=", "<>", "!=", "<", "<=", ">", ">="}
# which aggregate carries `x op QUANTIFIER(sub)` on the non-null subset
_ORD_ANY_AGG = {"<": "MAX", "<=": "MAX", ">": "MIN", ">=": "MIN"}
_ORD_ALL_AGG = {"<": "MIN", "<=": "MIN", ">": "MAX", ">=": "MAX"}

# tokens that terminate a leftward scan for a comparison's left operand —
# comparison binds tighter than these boolean/clause constructs
_LEFT_STOP = NON_FUNC_KEYWORDS | {"intersect", "symmetric", "cross", "lateral"}


def _left_operand_span(toks: list[str], i: int) -> int:
    """Start index of the left operand of the comparison at toks[i]."""
    j = i - 1
    while j >= 0:
        t = toks[j]
        if t in (")", "]"):
            j = max(match_open(toks, j), 0) - 1
            continue
        if t in ("(", "[", ",") or (is_ident(t) and t.lower() in _LEFT_STOP):
            break
        j -= 1
    return j + 1


def _has_top_comma(toks: list[str]) -> bool:
    return any(t == "," for _, t in top_level(toks))


def _sub_top_from(sub: list[str]) -> int:
    """Index of the top-level FROM in a SELECT token list, or -1."""
    return next(
        (k for k, t in top_level(sub) if is_ident(t) and t.lower() == "from"), -1
    )


def _cnt_all(sub: list[str]) -> list[str]:
    return ["(", "SELECT", "COUNT", "(", "*", ")", "FROM", "("] + sub + [")", "AS", "__q", ")"]


def _cnt_nonnull(sub: list[str]) -> list[str]:
    return (
        ["(", "SELECT", "COUNT", "(", "__v", ")", "FROM", "("]
        + sub + [")", "AS", "__q", "(", "__v", ")", ")"]
    )


def _agg_v(sub: list[str], agg: str) -> list[str]:
    return (
        ["(", "SELECT", agg, "(", "__v", ")", "FROM", "("]
        + sub + [")", "AS", "__q", "(", "__v", ")", ")"]
    )


_NULL_BOOL = ["CAST", "(", "NULL", "AS", "BOOLEAN", ")"]


def _all_case(xp: list[str], op: str, sub: list[str]) -> list[str]:
    """Three-valued `x op ALL (sub)` as a CASE over scalar aggregates:
    TRUE on empty set; FALSE if any non-null element fails the comparison;
    NULL if nothing fails but the set has NULLs (or x is NULL).  PG
    semantics per ExecSubPlan ALL_SUBLINK (nodeSubplan.c).  Catalyst's
    MergeScalarSubqueries consolidates the repeated aggregate scans."""
    if op == "=":
        cmp_toks = (
            xp + ["="] + _agg_v(sub, "MIN") + ["AND"] + xp + ["="] + _agg_v(sub, "MAX")
        )
    else:
        cmp_toks = xp + [op] + _agg_v(sub, _ORD_ALL_AGG[op])
    nulls_to = (
        ["(", "CASE", "WHEN"] + _cnt_all(sub) + [">"] + _cnt_nonnull(sub)
        + ["THEN"] + _NULL_BOOL + ["ELSE", "TRUE", "END", ")"]
    )
    return (
        ["(", "CASE", "WHEN"] + _cnt_all(sub) + ["=", "0", "THEN", "TRUE"]
        + ["WHEN", "("] + cmp_toks + [")", "THEN"] + nulls_to
        + ["ELSE", "("] + cmp_toks + [")", "END", ")"]
    )


def _any_ord_case(xp: list[str], op: str, sub: list[str]) -> list[str]:
    """Three-valued `x op ANY (sub)` for ordering ops: FALSE on empty set;
    TRUE if the best non-null element satisfies it; NULL if not but the set
    has NULLs (or x is NULL)."""
    cmp_toks = xp + [op] + _agg_v(sub, _ORD_ANY_AGG[op])
    return (
        ["(", "CASE", "WHEN"] + _cnt_all(sub) + ["=", "0", "THEN", "FALSE"]
        + ["WHEN", "("] + cmp_toks + [")", "THEN", "TRUE"]
        + ["WHEN"] + _cnt_all(sub) + [">"] + _cnt_nonnull(sub)
        + ["THEN"] + _NULL_BOOL
        + ["ELSE", "("] + cmp_toks + [")", "END", ")"]
    )


def _pass_quantified(toks: list[str]) -> list[str]:
    """PG quantified comparisons (gram.y SubLink; ExecSubPlan ANY/ALL in
    nodeSubplan.c), which Spark SQL lacks:

      x = ANY/SOME (sub)   → x IN (sub)
      x <> ALL (sub)       → x NOT IN (sub)
      x <cmp> ANY/SOME(sub)→ CASE over (count/count-nonnull/MIN|MAX) scalar
      x <cmp> ALL (sub)      aggregates of the subquery — exact three-valued
      x  =  ALL (sub)        semantics incl. empty-set and NULL handling
      x <> ANY (sub)       → NOT (x = ALL (sub))
      x op ANY (array)     → exists(array, e -> x op e)   (scalararrayop)
      x op ALL (array)     → forall(array, e -> x op e)

    Row-value forms ((a,b) op ALL (SELECT x,y …)) compare as single struct
    columns; NULL struct *fields* then compare PG-row-wise only when both
    sides are non-null (documented divergence).  The repeated aggregate
    subqueries the CASE forms emit are merged by Catalyst
    (MergeScalarSubqueries) into one scan for the uncorrelated case.
    """
    i = 0
    while i + 2 < len(toks):
        quant = toks[i + 1].lower() if is_ident(toks[i + 1]) else None
        if (
            quant in ("any", "some", "all")
            and toks[i + 2] == "("
            and (
                toks[i] in _QUANT_OPS
                or (is_ident(toks[i]) and toks[i].lower() in ("like", "ilike"))
            )
        ):
            op = toks[i]
            close = match_close(toks, i + 2)
            sub = toks[i + 3 : close]
            kind = "any" if quant in ("any", "some") else "all"
            if sub and is_ident(sub[0]) and sub[0].lower() == "values":
                # ANY/ALL (VALUES ...) is the subquery form too
                # (gram.y select_with_parens includes values_clause)
                sub = (
                    ["SELECT", "*", "FROM", "("] + sub
                    + [")", "AS", "__gg_vq"]
                )
            if not sub or sub[0].lower() not in ("select", "with"):
                # scalar-array-op form: x op ANY/ALL(array-expression)
                # (parse_oper.c make_scalar_array_op).  exists()/forall()
                # higher-order functions carry PG's three-valued ANY/ALL
                # semantics for every comparison operator: exists → true
                # if any true else null if any null; forall → false if
                # any false else null if any null; empty → false/true.
                start = _left_operand_span(toks, i)
                x = toks[start:i]
                arr = sub
                if (
                    len(sub) == 1
                    and is_string(sub[0])
                    and sub[0][1:-1].lstrip().startswith("{")
                ):
                    # bare '{…}' literal without a ::type[] cast — infer
                    # element type from the contents (array.c array_in)
                    inner = sub[0][1:-1].strip()[1:-1]
                    items = [s.strip() for s in inner.split(",")] if inner else []
                    numeric = bool(items) and all(
                        _NUMERIC_ITEM_RE.match(s.strip('"')) for s in items
                    )
                    elems: list[str] = []
                    for k, it in enumerate(items):
                        if k:
                            elems.append(",")
                        elems.append(
                            it if numeric else "'" + it.strip('"') + "'"
                        )
                    if items:
                        arr = ["array", "("] + elems + [")"]
                    else:
                        arr = ["CAST", "(", "array", "(", ")", "AS", "ARRAY<INT>", ")"]
                fn = "exists" if kind == "any" else "forall"
                repl = (
                    [fn, "(", "("] + arr + [")", ",", "__sae", "->", "("]
                    + x + [")", op, "__sae", ")"]
                )
                toks = toks[:start] + repl + toks[close + 1 :]
                i = start + len(repl)
                continue
            if op == "=" and kind == "any":
                toks = toks[:i] + ["IN", "("] + sub + [")"] + toks[close + 1 :]
                i += 1
                continue
            if op in ("<>", "!=") and kind == "all":
                toks = toks[:i] + ["NOT", "IN", "("] + sub + [")"] + toks[close + 1 :]
                i += 1
                continue
            start = _left_operand_span(toks, i)
            x = toks[start:i]
            # row-value left + multi-column subquery → struct on both sides
            if (
                x
                and x[0] == "("
                and x[-1] == ")"
                and match_close(x, 0) == len(x) - 1
                and _has_top_comma(x[1:-1])
            ):
                fidx = _sub_top_from(sub)
                if fidx > 0 and _has_top_comma(sub[1:fidx]):
                    sub = ["SELECT", "struct", "("] + sub[1:fidx] + [")"] + sub[fidx:]
                    x = ["struct", "("] + x[1:-1] + [")"]
            xp = ["("] + x + [")"]
            if kind == "all":
                repl = _all_case(xp, op, sub)
            elif op in ("<>", "!="):
                repl = ["(", "NOT"] + _all_case(xp, "=", sub) + [")"]
            else:
                repl = _any_ord_case(xp, op, sub)
            toks = toks[:start] + repl + toks[close + 1 :]
            i = start
        i += 1
    return toks


_RANK_FAMILY = {"rank", "dense_rank", "percent_rank", "cume_dist", "row_number", "ntile"}


def _pass_rank_needs_order(toks: list[str]) -> list[str]:
    """PG allows rank-family window functions over an unordered window (all
    rows are peers: rank()=1, windowfuncs.c window_rank); Spark requires an
    ORDER BY.  Insert a constant `ORDER BY 1` — constant ordering makes every
    row a peer, which is exactly the PG semantics."""
    i = 0
    while i + 3 < len(toks):
        if (
            is_ident(toks[i])
            and toks[i].lower() in _RANK_FAMILY
            and toks[i + 1] == "("
        ):
            argc = match_close(toks, i + 1)
            if (
                argc + 2 < len(toks)
                and is_ident(toks[argc + 1])
                and toks[argc + 1].lower() == "over"
                and toks[argc + 2] == "("
            ):
                spec_close = match_close(toks, argc + 2)
                spec = toks[argc + 3 : spec_close]
                has_order = any(
                    is_ident(t) and t.lower() == "order" for _, t in top_level(spec)
                )
                # a lone identifier is a named-window reference, which may
                # carry its own ORDER BY — leave those untouched
                is_window_ref = len(spec) == 1 and is_ident(spec[0])
                if not has_order and not is_window_ref:
                    toks = (
                        toks[:spec_close] + ["ORDER", "BY", "1"] + toks[spec_close:]
                    )
        i += 1
    return toks


def _pass_rowvalue_scalar(toks: list[str]) -> list[str]:
    """(a, b) = (SELECT x, y …) → struct(a, b) = (SELECT struct(x, y) …)
    (gram.y row_expr vs select_with_parens; Spark scalar subqueries must be
    single-column, so both sides collapse into one struct column)."""
    i = 0
    while i < len(toks):
        if (
            toks[i] in ("=", "<>", "!=")
            and i > 0
            and toks[i - 1] == ")"
            and i + 2 < len(toks)
            and toks[i + 1] == "("
            and is_ident(toks[i + 2])
            and toks[i + 2].lower() in ("select", "with")
        ):
            # left row value: scan back to the matching open paren
            lopen = match_open(toks, i - 1)
            inner = toks[lopen + 1 : i - 1] if lopen >= 0 else []
            if lopen < 0 or not _has_top_comma(inner):
                i += 1
                continue
            # skip function calls: ident directly before the open paren
            if lopen > 0 and (
                toks[lopen - 1] in (")", "]")
                or (
                    is_ident(toks[lopen - 1])
                    and toks[lopen - 1].lower() not in NON_FUNC_KEYWORDS
                )
            ):
                i += 1
                continue
            rclose = match_close(toks, i + 1)
            sub = toks[i + 2 : rclose]
            fidx = _sub_top_from(sub)
            if fidx < 0 or not _has_top_comma(sub[1:fidx]):
                i += 1
                continue
            new_sub = ["SELECT", "struct", "("] + sub[1:fidx] + [")"] + sub[fidx:]
            repl = (
                ["struct", "("] + inner + [")", toks[i], "("] + new_sub + [")"]
            )
            toks = toks[:lopen] + repl + toks[rclose + 1 :]
            i = lopen + 1
            continue
        i += 1
    return toks


def _pass_avg_bigint_exact(toks: list[str]) -> list[str]:
    """PG avg(int8) returns NUMERIC with exact accumulation (numeric_avg);
    Spark's avg over BIGINT accumulates in double and loses precision on
    huge values.  Where the operand's type is syntactically known —
    avg(CAST(x AS BIGINT)) from an ::int8 cast — accumulate in decimal."""
    def exact(name: str, args: list[list[str]]) -> list[str] | None:
        a = args[0] if len(args) == 1 else []
        if (
            len(a) > 3
            and a[0].upper() == "CAST"
            and a[1] == "("
            and match_close(a, 1) == len(a) - 1
            and [t.upper() for t in a[-3:-1]] == ["AS", "BIGINT"]
        ):
            return [name, "(", *a[:-2], "DECIMAL(38,0)", ")", ")"]
        return None

    return rewrite_calls(toks, {"avg"}, exact)


def _pass_count_noargs(toks: list[str]) -> list[str]:
    """Zero-argument COUNT() (Greenplum grammar extension ≡ COUNT(*)) —
    Spark requires the star."""
    return rewrite_calls(
        toks, {"count"}, lambda name, args: None if args else [name, "(", "*", ")"]
    )


def _pass_agg_filter(toks: list[str]) -> list[str]:
    """Aggregate FILTER clause (PG 9.4 gram.y filter_clause; parse_agg.c
    aggfilter) — ``agg(args) FILTER (WHERE p)`` → ``agg(CASE WHEN p THEN
    arg END)`` per argument.  The CASE rewrite is PG's own documented
    equivalence for strict/null-skipping aggregates and — unlike Spark's
    native FILTER syntax — also works under a window ``OVER`` clause,
    which Spark does not support (nodeWindowAgg.c evaluates aggfilter
    per-row; we pre-null the inputs instead).  ``count(*) FILTER`` counts
    a CASE-guarded literal 1."""
    i = 0
    while i + 1 < len(toks):
        if not (
            is_ident(toks[i])
            and toks[i].lower() == "filter"
            and toks[i + 1] == "("
            and i >= 1
            and toks[i - 1] == ")"
        ):
            i += 1
            continue
        fclose = match_close(toks, i + 1)
        inner = toks[i + 2 : fclose]
        if not inner or inner[0].lower() != "where":
            i += 1
            continue
        pred = inner[1:]
        # backward-match the aggregate's argument parens
        aopen = match_open(toks, i - 1)
        if aopen <= 0 or not is_ident(toks[aopen - 1]):
            i += 1
            continue
        args = toks[aopen + 1 : i - 1]
        distinct = bool(args) and args[0].lower() == "distinct"
        if distinct:
            args = args[1:]
        # a trailing in-aggregate ORDER BY (``string_agg(x, ',' ORDER BY y)
        # FILTER (WHERE p)``) must stay OUTSIDE the per-argument CASE wrap —
        # _pass_agg_order_by consumes it later.  Split it off here.
        ob_tail: list[str] = []
        for j2, t2 in top_level(args):
            if (
                t2.lower() == "order"
                and j2 + 1 < len(args)
                and args[j2 + 1].lower() == "by"
            ):
                ob_tail = args[j2:]
                args = args[:j2]
                break
        if args == ["*"]:
            arg_lists = [["1"]]
        else:
            arg_lists = split_top(args)
        def _is_const_arg(a: list[str]) -> bool:
            # single string/numeric literal — CASE-wrapping it breaks
            # foldability requirements (e.g. listagg's delimiter) and adds
            # nothing: nulling any non-constant argument of a strict
            # aggregate already drops the row.
            if len(a) != 1:
                return False
            t = a[0]
            return t.startswith("'") or t.replace(".", "", 1).isdigit()

        wrap = [not _is_const_arg(a) for a in arg_lists]
        if not any(wrap):  # e.g. count(1) FILTER (...) — wrap something
            wrap[0] = True
        new_args: list[str] = []
        for k, a in enumerate(arg_lists):
            if k:
                new_args.append(",")
            if wrap[k]:
                new_args += ["case", "when"] + list(pred) + ["then"] + a + ["end"]
            else:
                new_args += a
        if distinct:
            new_args = ["distinct"] + new_args
        new_args += ob_tail
        toks = toks[: aopen + 1] + new_args + [")"] + toks[fclose + 1 :]
        # rescan from the aggregate head (predicate may itself hold FILTER)
        i = aopen
    return toks


def _pg_parse_bool(lit: str) -> str:
    """PG bool input parsing (bool.c parse_bool_with_len): trimmed,
    case-insensitive, unique-prefix match of true/false/yes/no/on/off
    plus exact '1'/'0'.  Raises on ambiguous or unknown input, exactly
    where the reference errors."""
    s = lit.strip().lower()
    if s in ("1", "0"):
        return "TRUE" if s == "1" else "FALSE"
    if s:
        matches = [w for w in ("true", "yes", "on", "false", "no", "off") if w.startswith(s)]
        if len({"TRUE" if m in ("true", "yes", "on") else "FALSE" for m in matches}) == 1:
            return "TRUE" if matches[0] in ("true", "yes", "on") else "FALSE"
    raise ValueError(f"invalid input syntax for type boolean: {lit!r}")


_TS_SPECIAL_SQL = {
    "epoch": ["TIMESTAMP", "'1970-01-01 00:00:00'"],
    "infinity": ["TIMESTAMP", "'9999-12-31 23:59:59.999999'"],
    "-infinity": ["TIMESTAMP", "'0001-01-01 00:00:00'"],
    "now": ["now", "(", ")"],
    "today": ["CAST", "(", "current_date", "AS", "TIMESTAMP", ")"],
    "tomorrow": ["CAST", "(", "date_add", "(", "current_date", ",", "1", ")",
                 "AS", "TIMESTAMP", ")"],
    "yesterday": ["CAST", "(", "date_add", "(", "current_date", ",", "-1", ")",
                  "AS", "TIMESTAMP", ")"],
}


def _fold_date_tokens(lit_tok: str, is_ts: bool) -> list[str] | None:
    """Fold one PG date/timestamp input literal into Spark SQL tokens, or
    None when it is already ISO (datetime_input.parse_pg_date — the
    reference's datetime.c decision procedure).  Raises PGDateError on
    input the reference itself rejects."""
    from greengage_spark.dialect.datetime_input import SPECIALS, parse_pg_date

    lit = lit_tok[1:-1].strip()
    if is_ts:
        low = lit.lower()
        if low in SPECIALS:
            return list(_TS_SPECIAL_SQL[low])
        if re.fullmatch(r"\d{4}-\d{2}-\d{2}([ tT].*)?", lit):
            return None  # ISO — Spark parses natively
        # meridian marker (datetime.c DecodeTime AM/PM): strip before the
        # field walk, apply to the hour afterwards
        mer = re.search(r"(?i)\b([ap])\.?m\.?(?=\s|$)", lit)
        if mer:
            lit = (lit[: mer.start()] + lit[mer.end():]).strip()
        d = parse_pg_date(lit)
        m = re.search(r"\d+:\d[\d:.]*", lit)
        time_part = m.group(0) if m else "00:00:00"
        if mer and m:
            bits = time_part.split(":")
            hour = int(bits[0])
            if not 1 <= hour <= 12:
                raise ValueError(
                    f"invalid input syntax for type timestamp: {lit!r}"
                )
            if mer.group(1).lower() == "p" and hour < 12:
                hour += 12
            elif mer.group(1).lower() == "a" and hour == 12:
                hour = 0
            time_part = ":".join([f"{hour:02d}"] + bits[1:])
        return ["TIMESTAMP", f"'{d.isoformat()} {time_part}'"]
    from greengage_spark.dialect.datetime_input import fold_pg_date

    folded = fold_pg_date(lit)
    return tokenize(folded) if folded is not None else None


def _pg_era_field(field: str, expr: list[str]) -> list[str]:
    """EXTRACT(CENTURY/MILLENNIUM/DECADE) for AD dates (timestamp.c
    timestamp_part): century 1901→20, millennium 1001→2, decade =
    year/10.  BC inputs are unrepresentable in Spark, so the negative
    branches are omitted."""
    y = ["year", "("] + expr + [")"]
    if field == "decade":
        return ["CAST", "(", "floor", "(", "("] + y + [")", "/", "10", ")", "AS", "BIGINT", ")"]
    div = "100" if field == "century" else "1000"
    return (
        ["CAST", "(", "floor", "(", "(", "("] + y
        + [")", "-", "1", ")", "/", div, ")", "+", "1", "AS", "BIGINT", ")"]
    )


def _pass_date_minus(toks: list[str]) -> list[str]:
    """PG ``date - date`` returns INTEGER days (date.c date_mi); Spark
    returns an interval.  Lower to ``datediff(a, b)`` whenever either
    operand is a date typed literal (the only token-level type signal);
    date ± integer is Spark-native and left alone."""

    def _is_date_lit_end(j: int) -> bool:
        if (
            j >= 1
            and is_string(toks[j])
            and is_ident(toks[j - 1])
            and toks[j - 1].lower() == "date"
        ):
            return True
        # CAST ( ... AS DATE ) — what an ::date cast lowered to
        return (
            j >= 4
            and toks[j] == ")"
            and is_ident(toks[j - 1])
            and toks[j - 1].lower() == "date"
            and is_ident(toks[j - 2])
            and toks[j - 2].lower() == "as"
        )

    i = 0
    while i < len(toks):
        if toks[i] != "-":
            i += 1
            continue
        def _right_is_cast_date(j: int) -> bool:
            if not (
                j + 1 < len(toks)
                and is_ident(toks[j])
                and toks[j].lower() == "cast"
                and toks[j + 1] == "("
            ):
                return False
            c = match_close(toks, j + 1)
            return (
                c >= 2
                and is_ident(toks[c - 1])
                and toks[c - 1].lower() == "date"
                and is_ident(toks[c - 2])
                and toks[c - 2].lower() == "as"
            )

        right_is_date = (
            i + 2 < len(toks)
            and is_ident(toks[i + 1])
            and toks[i + 1].lower() == "date"
            and is_string(toks[i + 2])
        ) or _right_is_cast_date(i + 1)
        left_is_date = _is_date_lit_end(i - 1)
        if not (right_is_date or left_is_date):
            i += 1
            continue
        # date ± interval/time/timestamp is timestamp arithmetic
        # (date_pl_interval), NOT date_mi — leave it to Spark
        if (
            i + 1 < len(toks)
            and is_ident(toks[i + 1])
            and toks[i + 1].lower() in (
                "interval", "time", "timestamp", "timestamptz",
            )
        ):
            i += 1
            continue
        # binary minus only: something operand-like must precede
        if i == 0 or not _is_operand_end(toks[i - 1]):
            i += 1
            continue
        if left_is_date and is_string(toks[i - 1]):
            lstart = i - 2  # DATE 'lit'
        else:
            lstart = operand_start(toks, i - 1)
            # absorb the CAST head the paren-scan stopped at
            if (
                left_is_date
                and lstart > 0
                and is_ident(toks[lstart - 1])
                and toks[lstart - 1].lower() == "cast"
            ):
                lstart -= 1
        # the right operand: an identifier, call, typed literal or group
        if i + 1 >= len(toks) or not (is_ident(toks[i + 1]) or toks[i + 1] == "("):
            i += 1
            continue
        rend = operand_end(toks, i + 1)
        left = toks[lstart:i]
        right = toks[i + 1 : rend + 1]
        # don't fire on interval/timestamp arithmetic: a non-literal side
        # is accepted only when the other side IS a date literal
        toks = (
            toks[:lstart]
            + ["datediff", "("] + left + [","] + right + [")"]
            + toks[rend + 1 :]
        )
        i = lstart + 1
    return toks


def _pass_date_input_literals(toks: list[str]) -> list[str]:
    """PG date/timestamp INPUT formats (datetime.c ParseDateTime /
    DecodeDate): fold non-ISO literals — ``date '1/8/1999'``,
    ``date 'Jan-08-1999'``, ``'epoch'``, ``'19990108'`` … — to ISO at
    transpile time, in both the typed-literal and CAST forms."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        # typed literal: date '...' / timestamp '...'
        if (
            is_ident(t)
            and t.lower() in ("date", "timestamp", "timestamptz")
            and i + 1 < len(toks)
            and is_string(toks[i + 1])
            and (not out or out[-1] not in (".",))
            and not (out and is_ident(out[-1]) and out[-1].lower() == "as")
        ):
            folded = _fold_date_tokens(toks[i + 1], t.lower() != "date")
            if folded is not None:
                out += folded
                i += 2
                continue
        # CAST ( '...' AS DATE/TIMESTAMP )
        if (
            is_ident(t)
            and t.lower() == "cast"
            and i + 6 < len(toks)
            and toks[i + 1] == "("
            and is_string(toks[i + 2])
            and is_ident(toks[i + 3])
            and toks[i + 3].lower() == "as"
            and toks[i + 4].lower() in ("date", "timestamp", "timestamp_ntz")
            and toks[i + 5] == ")"
        ):
            folded = _fold_date_tokens(toks[i + 2], toks[i + 4].lower() != "date")
            if folded is not None:
                if toks[i + 4].lower() == "date":
                    out += folded
                else:
                    out += ["CAST", "("] + folded + ["AS", toks[i + 4], ")"]
                i += 6
                continue
        out.append(t)
        i += 1
    return out


_GEO_TYPES = {"point", "box", "circle"}
# lseg/path/polygon dispatch STATICALLY (their literals collide with
# box/point numeric arities); line remains out of scope
_GEO_TYPES2 = {"lseg", "path", "polygon"}
_GEO_UNSUPPORTED = {"line"}
# `geo(x)` is the identity MARKER the engine wraps around columns it
# KNOWS are geo-typed from the DDL catalog (a textual pass cannot see
# column types; the engine can) — recognized here, stripped on emit.
# geo_lseg/geo_path/geo_polygon carry the static type for the
# arity-ambiguous family.
_GEO_FUNCS = {"center", "radius", "diameter", "area", "width", "height", "geo"}
_GEO_MARKERS2 = {"geo_lseg": "lseg", "geo_path": "path", "geo_polygon": "polygon"}
# typed-only function names; `length`/`area`/`center`/`npoints` rewrite
# ONLY when the argument is statically lseg/path/polygon (length must
# stay Spark's string length otherwise)
_GEO_FUNCS2 = {"isopen", "isclosed", "pclose", "popen", "npoints", "length"}
_GEO_CTORS = {"point": 2, "circle": 2, "box": 2}

# (function, static type) → geometry.py kernel name
_GEO_TYPED_FN = {
    ("length", "lseg"): "lseg_length",
    ("length", "path"): "path_length",
    ("isopen", "path"): "path_isopen",
    ("isclosed", "path"): "path_isclosed",
    ("pclose", "path"): "path_close",
    ("popen", "path"): "path_open",
    ("npoints", "path"): "path_npoints",
    ("npoints", "polygon"): "poly_npoints",
    ("area", "polygon"): "poly_area",
    ("center", "polygon"): "poly_center",
    ("center", "lseg"): "lseg_center",
}
# operator spellings after the lexer: <-> splits to <,-> etc.; <<,>> are
# single tokens already
_GEO_OP2 = {
    ("<", "->"): "distance",
    ("@", ">"): "contains",
    ("<", "@"): "within",
    ("&", "&"): "overlaps",
    ("~", "="): "same_as",
    ("<", "^"): "below",
    (">", "^"): "above",
    ("?", "#"): "intersects",  # lseg ?# lseg (lseg_intersect)
    ("&", "<"): "overleft",  # poly &< poly (poly_overleft)
    ("&", ">"): "overright",
}
_GEO_OP1 = {"<<": "strictly_left", ">>": "strictly_right"}
# single-token ops that dispatch ONLY on statically-typed operands
# (otherwise they are ordinary comparisons / json-path ops)
_GEO_OP1_TYPED = {"#": "interpt", "<": "lt", "<=": "le", ">": "gt",
                  ">=": "ge", "=": "eq"}

# (operator name, left type, right type) → geometry.py kernel; 'rect' is
# the point/box/circle family, '*' matches anything (incl. None).
_GEO_TYPED_OP = {
    ("distance", "lseg", "lseg"): ("lseg_distance", False),
    ("distance", "lseg", "*"): ("lseg_point_distance", False),
    ("distance", "*", "lseg"): ("lseg_point_distance", True),
    ("intersects", "lseg", "lseg"): ("lseg_intersects", False),
    ("interpt", "lseg", "lseg"): ("lseg_interpt", False),
    ("contains", "lseg", "*"): ("lseg_contains_point", False),
    ("within", "*", "lseg"): ("lseg_contains_point", True),
    # untyped '*' operands coerce to polygon for the unambiguous
    # operators, exactly PG's unknown-literal resolution in the
    # polygon.sql battery (f1 && '(3,1),(3,3),(1,0)')
    ("overlaps", "polygon", "polygon"): ("poly_overlap", False),
    ("overlaps", "polygon", "*"): ("poly_overlap", False),
    ("overlaps", "*", "polygon"): ("poly_overlap", False),
    ("contains", "polygon", "polygon"): ("poly_contains", False),
    ("contains", "polygon", "*"): ("poly_contains_point", False),
    ("within", "polygon", "polygon"): ("poly_contains", True),
    ("within", "*", "polygon"): ("poly_contains_point", True),
    ("strictly_left", "polygon", "polygon"): ("poly_left", False),
    ("strictly_left", "polygon", "*"): ("poly_left", False),
    ("strictly_left", "*", "polygon"): ("poly_left", False),
    ("strictly_right", "polygon", "polygon"): ("poly_right", False),
    ("strictly_right", "polygon", "*"): ("poly_right", False),
    ("strictly_right", "*", "polygon"): ("poly_right", False),
    ("overleft", "polygon", "polygon"): ("poly_overleft", False),
    ("overleft", "polygon", "*"): ("poly_overleft", False),
    ("overleft", "*", "polygon"): ("poly_overleft", False),
    ("overright", "polygon", "polygon"): ("poly_overright", False),
    ("overright", "polygon", "*"): ("poly_overright", False),
    ("overright", "*", "polygon"): ("poly_overright", False),
    ("same_as", "polygon", "polygon"): ("poly_same", False),
    ("same_as", "polygon", "*"): ("poly_same", False),
    ("same_as", "*", "polygon"): ("poly_same", False),
}


def _geo_span_is_geo(toks: list[str], lo: int, hi: int) -> bool:
    """Does toks[lo:hi+1] carry a geometric marker? (typed literal
    ``point '...'``, constructor/function call, or ``::point`` cast)"""
    return _geo_span_type(toks, lo, hi) is not None


def _geo_span_type(toks: list[str], lo: int, hi: int) -> str | None:
    """Static geo type of a span: 'rect' for the arity-dispatched
    point/box/circle family, 'lseg'/'path'/'polygon' for the statically
    routed one, None when unmarked."""
    for k in range(lo, hi + 1):
        t = toks[k].lower() if is_ident(toks[k]) else toks[k]
        nxt = toks[k + 1] if k + 1 <= hi else ""
        if t in _GEO_TYPES:
            if is_string(nxt) or nxt == "(" or (k > lo and toks[k - 1] == "::"):
                return "rect"
        if t in _GEO_TYPES2:
            if is_string(nxt) or (k > lo and toks[k - 1] == "::"):
                return t
        if t in _GEO_MARKERS2 and nxt == "(":
            return _GEO_MARKERS2[t]
        if t in _GEO_FUNCS and nxt == "(":
            return "rect"
    return None


def _geo_right_end(toks: list[str], j: int) -> int | None:
    def _cast_tail(end: int) -> int:
        # absorb a trailing ::type cast — ('...' || x)::lseg is the
        # dynamic-literal spelling that statically types an expression
        while (
            end + 2 < len(toks)
            and toks[end + 1] == "::"
            and is_ident(toks[end + 2])
        ):
            end += 2
        return end

    if j >= len(toks):
        return None
    t = toks[j]
    if is_ident(t) and j + 1 < len(toks) and is_string(toks[j + 1]):
        return j + 1
    if is_ident(t) or is_string(t) or t == "(":
        return _cast_tail(operand_end(toks, j))
    return None


def _geo_strip(toks: list[str]) -> str:
    """Operand tokens → SQL text with geo typed-literal prefixes dropped
    and geo constructor/function calls expanded."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        low = t.lower() if is_ident(t) else t
        if (
            low in (_GEO_TYPES | _GEO_TYPES2)
            and i + 1 < len(toks)
            and is_string(toks[i + 1])
        ):
            out.append(toks[i + 1])
            i += 2
            continue
        if (
            low in (_GEO_CTORS.keys() | _GEO_FUNCS | _GEO_MARKERS2.keys())
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            close = match_close(toks, i + 1)
            inner = toks[i + 2 : close]
            out.append(_geo_call(low, inner))
            i = close + 1
            continue
        if t == "::" and i + 1 < len(toks) and toks[i + 1].lower() in (
            _GEO_TYPES | _GEO_TYPES2
        ):
            i += 2  # geo "casts" are identity over the text representation
            continue
        out.append(t)
        i += 1
    return join_tokens(out)


def _geo_call(fn: str, inner_toks: list[str]) -> str:
    from greengage_spark.functions import geometry as geo

    sqls = [_geo_strip(a) for a in split_top(inner_toks) if a]
    if fn == "geo" or fn in _GEO_MARKERS2:
        return f"({sqls[0]})"  # identity markers: strip on emit
    if fn in _GEO_FUNCS:
        return getattr(geo, fn)(sqls[0])
    if fn == "point":
        return geo.make_point(sqls[0], sqls[1])
    if fn == "circle":
        return geo.make_circle(sqls[0], sqls[1])
    return geo.make_box(sqls[0], sqls[1])


def _geo_typed_lookup(fn: str, lt: str | None, rt: str | None):
    """Resolve (op, left-type, right-type) against _GEO_TYPED_OP with
    '*' wildcards; returns (kernel name, swap args) or None."""
    for key in ((fn, lt, rt), (fn, lt, "*"), (fn, "*", rt)):
        hit = _GEO_TYPED_OP.get(key)
        if hit is not None:
            return hit
    return None


def _pass_geometry(toks: list[str]) -> list[str]:
    """Geometric type surface (geo_ops.c; functions/geometry.py):
    point/box/circle as PG literal text with operators dispatched on
    numeric arity at runtime; lseg/path/polygon (whose literals collide
    with box/point arities) dispatched STATICALLY from typed literals,
    ::casts, and the engine's geo_<type>() DDL markers.  Only expressions
    carrying a geo marker are rewritten — a textual front-end cannot know
    bare column types, so untyped ``col <-> col`` passes through untouched
    (and fails loudly in Catalyst rather than silently doing the wrong
    thing)."""
    for i, t in enumerate(toks):
        if (
            is_ident(t)
            and t.lower() in _GEO_UNSUPPORTED
            and i + 1 < len(toks)
            and is_string(toks[i + 1])
        ):
            raise NotImplementedError(
                f"geometric type {t.lower()!r} is not routed (geo_ops.c "
                "line family is out of scope)"
            )
    from greengage_spark.functions import geometry as geo

    changed = True
    while changed:
        changed = False
        # prefix operators first: @-@ (length) and @@ (center) bind one
        # operand to their right (geo_ops.c lseg_length/path_length,
        # lseg_center/poly_center)
        def _prefix_pos(k: int) -> bool:
            if k == 0:
                return True
            p = toks[k - 1]
            if is_ident(p):
                return p.lower() in (
                    "select", "where", "and", "or", "not", "when", "then",
                    "else", "case", "on", "having", "by", "distinct", "all",
                    "union", "intersect", "except", "return", "from",
                )
            return not _is_operand_end(p)

        i = 0
        while i + 1 < len(toks):
            if toks[i] == "@" and _prefix_pos(i):
                if toks[i + 1] == "-" and i + 2 < len(toks) and toks[i + 2] == "@":
                    rstart, kind = i + 3, "length"
                elif toks[i + 1] == "@":
                    rstart, kind = i + 2, "center"
                else:
                    i += 1
                    continue
                rend = _geo_right_end(toks, rstart)
                if rend is None:
                    i += 1
                    continue
                typ = _geo_span_type(toks, rstart, rend)
                fn_name = _GEO_TYPED_FN.get((kind, typ))
                if fn_name is None:
                    i += 1
                    continue
                expansion = getattr(geo, fn_name)(
                    _geo_strip(toks[rstart : rend + 1])
                )
                toks[i : rend + 1] = ["(" + expansion + ")"]
                changed = True
                break
            i += 1
        if changed:
            continue
        i = 0
        while i < len(toks):
            fn = None
            oplen = 0
            if (
                i + 2 < len(toks)
                and (toks[i], toks[i + 1], toks[i + 2]) == ("<", "@", ">")
            ):
                fn, oplen = "earth_distance", 3  # contrib/earthdistance
            elif i + 1 < len(toks) and (toks[i], toks[i + 1]) in _GEO_OP2:
                fn, oplen = _GEO_OP2[(toks[i], toks[i + 1])], 2
            elif toks[i] in _GEO_OP1:
                fn, oplen = _GEO_OP1[toks[i]], 1
            elif toks[i] in _GEO_OP1_TYPED:
                fn, oplen = _GEO_OP1_TYPED[toks[i]], 1
            if fn is None or i == 0:
                i += 1
                continue
            rstart = i + oplen
            rend = _geo_right_end(toks, rstart)
            if rend is None or not _is_operand_end(toks[i - 1]):
                i += 1
                continue
            lstart = operand_start(toks, i - 1)
            # walk left through ::casts — for `(expr)::polygon @> x` the
            # operand scan stops at the bare type name
            while lstart > 0 and toks[lstart - 1] == "::":
                lstart = operand_start(toks, lstart - 2)
            # include a typed-literal prefix the operand scan missed
            if (
                lstart > 0
                and is_string(toks[lstart])
                and is_ident(toks[lstart - 1])
                and toks[lstart - 1].lower() in (_GEO_TYPES | _GEO_TYPES2)
            ):
                lstart -= 1
            lt = _geo_span_type(toks, lstart, i - 1)
            rt = _geo_span_type(toks, rstart, rend)
            if lt is None and rt is None:
                i += 1
                continue
            left_sql = _geo_strip(toks[lstart:i])
            right_sql = _geo_strip(toks[rstart : rend + 1])
            if fn == "earth_distance":
                from greengage_spark.functions.trgm import (
                    earth_distance_miles_sql,
                )

                toks[lstart : rend + 1] = [
                    "(" + earth_distance_miles_sql(left_sql, right_sql) + ")"
                ]
                changed = True
                break
            if lt in _GEO_TYPES2 or rt in _GEO_TYPES2:
                if fn in ("lt", "le", "gt", "ge", "eq"):
                    if "lseg" not in (lt, rt):
                        i += 1  # ordinary comparison on path/polygon text
                        continue
                    op = {"lt": "<", "le": "<=", "gt": ">", "ge": ">=",
                          "eq": "="}[fn]
                    expansion = geo.lseg_cmp(left_sql, right_sql, op)
                else:
                    hit = _geo_typed_lookup(fn, lt, rt)
                    if hit is None:
                        raise NotImplementedError(
                            f"geometric operator {fn!r} for types "
                            f"({lt}, {rt}) is not routed (geo_ops.c subset)"
                        )
                    kernel, swap = hit
                    a, b = (right_sql, left_sql) if swap else (left_sql, right_sql)
                    expansion = getattr(geo, kernel)(a, b)
            elif fn in _GEO_OP1_TYPED.values() or fn in (
                "intersects", "overleft", "overright", "interpt",
            ):
                i += 1  # typed-only ops never fire on rect operands
                continue
            else:
                expansion = getattr(geo, fn)(left_sql, right_sql)
            toks[lstart : rend + 1] = ["(" + expansion + ")"]
            changed = True
            break
        if changed:
            continue
        # no operator rewrites left: expand remaining standalone geo
        # typed literals / constructor & function calls
        i = 0
        while i < len(toks):
            t = toks[i]
            low = t.lower() if is_ident(t) else t
            if (
                low in (_GEO_TYPES | _GEO_TYPES2)
                and i + 1 < len(toks)
                and is_string(toks[i + 1])
            ):
                prev = toks[i - 1] if i > 0 else ""
                if prev != "." and not (
                    is_ident(prev) and prev.lower() == "as"
                ):
                    toks[i : i + 2] = [toks[i + 1]]
                    changed = True
                    break
            if (
                low in _GEO_FUNCS2
                and i + 1 < len(toks)
                and toks[i + 1] == "("
                and (i == 0 or toks[i - 1] != ".")
            ):
                close = match_close(toks, i + 1)
                typ = _geo_span_type(toks, i + 2, close - 1)
                fn_name = _GEO_TYPED_FN.get((low, typ))
                if fn_name is not None:
                    expansion = getattr(geo, fn_name)(
                        _geo_strip(toks[i + 2 : close])
                    )
                    toks[i : close + 1] = ["(" + expansion + ")"]
                    changed = True
                    break
                i = close + 1  # untyped: leave (length() is also string)
                continue
            if (
                low in (_GEO_FUNCS | _GEO_CTORS.keys() | _GEO_MARKERS2.keys())
                and i + 1 < len(toks)
                and toks[i + 1] == "("
                and (i == 0 or toks[i - 1] != ".")
            ):
                close = match_close(toks, i + 1)
                # typed area/center route via _GEO_TYPED_FN; the rect
                # versions remain the arity-dispatched default
                typ = _geo_span_type(toks, i + 2, close - 1)
                fn_name = _GEO_TYPED_FN.get((low, typ))
                if fn_name is not None:
                    expansion = getattr(geo, fn_name)(
                        _geo_strip(toks[i + 2 : close])
                    )
                    toks[i : close + 1] = ["(" + expansion + ")"]
                else:
                    # geo function and constructor names are PG-only — no
                    # Spark builtin shares them, so always rewrite the call
                    toks[i : close + 1] = [_geo_call(low, toks[i + 2 : close])]
                changed = True
                break
            if t == "::" and i + 1 < len(toks) and toks[i + 1].lower() in (
                _GEO_TYPES | _GEO_TYPES2
            ):
                toks[i : i + 2] = []
                changed = True
                break
            i += 1
    return toks


_XML_FUNCS = {"xmlelement", "xmlforest", "xmlconcat", "xmlcomment"}


def _xml_name(tok: str) -> str:
    return tok[1:-1] if tok.startswith('"') else tok.lower()


def _xml_expand(fn: str, inner: list[str], generated: set[str]) -> str:
    from greengage_spark.functions import xmlgen

    def _is_xml_arg(a: list[str]) -> bool:
        return len(a) == 1 and a[0] in generated

    args = split_top(inner)
    if fn == "xmlcomment":
        return xmlgen.comment(join_tokens(args[0]))
    if fn == "xmlconcat":
        return xmlgen.xml_concat([join_tokens(a) for a in args])
    if fn == "xmlforest":
        items = []
        for a in args:
            if len(a) >= 3 and is_ident(a[-2]) and a[-2].lower() == "as":
                items.append((_xml_name(a[-1]), join_tokens(a[:-2])))
            else:
                # default name: the column's own name (xml.c map_sql_identifier)
                items.append((_xml_name(a[-1]), join_tokens(a)))
        return xmlgen.forest(items)
    # xmlelement(name tag [, xmlattributes(...)] [, content ...])
    if len(args[0]) < 2 or args[0][0].lower() != "name":
        raise NotImplementedError("xmlelement(name tag, ...)")
    tag = _xml_name(args[0][1])
    attr_sqls: list[str] = []
    content: list[str] = []
    for a in args[1:]:
        if (
            is_ident(a[0])
            and a[0].lower() == "xmlattributes"
            and len(a) > 1
            and a[1] == "("
        ):
            for item in split_top(a[2:-1]):
                if len(item) >= 3 and is_ident(item[-2]) and item[-2].lower() == "as":
                    attr_sqls.append(
                        xmlgen.attribute(_xml_name(item[-1]), join_tokens(item[:-2]))
                    )
                else:
                    attr_sqls.append(
                        xmlgen.attribute(_xml_name(item[-1]), join_tokens(item))
                    )
        else:
            content.append((join_tokens(a), _is_xml_arg(a)))
    from greengage_spark.functions.xmlgen import element

    return element(tag, attr_sqls, content)


def _pass_xml(toks: list[str]) -> list[str]:
    """SQL/XML publishing functions (xml.c subset → functions/xmlgen.py):
    innermost-first expansion so nested xmlelement/xmlforest compose.
    xmlagg(e [ORDER BY ...]) lowers to string_agg(e, '' ...) upstream."""
    generated: set[str] = set()  # expansions = XML-typed values (no re-escape)
    changed = True
    while changed:
        changed = False
        for i, t in enumerate(toks):
            if not (is_ident(t) and t.lower() in _XML_FUNCS):
                continue
            if i + 1 >= len(toks) or toks[i + 1] != "(":
                continue
            close = match_close(toks, i + 1)
            inner = toks[i + 2 : close]
            if any(
                is_ident(x) and x.lower() in _XML_FUNCS for x in inner
            ):
                continue  # expand innermost first
            expansion = _xml_expand(t.lower(), inner, generated)
            generated.add(expansion)
            toks[i : close + 1] = [expansion]
            changed = True
            break
    return toks


def _pass_xmlagg(toks: list[str]) -> list[str]:
    def lower(_, args: list[list[str]]) -> list[str]:
        inner = [t for a in args for t in [",", *a]][1:]
        k = next(
            (j for j, x in top_level(inner) if is_ident(x) and x.lower() == "order"),
            len(inner),
        )
        return ["string_agg", "(", *inner[:k], ",", "''", *inner[k:], ")"]

    return rewrite_calls(toks, {"xmlagg"}, lower)


def _pass_typed_literals(toks: list[str]) -> list[str]:
    """PG typed-literal prefixes ``typename 'value'`` (gram.y
    AexprConst ConstTypename).  bool literals fold at transpile time via
    PG's own parse rules (errors included); other mapped type names wrap
    the literal in a CAST.  date/timestamp/interval stay untouched —
    Spark parses those typed literals natively."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if (
            is_ident(t)
            and i + 1 < len(toks)
            and is_string(toks[i + 1])
            and t.lower() in _TYPE_MAP
            and t.lower() not in (
                "date", "timestamp", "timestamptz", "char", "name",
                # geo typed literals stay intact as _pass_geometry markers
                "point", "box", "circle",
            )
            and (not out or out[-1] not in (".",))
            and not (out and is_ident(out[-1]) and out[-1].lower() in ("as",))
        ):
            low = t.lower()
            lit = toks[i + 1][1:-1]
            if low in ("bool", "boolean"):
                out.append(_pg_parse_bool(lit))
            else:
                out += ["CAST", "(", toks[i + 1], "AS", _TYPE_MAP[low], ")"]
            i += 2
            continue
        out.append(t)
        i += 1
    return out


def _similar_to_regex(pat: str, esc: str) -> str:
    """SQL SIMILAR TO pattern → POSIX/Java regex (regexp.c similar_escape).

    ``%``→``.*``, ``_``→``.``; regex metas shared with SIMILAR TO
    (``| * + ? { } ( ) [ ]``) pass through; regex-only metas
    (``. ^ $ \\``) are escaped; escape-char + c is literal c; bracket
    expressions pass through verbatim.  Wrapped ``^(?:…)$`` like PG.
    """
    out: list[str] = []
    i = 0
    n = len(pat)
    while i < n:
        c = pat[i]
        if esc and c == esc:
            if i + 1 < n:
                out.append(re.escape(pat[i + 1]))
                i += 2
                continue
            i += 1
            continue
        if c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        elif c == "[":
            # bracket expression: copy until the matching ']' ('[]a]' and
            # '[^]a]' keep a leading ']' literal, as in POSIX)
            j = i + 1
            if j < n and pat[j] == "^":
                j += 1
            if j < n and pat[j] == "]":
                j += 1
            while j < n and pat[j] != "]":
                j += 1
            out.append(pat[i : j + 1])
            i = j + 1
            continue
        elif c in ".^$\\":
            out.append("\\" + c)
        else:
            out.append(c)
        i += 1
    return "^(?:" + "".join(out) + ")$"


def _similar_substring_regex(pat: str, esc: str) -> tuple[str, bool]:
    """SIMILAR substring pattern (similar_escape with escape-double-quote
    group markers) → (anchored Java regex, has_group).  esc+'\"' pairs
    become the capture parens; other escape uses stay literal."""
    out: list[str] = ["^(?:"]
    i, n = 0, len(pat)
    marker = 0
    while i < n:
        c = pat[i]
        if esc and c == esc and i + 1 < n and pat[i + 1] == '"':
            out.append("(" if marker % 2 == 0 else ")")
            marker += 1
            i += 2
            continue
        if esc and c == esc:
            if i + 1 < n:
                out.append(re.escape(pat[i + 1]))
                i += 2
                continue
            i += 1
            continue
        if c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        elif c == "[":
            j = i + 1
            if j < n and pat[j] == "^":
                j += 1
            if j < n and pat[j] == "]":
                j += 1
            while j < n and pat[j] != "]":
                j += 1
            out.append(pat[i : j + 1])
            i = j + 1
            continue
        elif c in ".^$\\":
            out.append("\\" + c)
        else:
            out.append(c)
        i += 1
    out.append(")$")
    return "".join(out), marker >= 2


def _pass_similar_to(toks: list[str]) -> list[str]:
    """``x [NOT] SIMILAR TO 'pat' [ESCAPE 'e']`` → ``x RLIKE '^(?:…)$'``
    (gram.y a_expr SIMILAR TO; regexp.c similar_escape).  Literal
    patterns only — PG itself folds these at plan time."""
    while True:
        idx = next(
            (
                i
                for i, t in enumerate(toks)
                if is_ident(t)
                and t.lower() == "similar"
                and i + 2 < len(toks)
                and is_ident(toks[i + 1])
                and toks[i + 1].lower() == "to"
                and is_string(toks[i + 2])
            ),
            None,
        )
        if idx is None:
            return toks
        neg = idx > 0 and is_ident(toks[idx - 1]) and toks[idx - 1].lower() == "not"
        op_end = idx - 2 if neg else idx - 1
        start = operand_start(toks, op_end)
        left = toks[start : op_end + 1]
        pat = toks[idx + 2][1:-1].replace("''", "'")
        after = idx + 3
        esc = "\\"
        if (
            after + 1 < len(toks)
            and is_ident(toks[after])
            and toks[after].lower() == "escape"
            and is_string(toks[after + 1])
        ):
            esc = toks[after + 1][1:-1].replace("''", "'")
            after += 2
        regex = _similar_to_regex(pat, esc)
        new = ["("] + left + ["RLIKE", "'" + regex.replace("'", "''") + "'", ")"]
        if neg:
            new = ["(", "NOT"] + new + [")"]
        toks = toks[:start] + new + toks[after:]


def _pass_overlaps(toks: list[str]) -> list[str]:
    """``(s1, e1) OVERLAPS (s2, e2)`` → explicit predicate
    (timestamp.c timestamp_overlaps): after normalizing each pair so
    start<=end, true iff starts are equal OR each start precedes the
    other's end (strictly)."""
    while True:
        idx = next(
            (
                i
                for i, t in enumerate(toks)
                if is_ident(t)
                and t.lower() == "overlaps"
                and i > 0
                and toks[i - 1] == ")"
                and i + 1 < len(toks)
                and toks[i + 1] == "("
            ),
            None,
        )
        if idx is None:
            return toks
        lstart = operand_start(toks, idx - 1)
        if toks[lstart] != "(":
            return toks
        rend = match_close(toks, idx + 1)
        lpair = split_top(toks[lstart + 1 : idx - 1])
        rpair = split_top(toks[idx + 2 : rend])
        if len(lpair) != 2 or len(rpair) != 2:
            return toks
        s1 = lambda: ["least", "("] + lpair[0] + [","] + lpair[1] + [")"]
        e1 = lambda: ["greatest", "("] + lpair[0] + [","] + lpair[1] + [")"]
        s2 = lambda: ["least", "("] + rpair[0] + [","] + rpair[1] + [")"]
        e2 = lambda: ["greatest", "("] + rpair[0] + [","] + rpair[1] + [")"]
        new = (
            ["(", "("]
            + s1() + ["<"] + e2() + ["AND"] + s2() + ["<"] + e1()
            + [")", "OR"]
            + s1() + ["="] + s2()
            + [")"]
        )
        toks = toks[:lstart] + new + toks[rend + 1 :]


def _pass_at_time_zone(toks: list[str]) -> list[str]:
    """``ts AT TIME ZONE 'zone'`` → ``to_utc_timestamp(ts, 'zone')``
    (timestamp.c timestamp_zone): a zone-naive timestamp is interpreted
    as zone-local wall time and becomes the corresponding instant,
    rendered in the UTC session.  The timestamptz→naive direction is out
    of scope — stored columns are zone-naive parquet timestamps."""
    while True:
        idx = next(
            (
                i
                for i, t in enumerate(toks)
                if is_ident(t)
                and t.lower() == "at"
                and i + 2 < len(toks)
                and is_ident(toks[i + 1])
                and toks[i + 1].lower() == "time"
                and is_ident(toks[i + 2])
                and toks[i + 2].lower() == "zone"
            ),
            None,
        )
        if idx is None:
            return toks
        start = operand_start(toks, idx - 1)
        # include a typed-literal keyword (TIMESTAMP '…' folds as one operand)
        if (
            start > 0
            and is_ident(toks[start - 1])
            and toks[start - 1].lower() in ("timestamp", "timestamp_ntz", "date")
        ):
            start -= 1
        left = toks[start:idx]
        zend = _geo_right_end(toks, idx + 3)
        if zend is None:
            return toks
        zone = toks[idx + 3 : zend + 1]
        new = ["to_utc_timestamp", "("] + left + [","] + zone + [")"]
        toks = toks[:start] + new + toks[zend + 1 :]


def _rewrite_bit_literals(sql: str) -> str:
    """``B'1010'`` / ``X'1F'`` bit-string literals (gram.y xb/xh states;
    varbit.c) → plain 0/1 text, the engine's bit representation (the
    same PG-literal-text approach as geometry).  Operates on the raw SQL
    so literal adjacency survives; string segments are split out first
    (with ``''`` doubling) so nothing inside a string is touched."""
    parts = re.split(r"('(?:[^']|'')*')", sql)
    out: list[str] = []
    i = 0
    while i < len(parts):
        seg = parts[i]
        m = re.search(r"(?:^|[^\w])([bBxX])$", seg) if i + 1 < len(parts) else None
        if m and re.fullmatch(r"'[0-9A-Fa-f]*'", parts[i + 1]):
            body = parts[i + 1][1:-1]
            if m.group(1) in "bB":
                if not re.fullmatch(r"[01]*", body):
                    raise ValueError(f"invalid binary digit in B'{body}'")
                bits = body
            else:
                bits = "".join(f"{int(c, 16):04b}" for c in body)
            out.append(seg[: m.start(1)])
            out.append("'" + bits + "'")
            i += 2
            continue
        out.append(seg)
        i += 1
    return "".join(out)


def _pass_bit_casts(toks: list[str]) -> list[str]:
    """``::bit(n)`` / ``::varbit[(n)]`` / ``::bit varying[(n)]``
    (varbit.c bit()/varbit()): bit strings are 0/1 text here, so bit(n)
    zero-pads/truncates on the right to exactly n.  A string operand
    (B-literal or quoted bits) gets the bit-string cast; any other
    operand gets PG's int→bit(n) semantics — the rightmost n bits of the
    64-bit two's-complement pattern (int4/int8 → bit in varbit.c).
    Runs before the generic cast passes (``bit`` is not a Spark type)."""
    while True:
        idx = next(
            (
                i
                for i, t in enumerate(toks)
                if t == "::"
                and i + 1 < len(toks)
                and is_ident(toks[i + 1])
                and toks[i + 1].lower() in ("bit", "varbit")
            ),
            None,
        )
        if idx is None:
            return toks
        tlow = toks[idx + 1].lower()
        j = idx + 2
        varying = False
        if tlow == "varbit":
            varying = True
        elif j < len(toks) and is_ident(toks[j]) and toks[j].lower() == "varying":
            varying = True
            j += 1
        n = None
        if j + 2 < len(toks) and toks[j] == "(" and toks[j + 2] == ")":
            n = toks[j + 1]
            j += 3
        start = operand_start(toks, idx - 1)
        left = toks[start:idx]
        is_str = len(left) == 1 and is_string(left[0])
        if n is None:
            new = ["("] + left + [")"] if len(left) > 1 else left
        elif is_str or varying:
            if varying:
                # varbit(n) truncates only (varbit.c varbit())
                new = ["substring", "(", "("] + left + [")", ",", "1", ",", n, ")"]
            else:
                new = [
                    "rpad", "(", "substring", "(", "("] + left
                new += [")", ",", "1", ",", n, ")", ",", n, ",", "'0'", ")"]
        else:
            # int → bit(n): rightmost n bits of the two's-complement word
            # (positive start — the padded width is exactly 64; the substr
            # PG-clip guard re-rewrites emitted negative starts)
            new = [
                "substring", "(", "lpad", "(", "bin", "(", "CAST", "(", "("
            ] + left + [
                ")", "AS", "BIGINT", ")", ")", ",", "64", ",", "'0'", ")",
                ",", "65", "-", n, ")",
            ]
        toks = toks[:start] + new + toks[j:]


def _pass_like_escape(toks: list[str]) -> list[str]:
    """LIKE … ESCAPE: PG lets the escape precede ANY character (like.c
    treats escape+c as literal c); Spark only allows it before a wildcard
    or itself.  For literal pattern + literal escape, strip the escape
    from escape+ordinary sequences — same match semantics, Spark-legal."""
    i = 0
    while i + 3 < len(toks):
        if (
            is_ident(toks[i])
            and toks[i].lower() in ("like", "ilike")
            and is_string(toks[i + 1])
            and is_ident(toks[i + 2])
            and toks[i + 2].lower() == "escape"
            and is_string(toks[i + 3])
        ):
            esc = toks[i + 3][1:-1]
            if len(esc) == 1:
                pat = toks[i + 1][1:-1]
                out_chars: list[str] = []
                k = 0
                while k < len(pat):
                    c = pat[k]
                    if c == esc and k + 1 < len(pat):
                        nxt = pat[k + 1]
                        if nxt in ("%", "_") or nxt == esc:
                            out_chars += [c, nxt]
                        else:
                            out_chars.append(nxt)
                        k += 2
                    else:
                        out_chars.append(c)
                        k += 1
                toks[i + 1] = "'" + "".join(out_chars) + "'"
            i += 4
            continue
        i += 1
    return toks


def _pass_only_tables(toks: list[str]) -> list[str]:
    """``FROM ONLY tab`` (PG inheritance qualifier, gram.y relation_expr)
    — drop the ONLY: our tables have no inheritance children, so ONLY
    scans and plain scans are the same relation."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if (
            is_ident(t)
            and t.lower() == "only"
            and i + 1 < len(toks)
            and is_ident(toks[i + 1])
            and i >= 1
            and is_ident(toks[i - 1])
            and toks[i - 1].lower() in ("from", "join", "update", "delete")
        ):
            i += 1
            continue
        out.append(t)
        i += 1
    return out


def _pass_inline_named_windows(toks: list[str]) -> list[str]:
    """Inline ``WINDOW name AS (spec)`` definitions into their ``OVER``
    references when the reference EXTENDS the named window with a frame
    clause — ``OVER (w RANGE BETWEEN …)`` (gram.y over_clause copies the
    base spec).  Spark's grammar only accepts a bare name inside the
    parens, so extended references get the definition spliced in front of
    the frame tokens.  Bare ``OVER w`` / ``OVER (w)`` references are left
    for Spark's native named-window support."""
    # collect WINDOW clauses: window <name> as ( … ) [, <name> as ( … )]*
    defs: dict[str, list[str]] = {}
    i = 0
    while i < len(toks):
        if not (is_ident(toks[i]) and toks[i].lower() == "window" and i + 2 < len(toks)
                and is_ident(toks[i + 1]) and toks[i + 2].lower() == "as"):
            i += 1
            continue
        j = i + 1
        while (
            j + 1 < len(toks)
            and is_ident(toks[j])
            and toks[j + 1].lower() == "as"
            and j + 2 < len(toks)
            and toks[j + 2] == "("
        ):
            close = match_close(toks, j + 2)
            defs[toks[j].lower()] = toks[j + 3 : close]
            j = close + 1
            if j < len(toks) and toks[j] == ",":
                j += 1
            else:
                break
        i = j
    if not defs:
        return toks

    def splice(_, args: list[list[str]]) -> list[str] | None:
        spec = [t for a in args for t in [",", *a]][1:]
        if len(spec) > 1 and is_ident(spec[0]) and spec[0].lower() in defs:
            # extended reference — splice the definition in
            return ["over", "(", *defs[spec[0].lower()], *spec[1:], ")"]
        return None

    return rewrite_calls(toks, {"over"}, splice)


def _pass_offset_before_limit(toks: list[str]) -> list[str]:
    """PG accepts ``OFFSET n LIMIT m`` in either order (gram.y
    select_limit); Spark's grammar only parses ``LIMIT m OFFSET n`` —
    swap when OFFSET precedes LIMIT at the same nesting depth."""
    i = 0
    while i < len(toks):
        if is_ident(toks[i]) and toks[i].lower() == "offset":
            off_end = next(
                (j for j, t in top_level(toks, i + 1) if is_ident(t) and t.lower() in (
                    "limit", "union", "intersect", "except", "order", "window",
                )),
                None,
            )
            if off_end is not None and toks[off_end].lower() == "limit":
                # find end of the LIMIT operand
                k = next(
                    (k for k, t in top_level(toks, off_end + 1)
                     if t == ")" or is_ident(t) and t.lower() in (
                         "union", "intersect", "except", "order", "offset", "window",
                     )),
                    len(toks),
                )
                limit_clause = toks[off_end:k]
                offset_clause = toks[i:off_end]
                toks = toks[:i] + limit_clause + offset_clause + toks[k:]
                i += len(limit_clause)
                continue
        i += 1
    return toks


def _pass_grouping_plain(toks: list[str]) -> list[str]:
    """GROUPING(…) under a PLAIN group by returns 0 in Greenplum
    (plangroupext.c treats a non-extended GROUP BY as the single full
    grouping set; reference qp_olap_group2.sql:199-330).  Spark rejects
    grouping() outside GroupingSets/Cube/Rollup, so when the statement has
    no grouping extension at all, fold GROUPING(…) — and GROUP_ID(),
    which is likewise 0 outside duplicate sets — to the literal 0."""
    has_ext = False
    for i, t in enumerate(toks):
        if not is_ident(t):
            continue
        low = t.lower()
        if low in ("rollup", "cube") and i + 1 < len(toks) and toks[i + 1] == "(":
            has_ext = True
            break
        if (
            low == "grouping"
            and i + 1 < len(toks)
            and is_ident(toks[i + 1])
            and toks[i + 1].lower() == "sets"
        ):
            has_ext = True
            break
    if has_ext:
        return toks
    return rewrite_calls(toks, {"grouping", "group_id"}, lambda *_: ["0"])


def _gb_norm(tl: list[str]) -> str:
    """Normalized key for a grouping expression (token text, idents folded)."""
    return " ".join(t.lower() if is_ident(t) else t for t in tl)


def _gb_elems(toks: list[str]) -> list[list[list[str]]]:
    """Contents of CUBE(...)/ROLLUP(...) → elements, each a list of exprs
    (a composite ``(a, b)`` element is one multi-expr element)."""
    elems: list[list[list[str]]] = []
    for part in split_top(toks):
        part = [p for p in part]
        if part and part[0] == "(" and match_close(part, 0) == len(part) - 1:
            elems.append([e for e in split_top(part[1:-1]) if e])
        else:
            elems.append([part] if part else [])
    return elems


def _gb_expand_item(item: list[str]) -> list[list[list[str]]]:
    """One GROUP BY item → its list of grouping sets (each a list of expr
    token-lists), following gram.y group_elem / plangroupext.c expansion:
    CUBE(k elems) → 2^k subsets; ROLLUP(k elems) → k+1 prefixes;
    GROUPING SETS(items) → concatenation (recursing into nested
    CUBE/ROLLUP/GS); ``(a,b)`` → one composite set; expr → one set."""
    if (
        len(item) >= 2
        and is_ident(item[0])
        and item[0].lower() in ("cube", "rollup")
        and item[1] == "("
        and match_close(item, 1) == len(item) - 1
    ):
        elems = _gb_elems(item[2:-1])
        if item[0].lower() == "cube":
            sets = []
            for mask in range(1 << len(elems)):
                s: list[list[str]] = []
                for j, e in enumerate(elems):
                    if mask & (1 << j):
                        s.extend(e)
                sets.append(s)
            return sets
        return [
            [ex for e in elems[:j] for ex in e] for j in range(len(elems), -1, -1)
        ]
    if (
        len(item) >= 3
        and is_ident(item[0])
        and item[0].lower() == "grouping"
        and is_ident(item[1])
        and item[1].lower() == "sets"
        and item[2] == "("
        and match_close(item, 2) == len(item) - 1
    ):
        sets = []
        for sub in split_top(item[3:-1]):
            if not sub:
                continue
            if sub[0] == "(" and match_close(sub, 0) == len(sub) - 1:
                # composite (a,b) or empty () — a single explicit set
                sets.append([e for e in split_top(sub[1:-1]) if e])
            else:
                sets.extend(_gb_expand_item(sub))
        return sets
    if item and item[0] == "(" and match_close(item, 0) == len(item) - 1:
        return [[e for e in split_top(item[1:-1]) if e]]
    return [[item]] if item else [[]]


def _gb_scope_end(toks: list[str], i: int) -> int:
    """End (exclusive) of the SELECT scope starting at toks[i] == 'select'."""
    return next(
        (j for j, t in top_level(toks, i + 1)
         if t in CLOSE or t == ";"
         or is_ident(t) and t.lower() in ("union", "intersect", "except")),
        len(toks),
    )


def _gb_call_sites(toks, start, end, names):
    """Indices in [start, end) where ``name (`` calls occur, skipping nested
    SELECT subquery spans (they are their own scopes)."""
    sites, j = [], start
    while j < end:
        t = toks[j]
        if (
            t == "("
            and j + 1 < end
            and is_ident(toks[j + 1])
            and toks[j + 1].lower() == "select"
        ):
            j = match_close(toks, j) + 1
            continue
        if (
            is_ident(t)
            and t.lower() in names
            and j + 1 < end
            and toks[j + 1] == "("
        ):
            sites.append(j)
        j += 1
    return sites


_INTERVAL_UNIT_ALIASES = {
    # datetime.c deltktbl abbreviations PG accepts inside interval input
    "y": "year", "yr": "year", "yrs": "years",
    "mon": "month", "mons": "months",
    "d": "day",
    "h": "hour", "hr": "hour", "hrs": "hours",
    "min": "minute", "mins": "minutes", "m": "minute",
    "s": "second", "sec": "second", "secs": "seconds",
    "msec": "millisecond", "msecs": "milliseconds", "ms": "milliseconds",
    "usec": "microsecond", "usecs": "microseconds", "us": "microseconds",
}


_MULTIWORD_TYPES = [
    (["timestamp", "without", "time", "zone"], "timestamp"),
    (["timestamp", "with", "time", "zone"], "timestamptz"),
    (["time", "without", "time", "zone"], "time"),
    (["time", "with", "time", "zone"], "timetz"),
]


def _pass_multiword_types(toks: list[str]) -> list[str]:
    """SQL-standard multi-word type names (gram.y SimpleTypename:
    ``timestamp without time zone`` etc.) fold to their single-token
    aliases so typed literals and ::casts see one type token.  AT TIME
    ZONE is unaffected (its ``time`` is preceded by ``at``)."""
    i = 0
    while i < len(toks):
        low = toks[i].lower() if is_ident(toks[i]) else None
        for words, repl in _MULTIWORD_TYPES:
            if low == words[0] and [
                t.lower() if is_ident(t) else t
                for t in toks[i : i + len(words)]
            ] == words:
                toks[i : i + len(words)] = [repl]
                break
        i += 1
    return toks


_YM_UNITS = {
    "year", "years", "month", "months", "decade", "decades",
    "century", "centuries", "millennium", "millenniums", "millennia",
}
_DT_UNITS = {
    "week", "weeks", "day", "days", "hour", "hours", "minute", "minutes",
    "second", "seconds", "millisecond", "milliseconds",
    "microsecond", "microseconds",
}


def _split_interval_body(body: str):
    """Split a mixed year-month + day-time interval text into its two
    parts → (ym_text, dt_text), or None when single-kind/unparseable."""
    parts = body.replace("-", " - ").replace("+", " + ").split()
    items: list[tuple[str, str]] = []
    sign, qty = "", None
    for w in parts:
        if w in ("-", "+"):
            sign = w if w == "-" else ""
            continue
        if re.match(r"^\d+(\.\d+)?$", w):
            qty = sign + w
            sign = ""
            continue
        if qty is None:
            return None
        items.append((qty, w.lower()))
        qty = None
    if qty is not None or not items:
        return None
    ym = [(q, u) for q, u in items if u in _YM_UNITS]
    dt = [(q, u) for q, u in items if u in _DT_UNITS]
    if not ym or not dt or len(ym) + len(dt) != len(items):
        return None
    return (
        " ".join(f"{q} {u}" for q, u in ym),
        " ".join(f"{q} {u}" for q, u in dt),
    )


def _pass_interval_mixed(toks: list[str]) -> list[str]:
    """``ts ± interval '<ym and dt units mixed>'`` (timestamp.c
    timestamp_pl_interval adds months, then days, then time): Spark has
    no mixed interval type, so decompose into two chained literals —
    ``ts ± interval '<ym>' ± interval '<dt>'`` — which applies the parts
    in exactly PG's order."""
    i = 1
    while i < len(toks) - 1:
        if (
            is_ident(toks[i])
            and toks[i].lower() == "interval"
            and is_string(toks[i + 1])
            and toks[i - 1] in ("+", "-")
        ):
            split = _split_interval_body(toks[i + 1][1:-1])
            if split:
                op = toks[i - 1]
                repl = [
                    "interval", f"'{split[0]}'", op, "interval", f"'{split[1]}'",
                ]
                toks[i : i + 2] = repl
                i += len(repl)
                continue
        i += 1
    return toks


def _pass_interval_unit_aliases(toks: list[str]) -> list[str]:
    """PG interval input accepts abbreviated unit names ('2 mins',
    '3 hrs'; datetime.c DecodeUnits) that Spark's interval parser
    rejects — normalize them to the full spellings inside
    ``interval '<text>'`` literals."""
    for i, t in enumerate(toks):
        if (
            is_ident(t)
            and t.lower() == "interval"
            and i + 1 < len(toks)
            and is_string(toks[i + 1])
        ):
            body = toks[i + 1][1:-1]
            words = [
                _INTERVAL_UNIT_ALIASES.get(w.lower(), w)
                for w in body.split(" ")
            ]
            toks[i + 1] = "'" + " ".join(words) + "'"
    return toks


def _pass_interval_add_timestamp(toks: list[str]) -> list[str]:
    """PG ``date ± interval`` yields TIMESTAMP (timestamp.c
    date_pl_interval via promotion); Spark keeps DATE for year-month
    intervals.  For column operands (the only case whose type we cannot
    see), wrap in CAST(x AS TIMESTAMP) — a no-op when the column is
    already a timestamp, the PG result type when it is a date."""
    i = 2
    while i < len(toks):
        if (
            is_ident(toks[i])
            and toks[i].lower() == "interval"
            and i + 1 < len(toks)
            and is_string(toks[i + 1])
            and toks[i - 1] in ("+", "-")
        ):
            if (
                is_string(toks[i - 2])
                and i >= 3
                and is_ident(toks[i - 3])
                and toks[i - 3].lower() == "date"
            ):
                # date 'lit' ± interval → TIMESTAMP (date.c
                # date_pl_interval promotes through timestamp)
                toks[i - 3 : i - 1] = (
                    ["CAST", "("] + toks[i - 3 : i - 1] + ["AS", "TIMESTAMP", ")"]
                )
                i += 4
            elif (
                i >= 4
                and is_ident(toks[i - 2])
                and toks[i - 3] == "::"
            ):
                # `expr::type ± interval`: wrap the WHOLE cast operand
                # (leaving the :: dangling would mis-lower later)
                s = operand_start(toks, i - 4)
                toks[s : i - 1] = (
                    ["CAST", "("] + toks[s : i - 1] + ["AS", "TIMESTAMP", ")"]
                )
                i += 5
            elif (
                is_ident(toks[i - 2])
                and toks[i - 2].lower() not in _KEYWORDS_NONOPERAND
            ):
                # operand: a qualified name  a.b.c
                s = operand_start(toks, i - 2)
                toks[s : i - 1] = (
                    ["CAST", "("] + toks[s : i - 1] + ["AS", "TIMESTAMP", ")"]
                )
                i += 5
        i += 1
    return toks


_KEYWORDS_NONOPERAND = {
    "select", "when", "then", "else", "and", "or", "not", "case", "end",
    "by", "as", "on", "where", "having", "from", "in", "between",
}


def _after_sign(toks: list[str], j: int) -> int:
    """j, moved past one unary sign token."""
    return j + 1 if j < len(toks) and toks[j] in ("+", "-", "~") else j


def _pass_pow_xor(toks: list[str]) -> list[str]:
    """PG numeric operators Spark spells differently (int.c / float.c):
    ``a # b`` is bitwise XOR → Spark ``^``; PG ``a ^ b`` is POWER (float
    result) → ``power(a, b)``.  Operands are primaries (PG gives ^ the
    tightest binary precedence); scanning left-to-right makes chains
    nest LEFT-associatively — PG: 2 ^ 3 ^ 2 = (2^3)^2 = 64."""
    # placeholder keeps XOR sites out of the power rewrite below
    for i in range(len(toks)):
        if toks[i] == "#" and 0 < i < len(toks) - 1:
            toks[i] = "\x00xor"
    i = 0
    while i < len(toks):
        if toks[i] == "^":
            ls = operand_start(toks, i - 1) if i else -1
            re_ = operand_end(toks, _after_sign(toks, i + 1)) + 1
            if ls < 0:
                i += 1
                continue
            new = (
                ["power", "("]
                + toks[ls:i]
                + [","]
                + toks[i + 1 : re_]
                + [")"]
            )
            toks[ls:re_] = new
            # continue from the start of the rewritten call so a
            # following ^ takes the whole power(...) as its left primary
            i = ls
        i += 1
    return ["^" if t == "\x00xor" else t for t in toks]


_TSVECTOR_SQL = (
    "array_sort ( array_distinct ( filter ( split ( lower ( {x} ) , "
    "'[^a-z0-9]+' ) , __t -> __t != '' ) ) )"
)


# user CREATE FUNCTION names — compat aliases must never hijack a
# user-defined function of the same name.  A ContextVar (not a module
# global): each engine scopes its own set for the duration of one
# statement via user_functions_ctx(), so multiple GreengageEngine
# instances in one process (or concurrent sessions on different
# threads) can no longer clobber each other mid-statement.
import contextlib
from contextvars import ContextVar

_USER_FUNCTION_NAMES: ContextVar[frozenset[str]] = ContextVar(
    "greengage_user_function_names", default=frozenset()
)


@contextlib.contextmanager
def user_functions_ctx(names):
    token = _USER_FUNCTION_NAMES.set(frozenset(n.lower() for n in names))
    try:
        yield
    finally:
        _USER_FUNCTION_NAMES.reset(token)

_TSEARCH2_SIMPLE = {
    # contrib/tsearch2/tsearch2--1.0.sql legacy names → modern API
    "rank_cd": "ts_rank_cd",
    "headline": "ts_headline",
    "lexize": "ts_lexize",
    "stat": "ts_stat",
}

_TSEARCH2_REJECT = {
    # tsearch2's session-state machinery has no modern analog by design
    # (set_curcfg/set_curdict/set_curprs were dropped in PG 8.3's core
    # text search); reject loudly instead of silently mis-parsing
    "set_curcfg", "set_curdict", "set_curprs", "show_curcfg",
    "reset_tsearch", "get_covers",
}


_LO_FUNCS = {
    # pg_proc large-object client API + contrib/lo (lo--1.1.sql)
    "lo_creat", "lo_create", "lo_open", "lo_close", "lo_unlink",
    "lo_import", "lo_export", "lo_put", "lo_get", "loread", "lowrite",
    "lo_lseek", "lo_lseek64", "lo_tell", "lo_tell64", "lo_truncate",
    "lo_truncate64", "lo_from_bytea", "lo_oid", "lo_manage",
}


def _pass_reject_large_objects(toks: list[str]) -> list[str]:
    """Large objects (pg_largeobject + contrib/lo) are out of scope by
    design: OLTP-ish chunked mutable blobs have no analog over immutable
    parquet — store blobs in a binary column instead.  Reject loudly by
    name so a ported schema fails with a contract, not a parse error."""
    for i, t in enumerate(toks):
        if (
            is_ident(t)
            and t.lower() in _LO_FUNCS
            and i + 1 < len(toks)
            and toks[i + 1] == "("
            and (i == 0 or toks[i - 1] != ".")
        ):
            raise NotImplementedError(
                f"large-object function {t.lower()}() (pg_largeobject / "
                "contrib/lo) is not supported: large objects are mutable "
                "chunked OLTP storage with no parquet analog — store the "
                "payload in a bytea/binary column"
            )
    return toks


def _pass_tsearch2_aliases(toks: list[str]) -> list[str]:
    """contrib/tsearch2 compatibility: the legacy alias names over the
    modern text-search API (tsearch2--1.0.sql: rank→ts_rank,
    rank_cd→ts_rank_cd, headline→ts_headline, lexize→ts_lexize,
    stat→ts_stat).  ``rank(`` maps only when it takes ≥2 arguments and
    is neither a window call (followed by OVER) nor a hypothetical-set
    WITHIN GROUP form — those keep their core meanings."""
    out = list(toks)
    for i, t in enumerate(out):
        if not is_ident(t) or i + 1 >= len(out) or out[i + 1] != "(":
            continue
        # a qualified name (x.rank) is a column access, never the alias
        if i > 0 and out[i - 1] == ".":
            continue
        low = t.lower()
        if low in _USER_FUNCTION_NAMES.get():
            continue
        if low in _TSEARCH2_SIMPLE:
            out[i] = _TSEARCH2_SIMPLE[low]
        elif low in _TSEARCH2_REJECT:
            raise NotImplementedError(
                f"tsearch2 session-state function {low}() has no modern "
                "analog (dropped with PG 8.3 core text search); specify "
                "the configuration per-call instead"
            )
        elif low == "rank":
            close = match_close(out, i + 1)
            nargs = len(split_top(out[i + 2 : close]))
            after = out[close + 1].lower() if close + 1 < len(out) else ""
            if nargs >= 2 and after not in ("over", "within"):
                out[i] = "ts_rank"
    return out


def _pass_text_search(toks: list[str]) -> list[str]:
    """SQL surface for text search (tsvector.c / tsquery.c, 'simple'
    config): ``to_tsvector([cfg,] x)`` → lexeme-array expression;
    ``tsv @@ plainto_tsquery('...')`` → AND of array_contains;
    ``tsv @@ to_tsquery('a & (b|!c)')`` → the query tree compiled to a
    boolean expression (functions/textsearch.py holds the DataFrame
    twin).  The tsvector operand must be on the LEFT of ``@@``."""
    from greengage_spark.functions.textsearch import _tsq_parse

    def _tsv(arg_toks: list[str]) -> list[str]:
        return tokenize(_TSVECTOR_SQL.format(x=" ".join(arg_toks)))

    # --- english configuration normalization (snowball_en.py) -------
    # to_tsquery/plainto_tsquery('english', 'lit') stem at PLAN time
    # (queries are literals — the snowball dictionary costs nothing at
    # runtime); to_tsvector('english', x) becomes the __gg_tsv_en
    # marker the downstream passes dispatch on.  Configurations other
    # than simple/english reject loudly.
    i = 0
    while i < len(toks):
        low = toks[i].lower() if is_ident(toks[i]) else None
        if (
            low in ("to_tsvector", "to_tsquery", "plainto_tsquery")
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            close = match_close(toks, i + 1)
            args = split_top(toks[i + 2 : close])
            if len(args) == 2 and len(args[0]) == 1 and is_string(args[0][0]):
                cfg = args[0][0].strip("'").lower().split(".")[-1]
                from greengage_spark.functions.snowball import LANGS

                if cfg == "english" or cfg in LANGS:
                    if low == "to_tsvector":
                        if cfg == "english":
                            toks[i : close + 1] = (
                                ["__gg_tsv_en", "("] + args[1] + [")"]
                            )
                        else:
                            toks[i : close + 1] = (
                                ["__gg_tsv_cfg", "(", f"'{cfg}'", ","]
                                + args[1] + [")"]
                            )
                    elif len(args[1]) == 1 and is_string(args[1][0]):
                        from greengage_spark.functions.textsearch import (
                            stem_tsquery,
                        )

                        body = args[1][0][1:-1].replace("''", "'")
                        stemmed = stem_tsquery(
                            body,
                            plain=(low == "plainto_tsquery"),
                            config=cfg,
                        )
                        esc = stemmed.replace("'", "''")
                        toks[i : close + 1] = [
                            "to_tsquery", "(", f"'{esc}'", ")"
                        ]
                    else:
                        raise NotImplementedError(
                            f"{low}({cfg!r}, q): q must be a literal "
                            "(the snowball dictionary runs at plan time)"
                        )
                elif cfg != "simple":
                    raise NotImplementedError(
                        f"text search configuration {cfg!r}: 'simple', "
                        "'english', and the snowball configs "
                        "(french/german/spanish/russian/danish/"
                        "norwegian/swedish/italian/portuguese/dutch) "
                        "are implemented"
                    )
        elif (
            low == "ts_lexize"
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            # ts_lexize(dict, token) (ts_utils.c): the english_stem /
            # simple dictionaries; literal tokens fold at plan time
            close = match_close(toks, i + 1)
            args = split_top(toks[i + 2 : close])
            if (
                len(args) == 2
                and len(args[0]) == 1
                and is_string(args[0][0])
                and len(args[1]) == 1
                and is_string(args[1][0])
            ):
                dname = args[0][0].strip("'").lower().split(".")[-1]
                word = args[1][0][1:-1].replace("''", "'").lower()
                if dname == "english_stem":
                    from greengage_spark.functions.snowball_en import (
                        STOPWORDS,
                        stem,
                    )

                    lex = [] if word in STOPWORDS else [stem(word)]
                elif dname == "simple":
                    lex = [word]
                elif dname.endswith("_stem") and dname[:-5] in __import__(
                    "greengage_spark.functions.snowball",
                    fromlist=["LANGS"],
                ).LANGS:
                    from greengage_spark.functions.snowball import lexize

                    k = lexize(dname[:-5], word)
                    lex = [] if k is None else [k]
                else:
                    from greengage_spark.functions import tsdicts

                    if dname in tsdicts.REGISTRY:
                        lex = tsdicts.lexize(dname, word)
                        if lex is None:
                            # PG: no match is NULL, distinct from the
                            # all-filtered empty array
                            toks[i : close + 1] = tokenize(
                                "CAST(NULL AS ARRAY<STRING>)"
                            )
                            i += 1
                            continue
                    else:
                        raise NotImplementedError(
                            f"ts_lexize dictionary {dname!r}: simple, "
                            "english_stem, the snowball <lang>_stem "
                            "dictionaries, and CREATE TEXT SEARCH "
                            "DICTIONARY intdict/xsyn templates are "
                            "implemented"
                        )
                items = ", ".join(
                    "'" + x.replace("'", "''") + "'" for x in lex
                )
                toks[i : close + 1] = tokenize(f"array({items})")
            else:
                raise NotImplementedError(
                    "ts_lexize(dict, token): both arguments must be "
                    "literals (plan-time dictionary lookup)"
                )
        i += 1

    def _drop_cfg(args: list[list[str]]) -> list[list[str]]:
        if len(args) >= 2 and len(args[0]) == 1 and is_string(args[0][0]):
            return args[1:]
        return args

    def _unwrap_call(arg: list[str]):
        if (
            len(arg) >= 3
            and is_ident(arg[0])
            and arg[1] == "("
            and match_close(arg, 1) == len(arg) - 1
        ):
            return arg[0].lower(), split_top(arg[2:-1])
        return None, None

    def _query_literal(arg: list[str]) -> str | None:
        """to_tsquery/plainto_tsquery('q') or a bare 'q' literal → token."""
        fn, inner = _unwrap_call(arg)
        if fn in ("to_tsquery", "plainto_tsquery"):
            inner = _drop_cfg(inner)
            if len(inner) == 1 and len(inner[0]) == 1 and is_string(inner[0][0]):
                return inner[0][0]
            return None
        if len(arg) == 1 and is_string(arg[0]):
            return arg[0]
        return None

    def _tsq_arg_text(arg: list[str]) -> str | None:
        """A tsquery-valued literal argument in any spelling —
        to_tsquery('...'), plainto_tsquery('...'), 'lit'::tsquery, bare
        'lit' — normalized to to_tsquery input text (plainto lexemes
        joined with &)."""
        if (
            len(arg) == 3
            and is_string(arg[0])
            and arg[1] == "::"
            and is_ident(arg[2])
            and arg[2].lower() == "tsquery"
        ):
            return arg[0].strip("'")
        fn, inner = _unwrap_call(arg)
        if fn in ("to_tsquery", "plainto_tsquery"):
            inner = _drop_cfg(inner)
            if len(inner) == 1 and len(inner[0]) == 1 and is_string(inner[0][0]):
                body = inner[0][0].strip("'")
                if fn == "plainto_tsquery":
                    lex = [t for t in re.split(r"[^a-z0-9]+", body.lower()) if t]
                    return " & ".join(lex)
                return body
            return None
        if len(arg) == 1 and is_string(arg[0]):
            return arg[0].strip("'")
        return None

    # ts_rewrite(query, target, substitute) with literal tsquery args
    # (tsquery_rewrite.c:280 tsquery_rewrite_query) — evaluated at plan
    # time over the canonical tree machinery; nested calls resolve
    # innermost-first.  The result re-emits as to_tsquery('...') so a
    # following @@ compiles it, and the scalar-position fallback below
    # renders it in PG display form.
    changed = True
    while changed:
        changed = False
        i = 0
        while i < len(toks):
            if (
                is_ident(toks[i])
                and toks[i].lower() == "ts_rewrite"
                and i + 1 < len(toks)
                and toks[i + 1] == "("
            ):
                close = match_close(toks, i + 1)
                args = split_top(toks[i + 2 : close])
                if len(args) == 3:
                    parts = [_tsq_arg_text(a) for a in args]
                    if all(p is not None for p in parts):
                        from greengage_spark.functions.textsearch import (
                            ts_rewrite_literal,
                        )

                        res = ts_rewrite_literal(*parts)
                        toks[i : close + 1] = [
                            "to_tsquery", "(", f"'{res}'", ")"
                        ]
                    else:
                        # non-literal argument(s): per-row rewrite via the
                        # pandas UDF (pg_sql registers it on sight)
                        q, t, s = (
                            f"CAST(({join_tokens(a)}) AS STRING)"
                            for a in args
                        )
                        toks[i : close + 1] = tokenize(
                            f"pg_ts_rewrite3({q}, {t}, {s})"
                        )
                    changed = True
                    i += 1
                    continue
                if len(args) == 2:
                    # the literal-SELECT form was folded by
                    # fold_ts_rewrite_select (pg_sql) before this pass ran
                    raise NotImplementedError(
                        "ts_rewrite(query, select_text): the SELECT text "
                        "must be a string literal — it is executed on the "
                        "driver like PG's SPI cursor, so a non-literal "
                        "second argument is out of the subset"
                    )
            i += 1

    # ts_rank_cd / ts_headline FIRST — their to_tsvector args must reach
    # the pandas UDF as raw text, not the lexeme-array lowering below
    # (tsrank.c calc_rank_cd; wparser_def.c prsd_headline)
    i = 0
    while i < len(toks):
        low = toks[i].lower() if is_ident(toks[i]) else None
        if low in ("ts_rank_cd", "ts_rank", "ts_headline") and i + 1 < len(toks) and toks[i + 1] == "(":
            close = match_close(toks, i + 1)
            args = split_top(toks[i + 2 : close])
            if low == "ts_headline":
                # [config,] document, query [, options] — config and
                # options disambiguate by position (ts_headline has 2-4
                # args; a 3-arg call is (cfg, doc, q) when arg0 is a bare
                # literal and arg2 a tsquery, else (doc, q, opts))
                opts = "''"
                hl_cfg = "'simple'"
                if args and len(args[0]) == 1 and is_string(args[0][0]):
                    _c = args[0][0].strip("'").lower().split(".")[-1]
                    from greengage_spark.functions.snowball import LANGS

                    if _c == "english" or _c in LANGS:
                        # stemmed config: match STEMMED document tokens,
                        # wrap the original words (wparser_def.c
                        # hlparsetext runs the dictionary chain over the
                        # document)
                        hl_cfg = f"'{_c}'"
                if len(args) == 4:
                    opts = args[3][0]
                    args = args[1:3]
                elif len(args) == 3:
                    # (cfg, doc, query) only when the LAST arg is an
                    # explicit to_tsquery()/plainto_tsquery() call — a
                    # bare trailing literal is the options string
                    last_fn, _ = _unwrap_call(args[2])
                    if last_fn in ("to_tsquery", "plainto_tsquery"):
                        args = args[1:]
                    else:
                        opts = args[2][0]
                        args = args[:2]
                q = _query_literal(args[1]) if len(args) == 2 else None
                if q is None:
                    raise NotImplementedError(
                        "ts_headline(text, to_tsquery('...')) needs a "
                        "literal query"
                    )
                if hl_cfg == "'simple'":
                    toks[i : close + 1] = (
                        ["pg_ts_headline", "(", "("] + args[0]
                        + [")", ",", q, ",", opts, ")"]
                    )
                else:
                    toks[i : close + 1] = (
                        ["pg_ts_headline_cfg", "(", "("] + args[0]
                        + [")", ",", q, ",", opts, ",", hl_cfg, ")"]
                    )
                i += 1
                continue
            # tsrank.c ts_rank_cd forms: ([weights,] tsv, q [, method]).
            # A leading '{d,c,b,a}' float4[] literal (or lowered
            # ARRAY(...) of numeric literals) overrides {D,C,B,A}; a
            # trailing integer literal is the normalization bitmask.
            weights_lit = "NULL"
            if len(args) in (3, 4):
                a0 = args[0]
                nums = None
                if (
                    len(a0) == 1
                    and is_string(a0[0])
                    and a0[0].strip("'").lstrip().startswith("{")
                ):
                    nums = [
                        x.strip()
                        for x in a0[0].strip("'").strip().strip("{}").split(",")
                    ]
                elif a0 and is_ident(a0[0]) and a0[0].lower() == "array":
                    nums = [
                        t for t in a0
                        if re.match(r"^-?[\d.]+[dD]?$", t)
                    ]
                    nums = [n.rstrip("dD") for n in nums]
                if nums is not None:
                    if not all(
                        re.match(r"^-?[\d.]+$", n) for n in nums
                    ):
                        raise NotImplementedError(
                            "ts_rank_cd weights must be a numeric "
                            "array literal"
                        )
                    weights_lit = "'[" + ",".join(nums) + "]'"
                    args = args[1:]
            method_lit = "0"
            if len(args) == 3:
                last = args[2]
                if len(last) == 1 and re.match(r"^\d+$", last[0]):
                    method_lit = last[0]
                    args = args[:2]
                else:
                    raise NotImplementedError(
                        "ts_rank_cd normalization must be an integer "
                        "literal"
                    )
            if len(args) != 2:
                raise NotImplementedError(
                    "ts_rank_cd([weights,] tsvector, tsquery "
                    "[, normalization]) — argument shape not recognized"
                )
            q = _query_literal(args[1])
            if q is None:
                raise NotImplementedError(
                    "ts_rank_cd needs a literal to_tsquery('...') argument"
                )
            fn, inner = _unwrap_call(args[0])
            weight = "'D'"
            stripped = False
            if fn == "setweight" and len(inner) == 2 and is_string(inner[1][0]):
                weight = inner[1][0]
                fn, inner = _unwrap_call(inner[0])
            if fn == "strip":
                if low == "ts_rank_cd":
                    # stripped tsvectors carry no positions: cover rank 0
                    toks[i : close + 1] = tokenize("CAST(0.0 AS DOUBLE)")
                    i += 1
                    continue
                # plain ts_rank ranks stripped entries at the POSNULL
                # pseudo-position (tsrank.c POSNULL)
                stripped = True
                fn, inner = _unwrap_call(inner[0])
            if fn not in ("to_tsvector", "__gg_tsv_en", "__gg_tsv_cfg"):
                raise NotImplementedError(
                    f"{low} subset: to_tsvector(x) / setweight(...) / "
                    "strip(...) vector arguments"
                )
            if fn == "__gg_tsv_en":
                cfg_lit = "'english'"
            elif fn == "__gg_tsv_cfg":
                cfg_lit = inner[0][0]  # the spliced config literal
                inner = inner[1:]
            else:
                cfg_lit = "'simple'"
            inner = _drop_cfg(inner)
            if low == "ts_rank":
                toks[i : close + 1] = (
                    ["pg_ts_rank_txt", "(", "CAST", "(", "("]
                    + inner[0]
                    + [")", "AS", "STRING", ")", ",", q, ",", weight, ","]
                    + tokenize(
                        f"{weights_lit}, {method_lit}, "
                        f"{'true' if stripped else 'false'}, {cfg_lit}"
                    )
                    + [")"]
                )
            elif (
                weights_lit == "NULL"
                and method_lit == "0"
                and cfg_lit == "'simple'"
            ):
                toks[i : close + 1] = (
                    ["pg_ts_rank_cd", "(", "CAST", "(", "("]
                    + inner[0]
                    + [")", "AS", "STRING", ")", ",", q, ",", weight, ")"]
                )
            else:
                toks[i : close + 1] = (
                    ["pg_ts_rank_cd_full", "(", "CAST", "(", "("]
                    + inner[0]
                    + [")", "AS", "STRING", ")", ",", q, ",", weight, ","]
                    + tokenize(f"{weights_lit}, {method_lit}, {cfg_lit}")
                    + [")"]
                )
            i += 1
            continue
        i += 1

    # to_tsvector calls (drop an optional leading 'simple' config arg);
    # the english marker lowers to the Arrow-batched snowball UDF
    i = 0
    while i < len(toks):
        low = toks[i].lower() if is_ident(toks[i]) else None
        if (
            low in ("to_tsvector", "__gg_tsv_en", "__gg_tsv_cfg")
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            close = match_close(toks, i + 1)
            args = split_top(toks[i + 2 : close])
            cfg_arg = None
            if len(args) == 2 and is_string(args[0][0]):
                cfg_arg = args[0][0]
                args = args[1:]
            if len(args) == 1:
                if low == "__gg_tsv_en":
                    toks[i : close + 1] = (
                        ["pg_to_tsvector_en", "(", "CAST", "(", "("]
                        + args[0]
                        + [")", "AS", "STRING", ")", ")"]
                    )
                elif low == "__gg_tsv_cfg":
                    toks[i : close + 1] = (
                        ["pg_to_tsvector_cfg", "(", cfg_arg, ",",
                         "CAST", "(", "("]
                        + args[0]
                        + [")", "AS", "STRING", ")", ")"]
                    )
                else:
                    toks[i : close + 1] = _tsv(args[0])
            # non-literal config args fall through untouched (fails
            # loudly at analysis rather than silently mis-tokenizing)
        i += 1
    # infix @@ with a literal-query RHS
    i = 0
    while i + 1 < len(toks):
        if toks[i] == "@" and toks[i + 1] == "@":
            ls = operand_start(toks, i - 1) if i else i
            j = i + 2
            if (
                ls < i
                and j + 1 < len(toks)
                and is_ident(toks[j])
                and toks[j].lower() in ("plainto_tsquery", "to_tsquery")
                and toks[j + 1] == "("
            ):
                close = match_close(toks, j + 1)
                qargs = split_top(toks[j + 2 : close])
                if len(qargs) == 2 and is_string(qargs[0][0]):
                    qargs = qargs[1:]
                if len(qargs) == 1 and len(qargs[0]) == 1 and is_string(
                    qargs[0][0]
                ):
                    tsv = " ".join(toks[ls:i])
                    q = qargs[0][0].strip("'")

                    def _sql(node) -> str:
                        k = node[0]
                        if k == "LEX":
                            return f"array_contains ( {tsv} , '{node[1]}' )"
                        if k == "NOT":
                            return f"( NOT {_sql(node[1])} )"
                        op = "AND" if k == "AND" else "OR"
                        return f"( {_sql(node[1])} {op} {_sql(node[2])} )"

                    if toks[j].lower() == "plainto_tsquery":
                        lex = [
                            t
                            for t in re.split(r"[^a-z0-9]+", q.lower())
                            if t
                        ]
                        # an empty tsquery matches NOTHING in PG
                        # (tsquery.c TS_execute on an empty tree)
                        sql = " AND ".join(
                            f"array_contains ( {tsv} , '{t}' )" for t in lex
                        ) or "FALSE"
                        sql = f"( {sql} )"
                    elif not q.strip():
                        # empty tsquery matches NOTHING (TS_execute)
                        sql = "FALSE"
                    else:
                        sql = _sql(_tsq_parse(q))
                    toks[ls : close + 1] = tokenize(sql)
                    i = ls
                    continue
        i += 1
    # scalar-position to_tsquery('lit') / plainto_tsquery('lit') left
    # after the @@ pass render to PG's tsquery display text — the form
    # psql prints for SELECT to_tsquery(...) / SELECT ts_rewrite(...)
    from greengage_spark.functions.textsearch import (
        ts_rewrite_parse,
        tsq_render,
    )

    i = 0
    while i < len(toks):
        if (
            is_ident(toks[i])
            and toks[i].lower() in ("to_tsquery", "plainto_tsquery")
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            close = match_close(toks, i + 1)
            args = _drop_cfg(split_top(toks[i + 2 : close]))
            if len(args) == 1 and len(args[0]) == 1 and is_string(args[0][0]):
                body = args[0][0].strip("'")
                if toks[i].lower() == "plainto_tsquery":
                    lex = [
                        t for t in re.split(r"[^a-z0-9]+", body.lower()) if t
                    ]
                    body = " & ".join(lex)
                txt = tsq_render(ts_rewrite_parse(body), quoted=True)
                esc = txt.replace("'", "''")
                toks[i : close + 1] = [f"'{esc}'"]
        elif (
            is_string(toks[i])
            and i + 2 < len(toks)
            and toks[i + 1] == "::"
            and toks[i + 2].lower() == "tsquery"
        ):
            # scalar 'a & b'::tsquery left after the @@ pass: render the
            # PG display form, same as the to_tsquery('lit') branch above
            body = toks[i][1:-1].replace("''", "'")
            txt = tsq_render(ts_rewrite_parse(body), quoted=True)
            esc = txt.replace("'", "''")
            toks[i : i + 3] = [f"'{esc}'"]
        i += 1
    return toks


_EARTH_FN_ARITY = {
    "ll_to_earth": 2, "earth_distance": 2, "earth_box": 2,
    "sec_to_gc": 1, "gc_to_sec": 1, "latitude": 1, "longitude": 1,
    "cube_distance": 2,
}


def _pass_earthdistance(toks: list[str]) -> list[str]:
    """contrib/earthdistance cube half (earthdistance--1.0.sql:9-78;
    emitters in functions/earthdist.py — earth = array<double>[3],
    earth_box = array<double>[6]).

    1. the radius-search idiom ``expr <@ earth_box(...)`` lowers to the
       cube point-in-box predicate (bounding-box prefilter; the exact
       verify is an earth_distance comparison, both map-only);
    2. earth()/ll_to_earth/earth_distance/earth_box/latitude/longitude/
       sec_to_gc/gc_to_sec/cube_distance calls expand to Column
       templates — outermost-first, emitted arg text re-expands on
       subsequent sweeps.

    Runs before _pass_geometry (its ``<@>`` miles operator is the point
    half of the extension and keeps its own lowering) and before the
    array-ops pass so this ``<@`` never reads as array containment.
    """
    if not any(
        is_ident(t) and (t.lower() in _EARTH_FN_ARITY or t.lower() == "earth")
        for t in toks
    ):
        return toks
    from greengage_spark.functions import earthdist as E

    # 1) `x <@ earth_box(...)` containment
    i = 0
    while i + 3 < len(toks):
        if (
            toks[i] == "<"
            and toks[i + 1] == "@"
            and is_ident(toks[i + 2])
            and toks[i + 2].lower() == "earth_box"
            and toks[i + 3] == "("
            and i > 0
        ):
            close = match_close(toks, i + 3)
            lstart = operand_start(toks, i - 1)
            left = toks[lstart:i]
            box = toks[i + 2 : close + 1]
            toks[lstart : close + 1] = (
                ["__gg_earth_contains", "("] + left + [","] + box + [")"]
            )
            i = lstart
            continue
        i += 1

    # 2) function expansion sweeps — INNERMOST first, each expansion
    # spliced as ONE opaque token (the emitted `->` lambdas must never
    # reach the json-ops pass; same single-token trick _pass_geometry
    # uses).  An outer call expands on a later sweep once its args hold
    # only opaque tokens.
    def _has_earth_call(span: list[str]) -> bool:
        return any(
            is_ident(x)
            and (
                x.lower() in _EARTH_FN_ARITY
                or x.lower() in ("earth", "__gg_earth_contains")
            )
            for x in span
        )

    changed = True
    while changed:
        changed = False
        i = 0
        while i < len(toks):
            t = toks[i].lower() if is_ident(toks[i]) else None
            if (
                t == "earth"
                and i + 2 < len(toks)
                and toks[i + 1] == "("
                and toks[i + 2] == ")"
            ):
                toks[i : i + 3] = [E.earth_sql()]
                changed = True
                i += 1
                continue
            if (
                t in _EARTH_FN_ARITY or t == "__gg_earth_contains"
            ) and i + 1 < len(toks) and toks[i + 1] == "(":
                close = match_close(toks, i + 1)
                args = split_top(toks[i + 2 : close])
                arity = 2 if t == "__gg_earth_contains" else _EARTH_FN_ARITY[t]
                if len(args) == arity and not _has_earth_call(
                    toks[i + 2 : close]
                ):
                    fn = (
                        E.earth_contains_sql
                        if t == "__gg_earth_contains"
                        else getattr(E, f"{t}_sql")
                    )
                    toks[i : close + 1] = [
                        "(" + fn(*[join_tokens(a) for a in args]) + ")"
                    ]
                    changed = True
                i += 1
                continue
            i += 1
    return toks


def _pass_trgm_ops(toks: list[str]) -> list[str]:
    """pg_trgm operators (trgm_op.c): ``a % b`` (similar within the
    pg_trgm.similarity_threshold limit) and ``a <-> b`` (1 -
    similarity).  `%` doubles as modulo and `<->` as geometric distance,
    so the trigram reading applies only when an operand is a plain
    string literal (the `name % 'search term'` idiom); the limit is the
    __gg_trgm_limit__ marker pg_sql substitutes with the session value
    (set_limit/show_limit)."""

    def _is_plain_string(span: list[str]) -> bool:
        return len(span) == 1 and is_string(span[0])

    i = 0
    while i < len(toks):
        op = None
        oplen = 0
        if toks[i] == "%":
            op, oplen = "pct", 1
        elif (
            i + 1 < len(toks)
            and (toks[i], toks[i + 1]) == ("<", "->")
        ):
            op, oplen = "dist", 2
        if op is None or i == 0 or i + oplen >= len(toks):
            i += 1
            continue
        lstart = operand_start(toks, i - 1)
        rend = _geo_right_end(toks, i + oplen)
        if rend is None:
            i += 1
            continue
        left = toks[lstart:i]
        right = toks[i + oplen : rend + 1]
        def _is_number(span: list[str]) -> bool:
            return len(span) == 1 and re.match(r"^-?[\d.]+$", span[0])

        if not (_is_plain_string(left) or _is_plain_string(right)):
            i += 1
            continue
        # `'5' % 2`: PG coerces the unknown literal to int → modulo
        if _is_number(left) or _is_number(right):
            i += 1
            continue
        ls, rs = " ".join(left), " ".join(right)
        if op == "pct":
            new = f"( similarity ( {ls} , {rs} ) >= __gg_trgm_limit__ )"
        else:
            new = f"( 1 - similarity ( {ls} , {rs} ) )"
        toks[lstart : rend + 1] = tokenize(new)
        i = lstart + 1
    # show_limit() → the marker (cast keeps float4 shape)
    return rewrite_calls(
        toks,
        {"show_limit"},
        lambda _, args: None if args else tokenize("CAST ( __gg_trgm_limit__ AS FLOAT )"),
    )


def _pass_prefix_math_ops(toks: list[str]) -> list[str]:
    """PG prefix math operators (float.c): ``|/ x`` square root,
    ``||/ x`` cube root, ``@ x`` absolute value."""
    i = 0
    while i < len(toks):
        fn = {"|/": "sqrt", "||/": "cbrt", "@": "abs"}.get(toks[i])
        if fn is not None and not (
            toks[i] == "@"
            and (
                (i + 1 < len(toks) and toks[i + 1] in (">", "@"))
                # <@ containment: leave both tokens so the statement
                # fails loudly at parse instead of computing `< abs(y)`
                or (i > 0 and toks[i - 1] in ("@", "<"))
            )
        ):
            e = operand_end(toks, _after_sign(toks, i + 1)) + 1
            toks[i:e] = [fn, "("] + toks[i + 1 : e] + [")"]
        i += 1
    return toks


def _pass_factorial(toks: list[str]) -> list[str]:
    """PG factorial operators (int.c numeric_fac): postfix ``n !`` and
    prefix ``!! n`` → factorial(n).  ``!=`` is a single token, so a bare
    ``!`` here is always the operator."""
    i = 0
    while i < len(toks):
        if toks[i] == "!":
            if i + 1 < len(toks) and toks[i + 1] == "!":
                # prefix !!
                e = operand_end(toks, _after_sign(toks, i + 2)) + 1
                toks[i:e] = (
                    ["factorial", "("] + toks[i + 2 : e] + [")"]
                )
            else:
                s = operand_start(toks, i - 1) if i else i
                if s < i:
                    toks[s : i + 1] = (
                        ["factorial", "("] + toks[s:i] + [")"]
                    )
        i += 1
    return toks


def _pass_float_int_cast_round(toks: list[str]) -> list[str]:
    """PG float→integer casts round half-even (rint); Spark truncates.
    The operand's float-ness is only visible syntactically for chained
    casts — ``CAST(CAST(x AS FLOAT) AS BIGINT)`` — so wrap those in
    bround() (half-even, matching rint).  Bare column casts keep Spark
    semantics (documented divergence: column types are invisible at
    transpile time)."""
    i = 0
    while i + 1 < len(toks):
        if toks[i].upper() == "CAST" and toks[i + 1] == "(":
            close = match_close(toks, i + 1)
            if (
                close - 2 >= 0
                and toks[close - 1].upper() in ("INT", "SMALLINT", "BIGINT", "TINYINT")
                and toks[close - 2].upper() == "AS"
                and toks[i + 2].upper() == "CAST"
            ):
                inner_close = match_close(toks, i + 3)
                if (
                    toks[inner_close - 1].upper() in ("FLOAT", "DOUBLE", "REAL")
                    and inner_close == close - 3
                ):
                    toks[i + 2 : close - 2] = (
                        ["bround", "("] + toks[i + 2 : close - 2] + [")"]
                    )
        i += 1
    return toks


def _pass_group_by_aliases(toks: list[str]) -> list[str]:
    """PG resolves output-column aliases inside GROUP BY — including inside
    CUBE/ROLLUP/GROUPING SETS elements (parse_clause.c
    findTargetlistEntrySQL92); Spark and DuckDB only resolve aliases in a
    plain GROUP BY list.  When a grouping extension is present, substitute
    each alias with its parenthesized defining expression."""
    i = 0
    while i < len(toks):
        if not (is_ident(toks[i]) and toks[i].lower() == "select"):
            i += 1
            continue
        end = _gb_scope_end(toks, i)
        # tlist span and alias map (depth-0 AS <ident>)
        tl_start = i + 1
        if tl_start < end and is_ident(toks[tl_start]) and toks[tl_start].lower() == "distinct":
            tl_start += 1
        aliases: dict[str, list[str]] = {}
        item_st = tl_start
        tl_end = end
        for j, t in top_level(toks, tl_start):
            if j >= end:
                break
            if t == ",":
                item_st = j + 1
            elif is_ident(t):
                low = t.lower()
                if low in _TARGETLIST_END:
                    tl_end = j
                    break
                if (
                    low == "as"
                    and j + 1 < end
                    and is_ident(toks[j + 1])
                    and j > item_st
                ):
                    aliases[toks[j + 1].lower()] = toks[item_st:j]
        if not aliases:
            i += 1
            continue
        # locate a GROUP BY clause with a grouping extension
        gb_start = gb_end = None
        for j, t in top_level(toks, tl_end):
            if j >= end:
                break
            low = t.lower() if is_ident(t) else None
            if low == "group" and j + 1 < end and toks[j + 1].lower() == "by":
                gb_start = j + 2
            elif gb_start is not None and low in (
                "having", "order", "limit", "offset", "window",
            ):
                gb_end = j
                break
        if gb_start is None:
            i += 1
            continue
        gb_end = gb_end if gb_end is not None else end
        region = toks[gb_start:gb_end]
        has_ext = any(
            is_ident(t)
            and t.lower() in ("cube", "rollup")
            and k + 1 < len(region)
            and region[k + 1] == "("
            or (
                is_ident(t)
                and t.lower() == "grouping"
                and k + 1 < len(region)
                and is_ident(region[k + 1])
                and region[k + 1].lower() == "sets"
            )
            for k, t in enumerate(region)
        )
        if not has_ext:
            i += 1
            continue
        new_region: list[str] = []
        for k, t in enumerate(region):
            low = t.lower() if is_ident(t) else None
            prev = region[k - 1] if k else None
            nxt = region[k + 1] if k + 1 < len(region) else None
            if (
                low in aliases
                and prev != "."
                and nxt not in (".", "(")
            ):
                new_region += ["("] + aliases[low] + [")"]
            else:
                new_region.append(t)
        toks[gb_start:gb_end] = new_region
        i += 1
    return toks


def _pass_group_extensions(toks: list[str], target: str = "spark") -> list[str]:
    """Greenplum grouping-extension semantics missing from Spark/DuckDB
    (plangroupext.c:45-77 canonical grouping-set representation):

    * ``GROUPING(a, b, …)`` multi-argument form → the PG bitmask
      (rightmost arg = least-significant bit, parse_agg.c) composed from
      single-argument ``grouping()`` calls, which Spark and DuckDB share.
    * ``GROUP_ID()`` (plangroupext.c duplicate-set numbering): duplicate
      grouping sets produce identical rows, so GROUP_ID() assigns 0..m-1
      within each duplicate family.  With no duplicate sets it folds to 0.
      With duplicates the statement is restructured: the source is
      cross-joined with a one-column id table of 0..max(m)-1, ``__gg_gid``
      joins every (deduplicated) grouping set, and a HAVING conjunct keeps
      ``__gg_gid < multiplicity(set)``, the set identified by its
      grouping() bitmask.  Each (group, gid) cell sees every input row
      exactly once, so aggregates — including DISTINCT-qualified ones —
      are unchanged.

    Spark and DuckDB both natively expand concatenated CUBE/ROLLUP/
    GROUPING SETS cross products and preserve duplicate sets (verified),
    so statements using neither GROUP_ID() nor multi-arg GROUPING() pass
    through untouched.  ``target`` selects the id-table spelling
    (Spark ``explode(sequence())`` / DuckDB ``unnest(range())``) so the
    same rewrite can build the DuckDB oracle query.
    """
    i = 0
    while i < len(toks):
        if not (is_ident(toks[i]) and toks[i].lower() == "select"):
            i += 1
            continue
        end = _gb_scope_end(toks, i)
        # ---- locate this scope's depth-0 GROUP BY clause
        gb_start = gb_end = having_at = having_end = from_end = None
        from_kw = tail_at = None
        for j, t in top_level(toks, i + 1):
            if j >= end:
                break
            if is_ident(t):
                low = t.lower()
                if low == "group" and j + 1 < end and toks[j + 1].lower() == "by":
                    if from_end is None:
                        from_end = j
                    gb_start = j + 2
                    continue
                if low == "from" and from_kw is None:
                    from_kw = j
                if low == "where" and from_end is None:
                    from_end = j
                if gb_start is not None and gb_end is None and low in (
                    "having", "order", "limit", "offset", "window",
                ):
                    gb_end = j
                if low == "having":
                    having_at = j
                if having_at is not None and having_end is None and low in (
                    "order", "limit", "offset", "window",
                ):
                    having_end = j
                if (
                    gb_start is not None
                    and tail_at is None
                    and low in ("order", "limit", "offset", "window")
                ):
                    tail_at = j
        if gb_start is None:
            i += 1
            continue
        gb_end = gb_end if gb_end is not None else end
        having_end = having_end if having_end is not None else end
        items = [it for it in split_top(toks[gb_start:gb_end]) if it]
        # PG gram.y group_elem: a parenthesized expression list in GROUP BY
        # is a composite grouping element — GROUP BY (a, b) ≡ GROUP BY a, b.
        # Spark parses it as a struct expression, so flatten depth-0
        # composite items (scalar subqueries excepted); applied unless the
        # whole clause is replaced by the GROUP_ID()/dedup machinery below.
        flatten_edits: list[tuple[int, int, list[str]]] = []
        st, spans = gb_start, []
        for p, t in top_level(toks, gb_start):
            if p >= gb_end:
                break
            if t == ",":
                spans.append((st, p))
                st = p + 1
        spans.append((st, gb_end))
        for s, e in spans:
            if (
                e > s + 1
                and toks[s] == "("
                and match_close(toks, s) == e - 1
                and not (
                    is_ident(toks[s + 1]) and toks[s + 1].lower() == "select"
                )
            ):
                flatten_edits.append((s, e, toks[s + 1 : e - 1]))
        has_ext = any(
            len(it) >= 2
            and is_ident(it[0])
            and (
                (it[0].lower() in ("cube", "rollup") and it[1] == "(")
                or (
                    it[0].lower() == "grouping"
                    and is_ident(it[1])
                    and it[1].lower() == "sets"
                )
            )
            for it in items
        )
        if not has_ext:
            for s, e, repl in sorted(flatten_edits, reverse=True):
                toks[s:e] = repl
            i += 1
            continue
        # ---- expand to the full cross-product list of grouping sets
        per_item = [_gb_expand_item(it) for it in items]
        sets: list[list[list[str]]] = [[]]
        for opts in per_item:
            sets = [s + o for s in sets for o in opts]
        # dedup exprs within a set (grouping by (pn, pn) ≡ by pn)
        norm_sets: list[tuple[tuple[str, ...], list[list[str]]]] = []
        for s in sets:
            seen: dict[str, list[str]] = {}
            for e in s:
                seen.setdefault(_gb_norm(e), e)
            norm_sets.append((tuple(sorted(seen)), list(seen.values())))
        mult: dict[tuple[str, ...], int] = {}
        reps: dict[tuple[str, ...], list[list[str]]] = {}
        for key, exprs in norm_sets:
            mult[key] = mult.get(key, 0) + 1
            reps.setdefault(key, exprs)
        # ordered union of grouped exprs across all sets
        u_keys: list[str] = []
        u_exprs: list[list[str]] = []
        for _, exprs in norm_sets:
            for e in exprs:
                k = _gb_norm(e)
                if k not in u_keys:
                    u_keys.append(k)
                    u_exprs.append(e)
        gid_sites = _gb_call_sites(toks, i + 1, end, ("group_id",))
        grouping_sites = _gb_call_sites(toks, i + 1, end, ("grouping",))
        # keep only multi-arg GROUPING( ) calls (not GROUPING SETS)
        multi_grouping = []
        for s in grouping_sites:
            close = match_close(toks, s + 1)
            args = split_top(toks[s + 2 : close])
            if len(args) > 1:
                multi_grouping.append((s, close, args))
        has_dups = any(m > 1 for m in mult.values())
        # SELECT DISTINCT + duplicate sets + no GROUP_ID(): duplicates
        # cannot affect the output (they produce identical rows that
        # DISTINCT collapses), so emit the deduplicated GROUPING SETS —
        # plangroupext.c's canonicalization; also keeps the Expand factor
        # at the distinct-set count (mdqa cross products reach >14k raw
        # sets, which OOMs DuckDB and overflows codegen method limits)
        select_distinct = (
            i + 1 < len(toks)
            and is_ident(toks[i + 1])
            and toks[i + 1].lower() == "distinct"
        )
        need_dedup = select_distinct and has_dups and not gid_sites

        def _in_having(p: int) -> bool:
            return having_at is not None and having_at <= p < having_end

        having_calls = any(_in_having(s) for s in gid_sites + grouping_sites)
        if (
            not gid_sites
            and not multi_grouping
            and not need_dedup
            and not having_calls
            and not (has_dups and not select_distinct)
        ):
            for s, e, repl in sorted(flatten_edits, reverse=True):
                toks[s:e] = repl
            i += 1
            continue

        def _grouping_bitmask(args: list[list[str]]) -> list[str]:
            n = len(args)
            out = ["("]
            for k, a in enumerate(args):
                if k:
                    out.append("+")
                out += ["CAST", "(", "grouping", "("] + list(a) + [
                    ")", "AS", "INT", ")",
                ]
                w = 1 << (n - 1 - k)
                if w > 1:
                    out += ["*", str(w)]
            out.append(")")
            return out

        def _rewrite_local(body: list[str], gid_repl: list[str]) -> list[str]:
            body = list(body)
            for s in reversed(_gb_call_sites(body, 0, len(body), ("group_id",))):
                close = match_close(body, s + 1)
                body[s : close + 1] = list(gid_repl)
            for s in reversed(_gb_call_sites(body, 0, len(body), ("grouping",))):
                close = match_close(body, s + 1)
                args = split_top(body[s + 2 : close])
                if len(args) > 1:
                    body[s : close + 1] = _grouping_bitmask(args)
            return body

        def _gid_edit(s: int, repl1: list[str]) -> tuple[int, int, list[str]]:
            close = match_close(toks, s + 1)
            bare = (toks[s - 1] in (",",) or (
                is_ident(toks[s - 1])
                and toks[s - 1].lower() in ("select", "distinct")
            )) and (
                close + 1 >= end
                or toks[close + 1] == ","
                or (
                    is_ident(toks[close + 1])
                    and toks[close + 1].lower() in _TARGETLIST_END
                )
            )
            repl = repl1 + ["AS", "group_id"] if bare else list(repl1)
            return (s, close + 1, repl)

        # A GROUPING()/GROUP_ID() call inside HAVING needs the wrap too:
        # Spark resolves HAVING against the aggregate OUTPUT, so grouping()
        # over a column the select list aliased (or omitted) fails there —
        # legal in the select list, hence the keep-flag restructure.
        #
        # The gid table is needed whenever duplicate sets must survive:
        # GROUP_ID() is referenced, or the query lacks SELECT DISTINCT (so
        # PG emits the duplicate rows).  Expanding the deduplicated sets ×
        # a gid join bounds the Expand factor at the distinct-set count —
        # mdqa cross products reach >14k raw sets, which OOMs a native
        # expansion in either engine.
        need_gidtab = has_dups and (bool(gid_sites) or not select_distinct)
        # Wrap the statement (keep-flag + outer WHERE) when duplicate-set
        # numbering needs the gid table, or when HAVING uses grouping
        # functions.  Carrying the flag through DISTINCT commutes with
        # PG's HAVING-then-DISTINCT order: rows identical except the flag
        # collapse to at most one kept + one dropped.
        need_wrap = need_gidtab or having_calls
        gid_repl = ["__gg_gid"] if need_gidtab else ["0"]

        def _emit_sets(extra_gid: bool) -> list[str]:
            out = ["GROUPING", "SETS", "("]
            for k, key in enumerate(reps):
                if k:
                    out.append(",")
                out.append("(")
                for x, e in enumerate(reps[key]):
                    if x:
                        out.append(",")
                    out += e
                out.append(")")
            out.append(")")
            if extra_gid:
                out += [",", "__gg_gid"]
            return out

        gb_replaced = need_dedup or need_gidtab
        edits: list[tuple[int, int, list[str]]] = []  # (start, end, repl)

        def _in_moved(p: int) -> bool:
            if not need_wrap:
                return False
            return _in_having(p) or (
                tail_at is not None and tail_at <= p < end
            )

        for s, close, args in multi_grouping:
            if not _in_moved(s):
                edits.append((s, close + 1, _grouping_bitmask(args)))
        for s in gid_sites:
            if not _in_moved(s):
                edits.append(_gid_edit(s, gid_repl))
        if need_dedup:
            edits.append((gb_start, gb_end, _emit_sets(False)))
        if need_gidtab:
            maxm = max(mult.values())
            edits.append((gb_start, gb_end, _emit_sets(True)))
            # FROM: cross-join the gid table
            if target == "duck":
                dup = ["(", "SELECT", "unnest", "(", "range", "(", "0", ",",
                       str(maxm), ")", ")", "AS", "__gg_gid", ")", "__gg_dup"]
            else:
                dup = ["(", "SELECT", "explode", "(", "sequence", "(", "0",
                       ",", str(maxm - 1), ")", ")", "AS", "__gg_gid", ")",
                       "__gg_dup"]
            assert from_end is not None
            edits.append((from_end, from_end, [","] + dup))
        if need_wrap:
            keep: list[str] = []
            if need_gidtab:
                # __gg_gid < multiplicity(set), the set identified by its
                # grouping() bitmask over the union of grouped exprs
                # (a lone duplicated empty set has no exprs: mask ≡ 0)
                mask_expr = _grouping_bitmask(u_exprs) if u_exprs else ["0"]
                keep = ["__gg_gid", "<", "CASE"] + mask_expr
                n = len(u_keys)
                for key, m in mult.items():
                    if m > 1:
                        mask = sum(
                            1 << (n - 1 - x)
                            for x, uk in enumerate(u_keys)
                            if uk not in key
                        )
                        keep += ["WHEN", str(mask), "THEN", str(m)]
                keep += ["ELSE", "1", "END"]
            if having_at is not None:
                body = _rewrite_local(
                    toks[having_at + 1 : having_end], gid_repl
                )
                keep = (
                    ["("] + body + [")", "AND"] + keep if keep
                    else ["("] + body + [")"]
                )
                edits.append((having_at, having_end, []))
            assert from_kw is not None
            edits.append(
                (from_kw, from_kw,
                 [",", "("] + keep + [")", "AS", "__gg_keep"])
            )
            # wrap: SELECT * EXCEPT(__gg_keep) FROM ( … ) WHERE __gg_keep,
            # moving any ORDER BY/LIMIT tail to the outer query
            excl = "EXCLUDE" if target == "duck" else "EXCEPT"
            tail: list[str] = []
            if tail_at is not None:
                tail = _rewrite_local(toks[tail_at:end], ["group_id"])
                edits.append((tail_at, end, []))
            edits.append(
                (i, i,
                 ["SELECT", "*", excl, "(", "__gg_keep", ")", "FROM", "("])
            )
            edits.append(
                (end, end, [")", "__gg_q", "WHERE", "__gg_keep"] + tail)
            )
        if not gb_replaced:
            edits += flatten_edits
        for s, e, repl in sorted(edits, reverse=True):
            toks[s:e] = repl
        i += 1
    return toks


def duck_grouping_sql(sql: str) -> str:
    """The DuckDB-oracle twin of ``_pass_group_extensions`` — same rewrite
    with DuckDB spellings, applied to otherwise-verbatim PG SQL (DuckDB
    natively shares PG's grouping-extension expansion and multi-arg
    GROUPING bitmask; only GROUP_ID() needs the rewrite)."""
    toks = tokenize(sql)
    toks = _pass_group_by_empty(toks)
    toks = _pass_group_by_aliases(toks)
    toks = _pass_group_extensions(toks, target="duck")
    # GROUPING()/GROUP_ID() under a plain (extension-free) GROUP BY fold
    # to 0 (plangroupext.c) — DuckDB rejects them there just like Spark
    toks = _pass_grouping_plain(toks)
    return join_tokens(toks)


def _pass_decode(toks: list[str]) -> list[str]:
    """Oracle-style DECODE(expr, search, result …[, default]) (Greenplum
    parse-time sugar, reference decode_expr.sql) → searched CASE with
    null-safe matching: DECODE treats NULL as equal to NULL, so each arm
    compares with ``<=>``.  Two-argument decode(data, format) is PG's
    binary decode (encode.c) and is left untouched."""
    i = 0
    while i + 1 < len(toks):
        if not (
            is_ident(toks[i]) and toks[i].lower() == "decode" and toks[i + 1] == "("
        ):
            i += 1
            continue
        close = match_close(toks, i + 1)
        args = split_top(toks[i + 2 : close])
        if len(args) < 3:
            i += 1
            continue
        test = ["("] + args[0] + [")"]
        pairs, default = args[1:], None
        if len(pairs) % 2 == 1:
            default = pairs[-1]
            pairs = pairs[:-1]
        out = ["case"]
        for k in range(0, len(pairs), 2):
            out += ["when"] + test + ["<=>", "("] + pairs[k] + [")", "then"] + pairs[k + 1]
        if default is not None:
            out += ["else"] + default
        out += ["end"]
        toks = toks[:i] + out + toks[close + 1 :]
        # rescan at i: nested DECODEs inside args are still ahead
    return toks


def _case_segments(toks: list[str], start: int):
    """Split a CASE body (tokens after ``case`` at ``start``) into
    (testexpr, [(when_toks, then_toks)], else_toks, end_idx), honoring
    nested parens and nested CASE…END."""
    test: list[str] = []
    whens: list[tuple[list[str], list[str]]] = []
    else_toks: list[str] | None = None
    when: list[str] | None = None
    kind, seg_start, nested = "test", start, 0
    for k, t in top_level(toks, start):
        low = t.lower() if is_ident(t) else t
        if low == "case":
            nested += 1
        elif nested and low == "end":
            nested -= 1
        elif not nested and low in ("when", "then", "else", "end"):
            seg = toks[seg_start:k]
            if kind == "test":
                test = seg
            elif kind == "when":
                when = seg
            elif kind == "then":
                whens.append((when or [], seg))
                when = None
            else:
                else_toks = seg
            if when is not None and low != "then":
                whens.append((when, []))
                when = None
            if low == "end":
                return test, whens, else_toks, k
            kind, seg_start = low, k + 1
    raise ValueError("CASE without END")


def _pass_case_notdistinct(toks: list[str]) -> list[str]:
    """Greenplum grammar extension ``CASE x WHEN IS NOT DISTINCT FROM y
    THEN …`` (gram.y when_clause; reference case_gp.sql) — a simple CASE
    whose arms may match null-safely.  Rewritten to a searched CASE:
    extension arms compare with ``<=>``, plain arms with ``=`` (PG simple
    CASE semantics).  Only fires when the extension syntax is present."""
    i = 0
    while i < len(toks):
        if not (is_ident(toks[i]) and toks[i].lower() == "case"):
            i += 1
            continue
        nxt = toks[i + 1] if i + 1 < len(toks) else None
        if nxt is None or (is_ident(nxt) and nxt.lower() in ("when", "end")):
            i += 1
            continue
        test, whens, else_toks, end_idx = _case_segments(toks, i + 1)
        has_ext = any(
            len(w) >= 4
            and all(is_ident(w[k]) for k in range(4))
            and [w[0].lower(), w[1].lower(), w[2].lower(), w[3].lower()]
            == ["is", "not", "distinct", "from"]
            for w, _ in whens
        )
        if not has_ext:
            i += 1
            continue
        out = ["case"]
        for w, th in whens:
            if [x.lower() for x in w[:4]] == ["is", "not", "distinct", "from"]:
                out += (
                    ["when", "("] + test + [")", "<=>", "("] + w[4:] + [")", "then"] + th
                )
            else:
                out += ["when", "("] + test + [")", "=", "("] + w + [")", "then"] + th
        if else_toks is not None:
            out += ["else"] + else_toks
        out += ["end"]
        toks = toks[:i] + out + toks[end_idx + 1 :]
        i += 1
    return toks


def _pass_array_constructor(toks: list[str]) -> list[str]:
    """PG ARRAY[…] constructor (gram.y ARRAY '[' expr_list ']') → Spark
    array(…).  Brackets may nest (ARRAY[ARRAY[1],ARRAY[2]]): each pass of
    the scan converts the outermost occurrence and rescans."""
    i = 0
    while i + 1 < len(toks):
        if (
            is_ident(toks[i])
            and toks[i].lower() == "array"
            and toks[i + 1] == "["
        ):
            close = match_close(toks, i + 1)
            # multi-dim sugar ARRAY[[1,2],[3,4]] (gram.y array_expr_list
            # without the ARRAY keyword on inner rows): a '[' at element
            # position is an implicit nested constructor; a '[' after an
            # operand is a subscript and stays for the subscript pass
            inner: list[str] = []
            prev: str | None = None
            stack: list[str] = []
            for t in toks[i + 2 : close]:
                if t == "[":
                    if prev is not None and is_ident(prev) and prev.lower() == "array":
                        inner.append("(")
                        stack.append("ctor")
                    elif prev is None or prev in (",", "(") or (
                        is_ident(prev) and prev.lower() == "array"
                    ):
                        inner += ["array", "("]
                        stack.append("ctor")
                    else:
                        inner.append(t)
                        stack.append("sub")
                elif t == "]":
                    inner.append(")" if stack and stack.pop() == "ctor" else t)
                else:
                    inner.append(t)
                prev = t
            toks = (
                toks[:i]
                + ["array", "("] + inner + [")"]
                + toks[close + 1 :]
            )
        i += 1
    return toks


def _pass_values_partial_alias(toks: list[str]) -> list[str]:
    """PG allows a table alias naming only a prefix of a VALUES list's
    columns — the rest keep their default columnN names (gram.y
    alias_clause; rte names per addRangeTableEntryForValues).  Spark
    requires full arity: pad the alias list."""
    i = 0
    while i + 1 < len(toks):
        if (
            toks[i] == "("
            and is_ident(toks[i + 1])
            and toks[i + 1].lower() == "values"
            and i + 2 < len(toks)
            and toks[i + 2] == "("
        ):
            vclose = match_close(toks, i)
            arity = 1 + sum(t == "," for _, t in top_level(toks, i + 3))
            k = vclose + 1
            if k < len(toks) and is_ident(toks[k]) and toks[k].lower() == "as":
                k += 1
            if (
                k + 1 < len(toks)
                and is_ident(toks[k])
                and toks[k + 1] == "("
            ):
                aclose = match_close(toks, k + 1)
                cols = [t for t in toks[k + 2 : aclose] if t != ","]
                if 0 < len(cols) < arity:
                    pad = []
                    for n in range(len(cols) + 1, arity + 1):
                        pad += [",", f"column{n}"]
                    toks = toks[:aclose] + pad + toks[aclose:]
        i += 1
    return toks


_FROM_END_KEYWORDS = {
    "where", "group", "order", "having", "limit", "offset", "union",
    "intersect", "except", "returning", "window", "on", "using",
}


def _srf_item_to_array(item: list[str]) -> list[str]:
    """One rows_from_item (unnest(a) / generate_series(x,y[,s])) → the
    array-expression tokens that hold its output sequence."""
    if not item or item[1:2] != ["("]:
        raise NotImplementedError(
            "ROWS FROM items must be unnest(...) or generate_series(...)"
        )
    fn = item[0].lower()
    close = match_close(item, 1)
    args = item[2:close]
    if fn == "unnest":
        return args  # may itself be multiple arrays (split by caller)
    if fn == "generate_series":
        return ["sequence", "("] + args + [")"]
    raise NotImplementedError(f"ROWS FROM item {fn}() not supported")


def _pass_unnest_from(toks: list[str]) -> list[str]:
    """FROM-position SRF forms beyond the single-array unnest rename:

    * multi-argument ``unnest(a, b, ...)`` and ``ROWS FROM (unnest(a),
      unnest(b), generate_series(...))`` (gram.y rows_from_item;
      nodeFunctionscan.c zips the functions' outputs, NULL-padding to
      the longest) → ``inline(arrays_zip(...))`` — identical semantics;
    * non-initial comma FROM items get LATERAL: PG set-returning FROM
      items are implicitly lateral (parse_clause.c), Spark requires the
      keyword for correlated table-function arguments.
    """
    out = list(toks)
    i = 0
    depth = 0
    in_from: dict[int, bool] = {}
    while i < len(out):
        t = out[i]
        if t == "(":
            depth += 1
        elif t == ")":
            in_from.pop(depth, None)
            depth -= 1
        elif is_ident(t):
            low = t.lower()
            if low == "from" and (i == 0 or out[i - 1].lower() != "rows"):
                in_from[depth] = True
            elif low == "select" or low in _FROM_END_KEYWORDS:
                in_from[depth] = False
        if not in_from.get(depth):
            i += 1
            continue
        after_comma = i > 0 and out[i - 1] == ","
        after_from = i > 0 and is_ident(out[i - 1]) and out[i - 1].lower() == "from"
        if not (after_comma or after_from) or not is_ident(t):
            i += 1
            continue
        low = t.lower()
        if low == "unnest" and i + 1 < len(out) and out[i + 1] == "(":
            # bare-alias SRF item: PG's `FROM unnest(x) AS u` names BOTH
            # the table and the column u (parse_relation.c); Spark's
            # explode would call the column `col`, so re-emit the
            # explicit column list u(u)
            close = match_close(out, i + 1)
            j = close + 1
            if j < len(out) and is_ident(out[j]) and out[j].lower() == "as":
                j += 1
            if (
                j < len(out)
                and is_ident(out[j])
                and out[j].lower() not in _FROM_END_KEYWORDS
                and out[j].lower()
                not in ("join", "left", "right", "full", "inner",
                        "cross", "lateral", "as", "with")
                and (j + 1 >= len(out) or out[j + 1] != "(")
            ):
                out[j + 1 : j + 1] = ["(", out[j], ")"]
        if (
            low == "rows"
            and i + 2 < len(out)
            and is_ident(out[i + 1])
            and out[i + 1].lower() == "from"
            and out[i + 2] == "("
        ):
            close = match_close(out, i + 2)
            arrays: list[list[str]] = []
            for item in split_top(out[i + 3 : close]):
                if item and is_ident(item[0]) and item[0].lower() == "unnest":
                    arrays.extend(split_top(_srf_item_to_array(item)))
                else:
                    arrays.append(_srf_item_to_array(item))
            repl = ["inline", "(", "arrays_zip", "("]
            for k, a in enumerate(arrays):
                repl += ([","] if k else []) + a
            repl += [")", ")"]
            if after_comma:
                repl = ["LATERAL"] + repl
            out[i : close + 1] = repl
            i += len(repl)
            continue
        if low == "unnest" and i + 1 < len(out) and out[i + 1] == "(":
            close = match_close(out, i + 1)
            args = split_top(out[i + 2 : close])
            if len(args) > 1:
                repl = ["inline", "(", "arrays_zip", "("]
                for k, a in enumerate(args):
                    repl += ([","] if k else []) + a
                repl += [")", ")"]
                out[i : close + 1] = repl
            elif (md := _md_array_depth(args[0])) >= 2:
                # multi-dim arrays unnest to SCALARS in storage order
                # (arrayfuncs.c array_unnest walks the flat data array)
                inner = list(args[0])
                for _ in range(md - 1):
                    inner = ["flatten", "("] + inner + [")"]
                repl = ["unnest", "("] + inner + [")"]
                out[i : close + 1] = repl
            else:
                repl = out[i : close + 1]
            if after_comma:
                out[i:i] = ["LATERAL"]
                i += 1
            i += len(repl)
            continue
        i += 1
    return out


def _pass_from_srf_items(toks: list[str]) -> list[str]:
    """generate_series as a non-initial comma-separated FROM item
    (nodeFunctionscan.c) → LATERAL subquery; the FROM-initial position is
    handled by the regex rewrites before tokenization.  LATERAL keeps
    correlated arguments legal in Spark (3.2+ lateral subqueries); a bare
    SRF alias names both the relation and the column (gram.y
    func_alias_clause)."""
    i = 0
    depth = 0
    in_from: dict[int, bool] = {}
    while i < len(toks):
        t = toks[i]
        if t == "(":
            depth += 1
        elif t == ")":
            in_from.pop(depth, None)
            depth -= 1
        elif is_ident(t):
            low = t.lower()
            if low == "from":
                in_from[depth] = True
            elif low == "select" or low in _FROM_END_KEYWORDS:
                in_from[depth] = False
        if (
            t == ","
            and in_from.get(depth)
            and i + 2 < len(toks)
            and is_ident(toks[i + 1])
            and toks[i + 1].lower() == "generate_series"
            and toks[i + 2] == "("
        ):
            close = match_close(toks, i + 2)
            args = toks[i + 3 : close]
            alias = None
            k = close + 1
            if k < len(toks) and is_ident(toks[k]):
                low = toks[k].lower()
                if low == "as" and k + 1 < len(toks) and is_ident(toks[k + 1]):
                    alias, k = toks[k + 1], k + 2
                elif low not in _FROM_END_KEYWORDS and low not in (
                    "join", "left", "right", "full", "inner", "cross",
                    "natural", "lateral",
                ):
                    alias, k = toks[k], k + 1
            name = alias or "generate_series"
            repl = (
                [",", "LATERAL", "(", "SELECT", "explode", "(", "sequence", "("]
                + args
                + [")", ")", "AS", name, ")", "AS", name]
            )
            toks = toks[:i] + repl + toks[k:]
            i += len(repl)
            continue
        i += 1
    return toks


def _pass_with_ordinality(toks: list[str]) -> list[str]:
    """``unnest(X) WITH ORDINALITY [AS t(v, ord)]`` (gram.y
    func_table WITH_LA ORDINALITY, PG 9.4) → a posexplode subquery:
    ordinality is the 1-based element position.  Default column names
    are PG's (``unnest``, ``ordinality``)."""
    while True:
        idx = next(
            (
                i
                for i, t in enumerate(toks)
                if is_ident(t)
                and t.lower() == "unnest"
                and i + 1 < len(toks)
                and toks[i + 1] == "("
            ),
            None,
        )
        if idx is None:
            return toks
        close = match_close(toks, idx + 1)
        if not (
            close + 2 < len(toks)
            and is_ident(toks[close + 1])
            and toks[close + 1].lower() == "with"
            and is_ident(toks[close + 2])
            and toks[close + 2].lower() == "ordinality"
        ):
            # plain unnest: the function rename pass handles it
            return _pass_with_ordinality_rest(toks, idx)
        args = toks[idx + 2 : close]
        k = close + 3
        alias, cols = "unnest_t", None
        if k < len(toks) and is_ident(toks[k]) and toks[k].lower() == "as":
            k += 1
        if k < len(toks) and is_ident(toks[k]) and toks[k].lower() not in _FROM_END_KEYWORDS:
            alias = toks[k]
            k += 1
            if k < len(toks) and toks[k] == "(":
                aclose = match_close(toks, k)
                cols = [c[0] for c in split_top(toks[k + 1 : aclose])]
                k = aclose + 1
        vcol, ocol = (cols + ["ordinality"])[:2] if cols else ("unnest", "ordinality")
        repl = (
            ["(", "SELECT", "__po_v", "AS", vcol, ",",
             "CAST", "(", "__po_p", "+", "1", "AS", "BIGINT", ")", "AS", ocol,
             "FROM", "(", "SELECT", "posexplode", "("] + args
            + [")", "AS", "(", "__po_p", ",", "__po_v", ")", ")", "__po", ")",
               "AS", alias]
        )
        toks = toks[:idx] + repl + toks[k:]


def _pass_with_ordinality_rest(toks: list[str], after: int) -> list[str]:
    """Continue scanning past a plain (no-ORDINALITY) unnest call."""
    head = toks[: after + 1]
    tail = _pass_with_ordinality(toks[after + 1 :])
    return head + tail


def _pass_single_grouping_set(toks: list[str]) -> list[str]:
    """``GROUP BY GROUPING SETS ((a, b))`` with exactly one non-empty set ≡
    ``GROUP BY a, b`` (PG parse_clause.c flattens it identically).  Spark
    keeps single-set GROUPING SETS as an Expand node and then refuses to
    ORDER BY a grouping column that is not in the select list — the plain
    GROUP BY form sorts fine (reference regress percentile.sql:92).
    Left untouched when the query calls grouping()/grouping_id(): those are
    only legal under an Expand, which the collapse would remove."""
    for j, t in enumerate(toks):
        if (
            is_ident(t)
            and t.lower() in ("grouping", "grouping_id")
            and j + 1 < len(toks)
            and toks[j + 1] == "("
        ):
            return toks
    i = 0
    while i + 2 < len(toks):
        if (
            is_ident(toks[i])
            and toks[i].lower() == "grouping"
            and is_ident(toks[i + 1])
            and toks[i + 1].lower() == "sets"
            and toks[i + 2] == "("
        ):
            close = match_close(toks, i + 2)
            sets = split_top(toks[i + 3 : close])
            if len(sets) == 1 and sets[0] and sets[0] != ["(", ")"]:
                inner = sets[0]
                if inner[0] == "(" and match_close(inner, 0) == len(inner) - 1:
                    inner = inner[1:-1]
                if inner:
                    toks = toks[:i] + inner + toks[close + 1 :]
                    i += len(inner)
                    continue
        i += 1
    return toks


_TARGETLIST_END = {
    "from", "where", "group", "having", "order", "limit", "offset",
    "union", "intersect", "except", "window", ";",
}


def _pass_targetlist_srf(toks: list[str]) -> list[str]:
    """generate_series in a SELECT targetlist (ExecTargetList SRF
    expansion) → column over an exploded-sequence FROM item.

    PG runs targetlist SRFs in lockstep; with identical arguments — the
    only form the reference's own suites use — that is exactly one
    sequence cross-joined into the FROM clause.  Differing arguments
    (LCM-period zipping) are rejected.  Only depth-0 occurrences are
    rewritten; each SELECT scope is handled independently."""
    out = list(toks)
    i = 0
    gen = 0
    while i < len(out):
        if not (is_ident(out[i]) and out[i].lower() == "select"):
            i += 1
            continue
        # targetlist span: depth-0 tokens until FROM / clause end
        occs: list[tuple[int, int]] = []  # (start, close) of each SRF call
        for j, t in top_level(out, i + 1):
            low = t.lower() if is_ident(t) else None
            if low in _TARGETLIST_END:
                break
            if low == "generate_series" and out[j + 1 : j + 2] == ["("]:
                occs.append((j, match_close(out, j + 1)))
        if not occs:
            i += 1
            continue
        arg_lists = [out[s + 2 : c] for s, c in occs]
        if any(a != arg_lists[0] for a in arg_lists[1:]):
            raise NotImplementedError(
                "targetlist SRFs with differing arguments (LCM zipping)"
            )
        args = arg_lists[0]
        col = f"__gs{gen}"
        gen += 1
        # replace calls right-to-left; name a bare top-level item like PG does
        for s, c in reversed(occs):
            bare = (s == i + 1 or out[s - 1] == ",") and (
                c + 1 >= len(out) or out[c + 1] == ","
                or (is_ident(out[c + 1]) and out[c + 1].lower() in _TARGETLIST_END)
                or out[c + 1] == ")"
            )
            repl = [col, "AS", "generate_series"] if bare else [col]
            out[s : c + 1] = repl
        item = ["(", "SELECT", "explode", "(", "sequence", "("] + list(args) + [
            ")", ")", "AS", col, ")", f"__gs_t{gen}",
        ]
        # locate this scope's FROM (depth-0); insert or synthesize it
        j = next(
            (j for j, t in top_level(out, i + 1)
             if t in CLOSE or is_ident(t) and t.lower() in (
                 "from", "where", "group", "having", "order", "limit",
                 "offset", "union", "intersect", "except", "window",
             )),
            len(out),
        )
        if j < len(out) and out[j].lower() == "from":
            out[j + 1 : j + 1] = item + [","]
        else:
            out[j:j] = ["FROM"] + item
        i += 1
    return out


def _pass_group_by_empty(toks: list[str]) -> list[str]:
    """Drop no-op ``()`` items from plain GROUP BY lists (gram.y grouping
    extension: ``GROUP BY (), cn`` ≡ ``GROUP BY cn``; a lone ``GROUP BY ()``
    ≡ no GROUP BY at all — reference regress olap_group.sql:14-29).
    ``GROUPING SETS ((), ...)`` is untouched: its parens sit at depth > 0."""
    i = 0
    while i < len(toks) - 1:
        if toks[i].lower() == "group" and toks[i + 1].lower() == "by":
            end = next(
                (j for j, t in top_level(toks, i + 2)
                 if t in CLOSE or t.lower() in (
                     "order", "having", "limit", "window",
                     "union", "intersect", "except", ";",
                 )),
                len(toks),
            )
            items = split_top(toks[i + 2 : end])
            kept = [it for it in items if it != ["(", ")"]]
            if not kept:  # lone () → scalar aggregate, drop GROUP BY
                del toks[i:end]
            elif len(kept) < len(items):
                toks[i + 2 : end] = [t for it in kept for t in [","] + it][1:]
        i += 1
    return toks


def _json_path_elem(tok: str) -> str:
    if is_string(tok):
        return tok.strip("'")
    return f"[{tok}]"


def _pass_json_ops(toks: list[str]) -> list[str]:
    # hstore ? key (hstore_op.c hstore_exists) — handled before the json
    # arrow family so `?` never reaches Spark (where it is invalid)
    i = 1
    while i < len(toks) - 1:
        if toks[i] == "?":
            start = operand_start(toks, i - 1)
            left = toks[start:i]
            if any(is_ident(t) and t.lower() == "hstore" for t in left):
                rend = operand_end(toks, i + 1)
                toks[start : rend + 1] = (
                    ["map_contains_key", "("] + left + [","]
                    + toks[i + 1 : rend + 1] + [")"]
                )
                i = start
                continue
        i += 1
    while True:
        idx = next((i for i, t in enumerate(toks) if t in ("->", "->>", "#>", "#>>")), None)
        if idx is None:
            return toks
        op = toks[idx]
        start = operand_start(toks, idx - 1)
        left = toks[start:idx]
        rhs = toks[idx + 1]
        if (
            op == "->"
            and any(is_ident(t) and t.lower() == "hstore" for t in left)
        ):
            # hstore -> key (hstore_op.c hstore_fetchval): the left
            # operand is MapType (the ::hstore cast already lowered to an
            # hstore(...) call), so fetch is element access, not json
            toks = (
                toks[:start]
                + ["try_element_at", "("] + left + [",", rhs, ")"]
                + toks[idx + 2 :]
            )
            continue
        if op in ("#>", "#>>"):
            if not is_string(rhs):
                raise ValueError("#> requires a '{a,b}' path literal")
            parts = rhs.strip("'").strip("{}").split(",")
            path = "$." + ".".join(p.strip() for p in parts)
        else:
            if is_string(rhs):
                path = "$." + rhs.strip("'")
            elif re.match(r"^\d+$", rhs):
                path = f"$[{rhs}]"
            else:
                raise ValueError(f"json operator needs a literal key, got {rhs!r}")
        # collapse an existing get_json_object(left, '$.a') chain into one path
        if (
            len(left) >= 4
            and left[0] == "get_json_object"
            and left[-1] == ")"
            and is_string(left[-2])
        ):
            base = left[:-2]
            prev_path = left[-2].strip("'")
            merged = prev_path + path[1:]  # drop the second '$'
            new = base + [f"'{merged}'", ")"]
        else:
            new = ["get_json_object", "("] + left + [",", f"'{path}'", ")"]
        toks = toks[:start] + new + toks[idx + 2 :]


def _pass_regex_ops(toks: list[str]) -> list[str]:
    def _is_infix(i: int) -> bool:
        # `~` in PREFIX position is bitwise NOT (int.c int4not), which
        # Spark spells the same — only infix `~` is the regex operator
        if toks[i] != "~":
            return True
        if i == 0:
            return False
        p = toks[i - 1]
        if p in (",", "(", "[") or not (
            is_ident(p) or is_string(p) or p in (")", "]")
            or p[:1].isdigit()
        ):
            return False
        return not (is_ident(p) and p.lower() in _KEYWORDS_NONOPERAND)

    while True:
        idx = next(
            (
                i
                for i, t in enumerate(toks)
                if t in ("~", "~*", "!~", "!~*") and _is_infix(i)
            ),
            None,
        )
        if idx is None:
            return toks
        op = toks[idx]
        start = operand_start(toks, idx - 1)
        left = toks[start:idx]
        rhs = toks[idx + 1]
        ci = op.endswith("*")
        neg = op.startswith("!")
        if ci:
            if is_string(rhs):
                body = rhs[2:-1] if rhs[0] in "eE" else rhs[1:-1]
                pat = ["'(?i)" + body + "'"]
            else:
                pat = ["concat", "(", "'(?i)'", ",", rhs, ")"]
        else:
            pat = [rhs]
        new = ["("] + left + ["RLIKE"] + pat + [")"]
        if neg:
            new = ["(", "NOT"] + new + [")"]
        toks = toks[:start] + new + toks[idx + 2 :]


_FUNC_RENAME = {
    "strpos": "instr",
    "char_length": "length",
    "character_length": "length",
    "octet_length": "octet_length",
    "btrim": "trim",
    "random": "rand",
    "gen_random_uuid": "uuid",  # pgcrypto gen_random_uuid → Spark uuid()
    # uuid-ossp.c:128 uuid_generate_v4 — random; Spark uuid() IS a v4
    "uuid_generate_v4": "uuid",
    "cardinality": "size",
    # string_agg(x, sep ORDER BY y) → listagg: Spark 4 supports the full
    # WITHIN GROUP / inline ORDER BY ordered-aggregate syntax natively
    "string_agg": "listagg",
    "array_to_string": "array_join",
    "unnest": "explode",
    "now": "current_timestamp",
    "clock_timestamp": "current_timestamp",
    "statement_timestamp": "current_timestamp",
    "transaction_timestamp": "current_timestamp",
    "json_array_length": "json_array_length",
    "array_append": "array_append",
    "array_cat": "concat",
    "array_position": "array_position",
    "ceiling": "ceil",
    # PG format() is printf-style (varlena format(); '%s'/'%I'/'%L')
    "format": "format_string",
}


# hstore (contrib/hstore/ → MapType) and IPv4 inet/cidr (network.c →
# the string representation map_pg_type assigns) function surfaces as
# inline Spark expression templates — pure codegen, keyed by (name,
# arity) so e.g. 2-arg hstore slice() never shadows Spark's 3-arg array
# slice().  {0}/{1} substitute the argument token text.
_IP2INT = (
    "aggregate(transform(split(split({0}, '/')[1], '[.]'), "
    "__p -> CAST(__p AS BIGINT)), CAST(0 AS BIGINT), "
    "(__a, __p) -> __a * 256 + __p)"
)
_MASKLEN = "CAST(coalesce(try_element_at(split({0}, '/'), 2), '32') AS INT)"
_MASKINT = (
    "(shiftleft(CAST(4294967295 AS BIGINT), 32 - " + _MASKLEN
    + ") & CAST(4294967295 AS BIGINT))"
)


def _int2ip(n: str) -> str:
    return (
        f"concat_ws('.', CAST((({n}) div 16777216) % 256 AS STRING), "
        f"CAST((({n}) div 65536) % 256 AS STRING), "
        f"CAST((({n}) div 256) % 256 AS STRING), "
        f"CAST(({n}) % 256 AS STRING))"
    )


_INLINE_FN_TEMPLATES: dict[tuple[str, int], str] = {
    # ---- hstore (hstore_op.c names) ----
    # hstore input parser (hstore_io.c hstore_in): 'k=>v, ...' with
    # optional "quoting"; NULL values stay NULL
    ("hstore", 1): (
        "transform_values(transform_keys("
        "str_to_map(CAST({0} AS STRING), '\\s*,\\s*', '\\s*=>\\s*'), "
        "(__k, __v) -> replace(trim(__k), '\"', '')), "
        "(__k, __v) -> CASE WHEN trim(__v) = 'NULL' THEN NULL "
        "ELSE replace(trim(__v), '\"', '') END)"
    ),
    ("hstore", 2): "map(CAST({0} AS STRING), CAST({1} AS STRING))",
    ("akeys", 1): "map_keys({0})",
    ("avals", 1): "map_values({0})",
    ("exist", 2): "map_contains_key({0}, {1})",
    ("defined", 2): "(try_element_at({0}, {1}) IS NOT NULL)",
    ("delete", 2): "map_filter({0}, (__k, __v) -> __k <> {1})",
    ("slice", 2): "map_filter({0}, (__k, __v) -> array_contains({1}, __k))",
    ("hstore_to_json", 1): "to_json({0})",
    # ---- inet/cidr, IPv4 (network.c; inet is a string 'a.b.c.d[/m]') ----
    ("host", 1): "split({0}, '/')[1]",
    ("masklen", 1): _MASKLEN,
    ("family", 1): "(CASE WHEN {0} LIKE '%:%' THEN 6 ELSE 4 END)",
    ("abbrev", 1): "CAST({0} AS STRING)",
    ("set_masklen", 2): "concat(split({0}, '/')[1], '/', CAST({1} AS STRING))",
    ("netmask", 1): _int2ip(_MASKINT),
    ("hostmask", 1): _int2ip("CAST(4294967295 AS BIGINT) ^ " + _MASKINT),
    ("network", 1): (
        "concat(" + _int2ip(_IP2INT + " & " + _MASKINT)
        + ", '/', CAST(" + _MASKLEN + " AS STRING))"
    ),
    ("broadcast", 1): _int2ip(
        "(" + _IP2INT + " & " + _MASKINT + ") | "
        "(CAST(4294967295 AS BIGINT) ^ " + _MASKINT + ")"
    ),
    # a << b / inet_contains: a's network bits under b's mask match b's
    ("inet_contained_by", 2): (
        "((" + _IP2INT.format("{0}") + " & " + _MASKINT.format("{1}")
        + ") = (" + _IP2INT.format("{1}") + " & " + _MASKINT.format("{1}")
        + ") AND " + _MASKLEN.format("{0}") + " > " + _MASKLEN.format("{1}") + ")"
    ),
    # a <<= b / network_subeq (network.c): first masklen(b) bits equal
    # AND masklen(a) >= masklen(b) — NOT text equality ('a/24' <<= 'b/24'
    # is true whenever they share the /24 network; round-7 advice)
    ("inet_contained_by_eq", 2): (
        "((" + _IP2INT.format("{0}") + " & " + _MASKINT.format("{1}")
        + ") = (" + _IP2INT.format("{1}") + " & " + _MASKINT.format("{1}")
        + ") AND " + _MASKLEN.format("{0}") + " >= " + _MASKLEN.format("{1}") + ")"
    ),
    ("inet_same_family", 2): (
        "((CASE WHEN {0} LIKE '%:%' THEN 6 ELSE 4 END) = "
        "(CASE WHEN {1} LIKE '%:%' THEN 6 ELSE 4 END))"
    ),
    # ---- uuid-ossp (uuid-ossp.c; RFC 4122) ----
    # v3/v5 are deterministic name-based digests: hash(ns_bytes || name),
    # then set the version nibble and the RFC variant bits — pure JVM
    # string surgery, bound once via the one-element transform idiom
    ("uuid_generate_v3", 2): (
        "element_at(transform(array("
        "md5(concat(unhex(replace(CAST(({0}) AS STRING), '-', '')), "
        "encode(CAST(({1}) AS STRING), 'utf-8')))"
        "), __h -> concat(substr(__h, 1, 8), '-', substr(__h, 9, 4), "
        "'-3', substr(__h, 14, 3), '-', "
        "lower(hex((CAST(conv(substr(__h, 17, 1), 16, 10) AS INT) % 4) + 8)), "
        "substr(__h, 18, 3), '-', substr(__h, 21, 12))), 1)"
    ),
    ("uuid_generate_v5", 2): (
        "element_at(transform(array("
        "sha1(concat(unhex(replace(CAST(({0}) AS STRING), '-', '')), "
        "encode(CAST(({1}) AS STRING), 'utf-8')))"
        "), __h -> concat(substr(__h, 1, 8), '-', substr(__h, 9, 4), "
        "'-5', substr(__h, 14, 3), '-', "
        "lower(hex((CAST(conv(substr(__h, 17, 1), 16, 10) AS INT) % 4) + 8)), "
        "substr(__h, 18, 3), '-', substr(__h, 21, 12))), 1)"
    ),
    ("uuid_nil", 0): "'00000000-0000-0000-0000-000000000000'",
    ("uuid_ns_dns", 0): "'6ba7b810-9dad-11d1-80b4-00c04fd430c8'",
    ("uuid_ns_url", 0): "'6ba7b811-9dad-11d1-80b4-00c04fd430c8'",
    ("uuid_ns_oid", 0): "'6ba7b812-9dad-11d1-80b4-00c04fd430c8'",
    ("uuid_ns_x500", 0): "'6ba7b814-9dad-11d1-80b4-00c04fd430c8'",
    ("uuid_generate_v1", 0): "pg_uuid_v1(false)",
    ("uuid_generate_v1mc", 0): "pg_uuid_v1(true)",
    # ---- identifier/literal quoting (quote.c; ruleutils.c quote_identifier:
    # quote only when not already a safe lowercase identifier) ----
    # || (strict in PG and Spark) instead of concat so the user-concat
    # NULL-skip rewrite in _pass_functions never touches the template's
    # own emission: quote_ident(NULL) must stay NULL, not become '""'
    ("quote_ident", 1): (
        "(CASE WHEN {0} RLIKE '^[a-z_][a-z0-9_]*$' THEN {0} "
        "ELSE ('\"' || replace({0}, '\"', '\"\"') || '\"') END)"
    ),
    # chr(39) = the quote char — spelled numerically so the PG-estring
    # quote-doubling pass can never reinterpret the template's own quotes
    ("quote_literal", 1): (
        "(chr(39) || replace(CAST({0} AS STRING), chr(39), "
        "repeat(chr(39), 2)) || chr(39))"
    ),
    ("quote_nullable", 1): (
        "(CASE WHEN ({0}) IS NULL THEN 'NULL' "
        "ELSE concat(chr(39), replace(CAST({0} AS STRING), chr(39), "
        "repeat(chr(39), 2)), chr(39)) END)"
    ),
    # ---- array mutation (arrayfuncs.c array_remove/array_replace, PG 9.3;
    # NULL-safe equality so array_remove(a, NULL) strips NULLs as PG does) ----
    ("array_remove", 2): "filter({0}, __e -> NOT equal_null(__e, ({1})))",
    ("array_replace", 3): (
        "transform({0}, __e -> CASE WHEN equal_null(__e, ({1})) "
        "THEN ({2}) ELSE __e END)"
    ),
    # array_lower/array_ndims are handled in _pass_functions directly —
    # they are dimension-aware (_md_array_fn) and must see the arg shape
    # PG arg order is (elem, arr); Spark's builtin is (arr, elem)
    ("array_prepend", 2): "array_prepend({1}, {0})",
    # ---- contrib/intarray (_int.sql surface; _int_op.c) ----
    ("idx", 2): "coalesce(array_position({0}, {1}), 0)",  # 0 when absent
    ("icount", 1): "size({0})",
    ("sort", 1): "array_sort({0})",
    ("sort_asc", 1): "array_sort({0})",
    ("sort_desc", 1): "reverse(array_sort({0}))",
    # uniq collapses ADJACENT duplicates only (like uniq(1))
    ("uniq", 1): (
        "filter({0}, (__ux, __ui) -> __ui = 0 "
        "OR __ux != element_at({0}, __ui))"
    ),
    ("subarray", 2): "slice({0}, {1}, size({0}))",
    ("subarray", 3): "slice({0}, {1}, {2})",
    # single-role session: every oid maps to the session user (acl.c)
    ("pg_get_userbyid", 1): "current_user()",
    # ---- contrib/sslinfo (sslinfo.c): this session is not a libpq TLS
    # connection, so the truthful answers are false/NULL (the same
    # values PG returns on a non-SSL connection)
    ("ssl_is_used", 0): "FALSE",
    ("ssl_version", 0): "CAST(NULL AS STRING)",
    ("ssl_cipher", 0): "CAST(NULL AS STRING)",
    ("ssl_client_cert_present", 0): "FALSE",
    ("ssl_client_serial", 0): "CAST(NULL AS DECIMAL(38,0))",
    ("ssl_client_dn", 0): "CAST(NULL AS STRING)",
    ("ssl_issuer_dn", 0): "CAST(NULL AS STRING)",
    ("ssl_client_dn_field", 1): "CAST(NULL AS STRING)",
    ("ssl_issuer_field", 1): "CAST(NULL AS STRING)",
    # ---- json.c json_object: text[] pairs / (keys, values) → json ----
    ("json_object", 1): (
        "to_json(map_from_arrays("
        "filter({0}, (__jx, __ji) -> __ji % 2 = 0), "
        "filter({0}, (__jx, __ji) -> __ji % 2 = 1)))"
    ),
    ("json_object", 2): "to_json(map_from_arrays({0}, {1}))",
    # ---- left/right with PG's negative-count semantics (varlena.c
    # text_left/text_right: -n = all but the last/first n) ----
    ("left", 2): (
        "(CASE WHEN ({1}) >= 0 THEN substring({0}, 1, ({1})) "
        "ELSE substring({0}, 1, greatest(length({0}) + ({1}), 0)) END)"
    ),
    ("right", 2): (
        # positive start only — the substr PG-clip guard in
        # _pass_functions re-rewrites any emitted negative start
        "(CASE WHEN ({1}) > 0 "
        "THEN substring({0}, greatest(length({0}) - ({1}) + 1, 1)) "
        "WHEN ({1}) = 0 THEN '' "
        "ELSE substring({0}, 1 - ({1})) END)"
    ),
    # ---- bytea byte accessors (varlena.c byteaGetByte/byteaSetByte) ----
    ("get_byte", 2): (
        "CAST(conv(substring(hex({0}), 2 * ({1}) + 1, 2), 16, 10) AS INT)"
    ),
    ("set_byte", 3): (
        "unhex(concat(substring(hex({0}), 1, 2 * ({1})), "
        "lpad(hex({2}), 2, '0'), substring(hex({0}), 2 * ({1}) + 3)))"
    ),
    # ---- contrib/pgcrypto digest (px.c): bytea out → binary ----
    ("digest_md5", 1): "unhex(md5({0}))",
    ("digest_sha1", 1): "unhex(sha1({0}))",
    # 1-D array_fill(value, ARRAY[n])
    ("array_fill", 2): (
        "transform(sequence(1, element_at(({1}), 1)), __x -> ({0}))"
    ),
    ("array_positions", 2): (
        "filter(transform(sequence(1, size({0})), "
        "__i -> CASE WHEN equal_null(element_at({0}, __i), ({1})) "
        "THEN __i END), __p -> __p IS NOT NULL)"
    ),
    # string_to_array (varlena.c text_to_array): delimiter is LITERAL
    # (\\Q..\\E regex-quotes it for Spark's regex split); '' input → {},
    # empty delimiter → whole string, NULL delimiter → per-char split —
    # the arrays.sql:425-438 battery verbatim
    ("string_to_array", 2): (
        "(CASE WHEN ({0}) IS NULL THEN NULL "
        "WHEN ({0}) = '' THEN CAST(array() AS ARRAY<STRING>) "
        "WHEN ({1}) IS NULL THEN split({0}, '') "
        "WHEN ({1}) = '' THEN array({0}) "
        "ELSE split({0}, concat('\\Q', {1}, '\\E')) END)"
    ),
    # 3-arg form: third arg is the NULL-string
    ("string_to_array", 3): (
        "transform("
        "(CASE WHEN ({0}) IS NULL THEN NULL "
        "WHEN ({0}) = '' THEN CAST(array() AS ARRAY<STRING>) "
        "WHEN ({1}) IS NULL THEN split({0}, '') "
        "WHEN ({1}) = '' THEN array({0}) "
        "ELSE split({0}, concat('\\Q', {1}, '\\E')) END), "
        "__x -> nullif(__x, {2}))"
    ),
    # 1-D arrays only (the repo's array model throughout)
    ("generate_subscripts", 2): "explode(sequence(1, size({0})))",
    # ---- numeric.c utility forms Spark lacks ----
    # scale(numeric): count of fractional digits in the canonical text form
    ("scale", 1): (
        "length(regexp_extract(CAST(({0}) AS STRING), '[.]([0-9]+)$', 1))"
    ),
    ("to_hex", 1): "lower(hex({0}))",
    # pg_sleep/setseed: session-side effects with no Spark analog —
    # typed NULL no-ops so scripts keep running (they return void)
    ("pg_sleep", 1): "(CASE WHEN ({0}) IS NULL THEN NULL END)",
    ("setseed", 1): "(CASE WHEN ({0}) IS NULL THEN NULL END)",
    # regexp_split_to_table = SETOF form of regexp_split_to_array
    # (adt/regexp.c); -1 keeps trailing empty fields like PG
    ("regexp_split_to_table", 2): "explode(split({0}, {1}, -1))",
    # pg_size_pretty (dbsize.c): unit steps at 10×1024 of the next unit,
    # half-up rounding at each division
    ("pg_size_pretty", 1): (
        "(CASE WHEN abs(CAST({0} AS BIGINT)) < 10240 "
        "THEN concat(CAST({0} AS BIGINT), ' bytes') "
        "WHEN abs((CAST({0} AS BIGINT) + 512) DIV 1024) < 10240 "
        "THEN concat((CAST({0} AS BIGINT) + 512) DIV 1024, ' kB') "
        "WHEN abs(((CAST({0} AS BIGINT) + 512) DIV 1024 + 512) DIV 1024) "
        "< 10240 THEN concat(((CAST({0} AS BIGINT) + 512) DIV 1024 + 512) "
        "DIV 1024, ' MB') "
        "WHEN abs((((CAST({0} AS BIGINT) + 512) DIV 1024 + 512) DIV 1024 "
        "+ 512) DIV 1024) < 10240 "
        "THEN concat((((CAST({0} AS BIGINT) + 512) DIV 1024 + 512) DIV 1024 "
        "+ 512) DIV 1024, ' GB') "
        "ELSE concat(((((CAST({0} AS BIGINT) + 512) DIV 1024 + 512) DIV 1024 "
        "+ 512) DIV 1024 + 512) DIV 1024, ' TB') END)"
    ),
    # ---- json SRFs (json.c/jsonfuncs.c PG 9.3/9.4) ----
    # elements via json-path index walk (works for any element type;
    # scalar strings come back unquoted — the _text semantics)
    ("json_array_elements_text", 1): (
        "explode(CASE WHEN json_array_length({0}) = 0 "
        "THEN CAST(array() AS ARRAY<STRING>) "
        "ELSE transform(sequence(0, json_array_length({0}) - 1), "
        "__i -> get_json_object({0}, concat('$[', __i, ']'))) END)"
    ),
    ("jsonb_array_elements_text", 1): (
        "explode(CASE WHEN json_array_length({0}) = 0 "
        "THEN CAST(array() AS ARRAY<STRING>) "
        "ELSE transform(sequence(0, json_array_length({0}) - 1), "
        "__i -> get_json_object({0}, concat('$[', __i, ']'))) END)"
    ),
    # keys sorted (jsonb semantics; json's appearance order is not
    # recoverable from Spark's map parse)
    ("json_object_keys", 1): (
        "explode(array_sort(map_keys(from_json({0}, 'map<string,string>'))))"
    ),
    ("jsonb_object_keys", 1): (
        "explode(array_sort(map_keys(from_json({0}, 'map<string,string>'))))"
    ),
    # (key, value) rows: exploding a map yields exactly PG's two columns
    ("json_each_text", 1): "explode(from_json({0}, 'map<string,string>'))",
    ("jsonb_each_text", 1): "explode(from_json({0}, 'map<string,string>'))",
    ("json_typeof", 1): (
        "(CASE WHEN ({0}) IS NULL THEN NULL "
        "WHEN trim({0}) LIKE '{{%' THEN 'object' "
        "WHEN trim({0}) LIKE '[%' THEN 'array' "
        "WHEN trim({0}) LIKE '\"%' THEN 'string' "
        "WHEN trim({0}) IN ('true', 'false') THEN 'boolean' "
        "WHEN trim({0}) = 'null' THEN 'null' ELSE 'number' END)"
    ),
    # ---- misc utils (utils/adt/misc.c PG 9.4+/9.6 additions) ----
    ("starts_with", 2): "startswith({0}, {1})",
    # parse_ident subset: split on dots, strip ident quoting (misc.c
    # parse_ident; invalid-identifier errors not reproduced)
    ("parse_ident", 1): (
        "transform(split(CAST({0} AS STRING), '[.]'), "
        "__x -> replace(trim(__x), '\"', ''))"
    ),
    # datetime.c: this engine has no 'infinity' datetimes, so every
    # non-NULL value is finite
    ("isfinite", 1): "(CASE WHEN ({0}) IS NULL THEN NULL ELSE TRUE END)",
    # ---- introspection (misc.c pgsql_version; format_type.c via typeof) ----
    ("version", 0): (
        "'PostgreSQL 9.4.26 (Greengage Database 6) on spark, "
        "64-bit'"
    ),
    ("pg_typeof", 1): (
        "(CASE WHEN typeof({0}) IN ('int', 'integer') THEN 'integer' "
        "WHEN typeof({0}) IN ('smallint', 'tinyint') THEN 'smallint' "
        "WHEN typeof({0}) = 'bigint' THEN 'bigint' "
        "WHEN typeof({0}) = 'string' THEN 'text' "
        "WHEN typeof({0}) = 'double' THEN 'double precision' "
        "WHEN typeof({0}) = 'float' THEN 'real' "
        "WHEN typeof({0}) = 'boolean' THEN 'boolean' "
        "WHEN typeof({0}) = 'date' THEN 'date' "
        "WHEN typeof({0}) = 'binary' THEN 'bytea' "
        "WHEN typeof({0}) LIKE 'timestamp_ntz%' "
        "THEN 'timestamp without time zone' "
        "WHEN typeof({0}) LIKE 'timestamp%' THEN 'timestamp with time zone' "
        "WHEN typeof({0}) LIKE 'decimal%' THEN 'numeric' "
        "WHEN typeof({0}) LIKE 'interval%' THEN 'interval' "
        "WHEN typeof({0}) = 'array<string>' THEN 'text[]' "
        "WHEN typeof({0}) IN ('array<int>', 'array<integer>') "
        "THEN 'integer[]' "
        "WHEN typeof({0}) = 'array<bigint>' THEN 'bigint[]' "
        "WHEN typeof({0}) = 'array<double>' THEN 'double precision[]' "
        "ELSE typeof({0}) END)"
    ),
    # ---- json composition aggregates (json.c json_agg/json_object_agg;
    # object keys render sorted — PG emits aggregation order, which is
    # partition-dependent, so the deterministic form is the scalable one) ----
    ("json_agg", 1): "to_json(collect_list({0}))",
    ("jsonb_agg", 1): "to_json(collect_list({0}))",
    ("json_object_agg", 2): (
        "to_json(map_from_entries(sort_array(collect_list("
        "struct(CAST({0} AS STRING), {1})))))"
    ),
    ("jsonb_object_agg", 2): (
        "to_json(map_from_entries(sort_array(collect_list("
        "struct(CAST({0} AS STRING), {1})))))"
    ),
    ("array_to_json", 1): "to_json({0})",
}


_FORMAT_CONV_RE = re.compile(
    r"%(?:(\d+)\$)?(-)?(\d+|\*(?:\d+\$)?)?([sIL%])"
)


def _lower_pg_format(args: list[list[str]]) -> list[str]:
    """Lower PG format() (varlena.c text_format: %s/%I/%L conversions,
    n$ positional refs, %% escape, [-][width] specifiers) to
    format_string with the conversion semantics moved into the argument
    expressions: %s coalesces NULL to '' (PG treats null as empty
    string), %I quote_ident's, %L quote_nullable's (renders NULL as
    unquoted NULL).

    Widths: a literal width maps straight onto the Java formatter's
    ``%[-]Ns`` (identical pad-don't-truncate semantics); a ``*`` /
    ``*n$`` width reads the width from an argument (negative =
    left-justify, NULL = 0, per text_format) and lowers to a
    lpad/rpad CASE since the Java formatter has no runtime widths."""
    fmt = args[0][0][1:-1]  # strip quotes
    out_fmt: list[str] = []
    out_args: list[list[str]] = []
    pos = 0
    next_seq = 1
    for m in _FORMAT_CONV_RE.finditer(fmt):
        between = fmt[pos : m.start()]
        if "%" in between.replace("%%", ""):
            raise ValueError(
                f"unrecognized format() type specifier in {fmt!r}"
            )
        out_fmt.append(between)
        pos = m.end()
        conv = m.group(4)
        flag, width = m.group(2), m.group(3)
        if conv == "%":
            if flag or width or m.group(1):
                raise ValueError(
                    "format(): %% accepts no flags, width, or position"
                )
            out_fmt.append("%%")
            continue

        def take(posref: str | None) -> list[str]:
            # n$ repositions the cursor; either way the next sequential
            # conversion continues from idx+1 (text_format's arg pointer)
            nonlocal next_seq
            idx = int(posref) if posref else next_seq
            next_seq = idx + 1
            if idx >= len(args):
                raise ValueError(
                    f"format() references argument {idx} but only "
                    f"{len(args) - 1} supplied"
                )
            return args[idx]

        # a '*' width consumes its argument BEFORE the value argument
        # (text_format reads the width first)
        width_arg = None
        if width and width.startswith("*"):
            width_arg = take(width[1:-1] if len(width) > 1 else None)
        a = take(m.group(1))
        if conv == "s":
            converted = (
                ["coalesce", "(", "CAST", "(", "("] + a
                + [")", "AS", "STRING", ")", ",", "''", ")"]
            )
        elif conv == "I":
            # PG errors on a NULL %I argument (text_format: "null values
            # cannot be formatted as an SQL identifier"); format_string
            # would render the literal "null" instead, so raise in-row
            converted = (
                ["quote_ident", "(", "coalesce", "(", "CAST", "(", "("] + a
                + [")", "AS", "STRING", ")", ",", "raise_error", "(",
                   "'null values cannot be formatted as an SQL identifier'",
                   ")", ")", ")"]
            )
        else:  # L
            converted = ["quote_nullable", "(", "("] + a + [")", ")"]
        if width_arg is not None:
            s = " ".join(converted)
            w = f"coalesce(CAST(({' '.join(width_arg)}) AS INT), 0)"
            left = "true" if flag else f"({w} < 0)"
            out_args.append(tokenize(
                f"(CASE WHEN length({s}) >= abs({w}) THEN {s} "
                f"WHEN {left} THEN rpad({s}, abs({w}), ' ') "
                f"ELSE lpad({s}, abs({w}), ' ') END)"
            ))
            out_fmt.append("%s")
        else:
            out_args.append(converted)
            # '-' without a width is a no-op in PG; Java's Formatter
            # rejects a bare '%-s', so drop the flag there
            out_fmt.append(
                f"%{flag or ''}{width}s" if width else "%s"
            )
    tail = fmt[pos:]
    if "%" in tail.replace("%%", ""):
        raise ValueError(
            f"unrecognized format() type specifier in {fmt!r}"
        )
    out_fmt.append(tail)
    new = ["format_string", "(", "'" + "".join(out_fmt) + "'"]
    for a in out_args:
        new += [","] + a
    return new + [")"]


def _lower_regexp_matches(args: list[list[str]]) -> list[str]:
    """Lower regexp_matches(s, pat [, flags]) — adt/regexp.c, SETOF
    text[] — to ``explode(<array of per-match group arrays>)``: zero
    rows when no match (PG's SETOF contract), one row without the 'g'
    flag, one row per match with it.  Spark accepts generators in the
    targetlist, which is where the reference's regress suites call it.
    Literal patterns only (group count must be known at plan time)."""
    pat_tok = args[1][0]
    if pat_tok[0] in "eE":  # E'...' escape-string prefix
        pat_tok = pat_tok[1:]
    pat = pat_tok[1:-1].replace("''", "'")
    flags = ""
    if len(args) == 3:
        if len(args[2]) != 1 or not is_string(args[2][0]):
            raise NotImplementedError("regexp_matches flags must be a literal")
        flags = args[2][0][1:-1]
        for f in flags:
            if f not in "gi":
                raise NotImplementedError(
                    f"regexp_matches flag {f!r} not supported (g, i)"
                )
    if "i" in flags:
        # pat_tok's E-prefix was already stripped above; keep the body
        # verbatim (don't lstrip pattern chars that happen to be e/E).
        pat_tok = "'(?i)" + pat_tok[1:]
    s = " ".join(args[0])
    ngroups = _count_capture_groups(pat)
    if ngroups == 0:
        all_matches = (
            f"transform(regexp_extract_all(({s}), {pat_tok}, 0), __m -> array(__m))"
        )
    else:
        elems = ", ".join(
            f"element_at(regexp_extract_all(({s}), {pat_tok}, {g}), __i)"
            for g in range(1, ngroups + 1)
        )
        all_matches = (
            f"transform(sequence(1, size(regexp_extract_all(({s}), {pat_tok}, 1))), "
            f"__i -> array({elems}))"
        )
    if "g" not in flags:
        all_matches = f"slice({all_matches}, 1, 1)"
    return tokenize(f"explode({all_matches})")


def _pass_collate_strip(toks: list[str]) -> list[str]:
    """Strip COLLATE clauses (gram.y a_expr COLLATE any_name): PG's "C"/
    "POSIX"/locale collations order by byte value, which is Spark's
    default UTF8_BINARY — same comparisons, so the clause drops.  Spark's
    own collation names are different and PG's would all be invalid."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        if (
            is_ident(toks[i])
            and toks[i].lower() == "collate"
            and i + 1 < len(toks)
            and (is_ident(toks[i + 1]) or toks[i + 1].startswith('"'))
        ):
            i += 2
            continue
        out.append(toks[i])
        i += 1
    return out


def _pass_like_escape_backslash(toks: list[str]) -> list[str]:
    """``LIKE 'p' ESCAPE '\\'`` — Spark's parser rejects a lone-backslash
    escape literal under escapedStringLiterals, so translate the PATTERN
    to use '#' as the escape character instead (like.c semantics
    preserved: escaped wildcards stay escaped, literal '#' doubles)."""
    i = 0
    while i + 2 < len(toks):
        if (
            is_ident(toks[i + 1])
            and toks[i + 1].lower() == "escape"
            and toks[i + 2] == "'\\'"
        ):
            if not is_string(toks[i]):
                raise NotImplementedError(
                    "LIKE ... ESCAPE '\\' needs a literal pattern here"
                )
            body = toks[i][1:-1]
            out = []
            j = 0
            while j < len(body):
                ch = body[j]
                if ch == "\\" and j + 1 < len(body):
                    out.append("#" + body[j + 1])
                    j += 2
                    continue
                out.append("##" if ch == "#" else ch)
                j += 1
            toks[i : i + 3] = ["'" + "".join(out) + "'", "ESCAPE", "'#'"]
        i += 1
    return toks


def _pass_like_op_spellings(toks: list[str]) -> list[str]:
    """PG operator spellings of LIKE (like.c: ``~~``, ``~~*``, ``!~~``,
    ``!~~*``): the lexer splits them into (~ ~), (~ ~*), (!~ ~), (!~ ~*)
    pairs.  Folded to LIKE/ILIKE only when the right operand looks like a
    pattern (string/ident/paren), so prefix bitwise-not chains such as
    ``~ ~ 5`` stay intact."""
    out = list(toks)
    i = 0
    while i < len(out) - 2:
        a, b, c = out[i], out[i + 1], out[i + 2]
        if (
            a in ("~", "!~")
            and b in ("~", "~*")
            and (is_string(c) or is_ident(c) or c == "(")
        ):
            repl = (["NOT"] if a == "!~" else []) + (
                ["ILIKE"] if b == "~*" else ["LIKE"]
            )
            out[i : i + 2] = repl
        i += 1
    return out


def _pass_between_symmetric(toks: list[str]) -> list[str]:
    """``a [NOT] BETWEEN SYMMETRIC b AND c`` (parse_expr.c
    transformAExpr AEXPR_BETWEEN_SYM: swap bounds when b > c) →
    ``a >= least(b,c) AND a <= greatest(b,c)``."""
    i = 1
    while i < len(toks) - 3:
        if not (
            is_ident(toks[i])
            and toks[i].lower() == "between"
            and is_ident(toks[i + 1])
            and toks[i + 1].lower() == "symmetric"
        ):
            i += 1
            continue
        neg = is_ident(toks[i - 1]) and toks[i - 1].lower() == "not"
        a_end = i - 2 if neg else i - 1
        lstart = operand_start(toks, a_end)
        j = next(
            (j for j, t in top_level(toks, i + 2)
             if is_ident(t) and t.lower() == "and"),
            len(toks),
        )
        cend = operand_end(toks, j + 1)
        a = " ".join(toks[lstart : a_end + 1])
        b = " ".join(toks[i + 2 : j])
        c = " ".join(toks[j + 1 : cend + 1])
        expr = (
            f"(({a}) >= least({b}, {c}) AND ({a}) <= greatest({b}, {c}))"
        )
        if neg:
            expr = f"(NOT {expr})"
        toks[lstart : cend + 1] = tokenize(expr)
        i = lstart + 1
    return toks


def _pass_lock_clauses(toks: list[str]) -> list[str]:
    """FOR UPDATE / FOR NO KEY UPDATE / FOR SHARE / FOR KEY SHARE
    [OF tables] [NOWAIT | SKIP LOCKED] (gram.y for_locking_item): row
    locks are no-ops under snapshot-isolated manifests — stripped."""
    i = 0
    while i < len(toks):
        if not (
            is_ident(toks[i])
            and toks[i].lower() == "for"
            and i + 1 < len(toks)
            and is_ident(toks[i + 1])
            and toks[i + 1].lower() in ("update", "share", "no", "key")
        ):
            i += 1
            continue
        low = toks[i + 1].lower()
        if low == "no":  # FOR NO KEY UPDATE
            k = i + 4
        elif low == "key":  # FOR KEY SHARE
            k = i + 3
        else:  # FOR UPDATE / FOR SHARE
            k = i + 2
        if k < len(toks) and is_ident(toks[k]) and toks[k].lower() == "of":
            k += 1
            while k < len(toks) and (
                (is_ident(toks[k]) and toks[k].lower() not in ("nowait", "skip"))
                or toks[k] in (",", ".")
            ):
                k += 1
        if k < len(toks) and is_ident(toks[k]) and toks[k].lower() == "nowait":
            k += 1
        elif (
            k + 1 < len(toks)
            and is_ident(toks[k])
            and toks[k].lower() == "skip"
            and toks[k + 1].lower() == "locked"
        ):
            k += 2
        toks[i:k] = []
    return toks


def _pass_fetch_first(toks: list[str]) -> list[str]:
    """ANSI ``FETCH FIRST|NEXT [n] ROW|ROWS ONLY`` → LIMIT n (gram.y
    limit_clause); the ``ROW|ROWS`` noise word after OFFSET n also
    drops."""
    i = 0
    while i < len(toks):
        if (
            is_ident(toks[i])
            and toks[i].lower() == "fetch"
            and i + 1 < len(toks)
            and is_ident(toks[i + 1])
            and toks[i + 1].lower() in ("first", "next")
        ):
            j = i + 2
            n = "1"
            if j < len(toks) and re.match(r"^\d+$", toks[j]):
                n = toks[j]
                j += 1
            if (
                j + 1 < len(toks)
                and is_ident(toks[j])
                and toks[j].lower() in ("row", "rows")
                and toks[j + 1].lower() == "only"
            ):
                toks[i : j + 2] = []
                ins = i
                if (
                    i >= 2
                    and is_ident(toks[i - 2])
                    and toks[i - 2].lower() == "offset"
                ):
                    ins = i - 2  # Spark wants LIMIT before OFFSET
                toks[ins:ins] = ["LIMIT", n]
                continue
        if (
            is_ident(toks[i])
            and toks[i].lower() == "offset"
            and i + 2 < len(toks)
            and re.match(r"^\d+$", toks[i + 1])
            and is_ident(toks[i + 2])
            and toks[i + 2].lower() in ("row", "rows")
        ):
            del toks[i + 2]
        i += 1
    return toks


def _pass_tablesample(toks: list[str]) -> list[str]:
    """TABLESAMPLE SYSTEM|BERNOULLI(p) [REPEATABLE(seed)] (gram.y
    opt_tablesample / tablesample.c): both map to Spark's row-Bernoulli
    ``TABLESAMPLE (p PERCENT)`` — SYSTEM's page-level granularity has no
    parquet analog; REPEATABLE passes through (Spark spells it the
    same)."""
    i = 0
    while i < len(toks) - 3:
        if (
            is_ident(toks[i])
            and toks[i].lower() == "tablesample"
            and is_ident(toks[i + 1])
            and toks[i + 1].lower() in ("system", "bernoulli")
            and toks[i + 2] == "("
        ):
            close = match_close(toks, i + 2)
            new = (
                ["TABLESAMPLE", "("]
                + toks[i + 3 : close]
                + ["PERCENT", ")"]
            )
            # PG places TABLESAMPLE after the alias, Spark before it:
            # `FROM t [AS] a TABLESAMPLE ...` → `FROM t TABLESAMPLE ... a`
            ins = i
            clause_kw = {"from", "join", "lateral", "only", "using", "on"}
            if i >= 2 and is_ident(toks[i - 1]):
                p2 = toks[i - 2]
                if is_ident(p2) and p2.lower() == "as" and i >= 3:
                    ins = i - 2  # name AS alias TABLESAMPLE
                elif (
                    is_ident(p2)
                    and p2.lower() not in clause_kw
                    and p2.lower() not in NON_FUNC_KEYWORDS
                ):
                    ins = i - 1  # name alias TABLESAMPLE
            toks[i : close + 1] = []
            toks[ins:ins] = new
            i = ins + len(new) + (i - ins)
            continue
        i += 1
    return toks


def _pass_inet_ops(toks: list[str]) -> list[str]:
    """inet/cidr casts and subnet operators (network.c network_sub /
    network_subeq / network_overlap).  An inet value IS its text form;
    ``::inet`` / ``::cidr`` casts mark their operand, and <<, <<=, >>,
    >>=, && with a marked operand lower onto the inet_contained_by /
    equality kernels (the function templates expand later in
    _pass_functions)."""
    if not any(
        is_ident(t) and t.lower() in ("inet", "cidr") for t in toks
    ):
        return toks
    # typed-literal prefix form: inet '1.2.3.4' (gram.y AexprConst)
    i = 0
    while i < len(toks) - 1:
        if (
            is_ident(toks[i])
            and toks[i].lower() in ("inet", "cidr")
            and is_string(toks[i + 1])
            and (i == 0 or toks[i - 1] != ".")
            and not (
                i > 0 and is_ident(toks[i - 1])
                and toks[i - 1].lower() == "as"
            )
        ):
            toks[i : i + 2] = ["__gginet__", "(", toks[i + 1], ")"]
        i += 1
    i = 1
    while i < len(toks) - 1:
        if (
            toks[i] == "::"
            and is_ident(toks[i + 1])
            and toks[i + 1].lower() in ("inet", "cidr")
        ):
            lstart = operand_start(toks, i - 1)
            toks[lstart : i + 2] = (
                ["__gginet__", "("] + toks[lstart:i] + [")"]
            )
            i = lstart
        i += 1

    def unwrap(ts: list[str]) -> list[str]:
        return [t for t in ts if t != "__gginet__"]

    i = 1
    while i < len(toks) - 1:
        nxt_eq = i + 1 < len(toks) and toks[i + 1] == "="
        if toks[i] in ("<<", ">>"):
            op = toks[i] + ("=" if nxt_eq else "")
            op_len = 2 if nxt_eq else 1
        elif (toks[i], toks[i + 1]) == ("&", "&"):
            op, op_len = "&&", 2
        else:
            i += 1
            continue
        lstart = operand_start(toks, i - 1)
        rend = operand_end(toks, i + op_len)
        left, right = toks[lstart:i], toks[i + op_len : rend + 1]
        if "__gginet__" not in left and "__gginet__" not in right:
            i += 1
            continue
        a = "(" + " ".join(unwrap(left)) + ")"
        b = "(" + " ".join(unwrap(right)) + ")"
        if op == "<<":
            new = f"inet_contained_by({a}, {b})"
        elif op == "<<=":
            new = f"inet_contained_by_eq({a}, {b})"
        elif op == ">>":
            new = f"inet_contained_by({b}, {a})"
        elif op == ">>=":
            new = f"inet_contained_by_eq({b}, {a})"
        else:  # && overlap: network bits match under the shorter mask
            new = (
                f"(inet_contained_by_eq({a}, {b}) "
                f"OR inet_contained_by_eq({b}, {a}))"
            )
        toks[lstart : rend + 1] = tokenize(new)
        i = lstart if lstart > 0 else 1
    return [t for t in toks if t != "__gginet__"]


def _pass_range_casts(toks: list[str]) -> list[str]:
    """'[1,5)'::int4range literal casts → range constructor calls
    (rangetypes.c range_in).  Runs BEFORE _pass_casts so the unmapped
    range typenames never reach the generic cast lowering.  Only
    string-literal operands are in the subset — column-typed ranges
    stay on the DataFrame API (functions/ranges.py)."""
    from greengage_spark.functions import ranges as R

    i = 1
    while i < len(toks) - 1:
        if (
            toks[i] == "::"
            and is_ident(toks[i + 1])
            and toks[i + 1].lower() in R.RANGE_ELEM_TYPES
        ):
            tname = toks[i + 1].lower()
            if not is_string(toks[i - 1]):
                raise NotImplementedError(
                    f"::{tname} casts apply to range literals here — "
                    "column-typed ranges use the DataFrame API "
                    "(functions/ranges.py)"
                )
            lit = toks[i - 1]
            body = lit[1:] if lit[:1].lower() == "e" else lit
            lo, hi, bounds = R.parse_range_literal(
                body[1:-1].replace("''", "'")
            )
            if bounds == "empty":
                # keep the constructor form so _pass_ranges marks the
                # span; it recognizes the 'empty' flag and emits
                # type-correct NULL bounds (round-7 advice)
                new = f"{tname}(NULL, NULL, 'empty')"
            else:
                lo_s = f"'{lo}'" if lo is not None else "NULL"
                hi_s = f"'{hi}'" if hi is not None else "NULL"
                new = f"{tname}({lo_s}, {hi_s}, '{bounds}')"
            toks[i - 1 : i + 2] = tokenize(new)
            i -= 1
        i += 1
    return toks


_RANGE_ACCESSORS = (
    "lower", "upper", "isempty", "lower_inc", "upper_inc",
    "lower_inf", "upper_inf",
)


def _pass_ranges(toks: list[str]) -> list[str]:
    """PG range types at expression level (rangetypes.c; regress
    rangetypes.sql): constructors int4range/int8range/numrange/
    daterange/tsrange/tstzrange(lo, hi [, 'bounds']) lower to the
    struct<lo,hi,lo_inc,hi_inc,empty> emitters in functions/ranges.py
    (discrete canonicalization to [lo,hi) included); operators
    @> <@ && << >> -|- * + dispatch when either operand is a marked
    range span; lower/upper/isempty/... accessors on marked spans.
    Runs AFTER _pass_json_ops (the emitted lambdas' ``->`` must not be
    claimed) and BEFORE _pass_array_ops (which would claim ``@>``)."""
    from greengage_spark.functions import ranges as R

    if not any(
        is_ident(t) and t.lower() in R.RANGE_ELEM_TYPES for t in toks
    ):
        return toks

    # 1) constructors → marker-wrapped struct SQL
    i = 0
    while i < len(toks):
        t = toks[i]
        if (
            is_ident(t)
            and t.lower() in R.RANGE_ELEM_TYPES
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            close = match_close(toks, i + 1)
            args = split_top(toks[i + 2 : close])
            elem, disc = R.RANGE_ELEM_TYPES[t.lower()]
            if len(args) == 3 and len(args[2]) == 1 and is_string(args[2][0]):
                bounds = args[2][0][1:-1]
            elif len(args) == 2:
                bounds = "[)"
            else:
                raise NotImplementedError(
                    f"{t}(lo, hi [, '[)']) — bounds must be a literal"
                )
            if bounds == "empty":
                sql = R.mk_empty_range_sql(elem)
            elif bounds not in ("[)", "[]", "(]", "()"):
                raise ValueError(f"invalid range bounds flags {bounds!r}")
            else:
                sql = R.mk_range_sql(
                    " ".join(args[0]), " ".join(args[1]), bounds, elem, disc
                )
            toks[i : close + 1] = ["__ggrng__", "("] + tokenize(sql) + [")"]
        i += 1

    def unwrap(ts: list[str]) -> list[str]:
        return [t for t in ts if t != "__ggrng__"]

    # 2) operators with a marked operand
    i = 1
    while i < len(toks) - 1:
        pair = (toks[i], toks[i + 1]) if i + 1 < len(toks) else ("", "")
        trip = (
            (toks[i], toks[i + 1], toks[i + 2])
            if i + 2 < len(toks)
            else ("", "", "")
        )
        if trip == ("-", "|", "-"):
            op, op_len = "-|-", 3
        elif pair in (("@", ">"), ("<", "@"), ("&", "&")):
            op, op_len = "".join(pair), 2
        elif toks[i] in ("*", "+", "<<", ">>"):
            op, op_len = toks[i], 1
        else:
            i += 1
            continue
        lstart = operand_start(toks, i - 1)
        rend = operand_end(toks, i + op_len)
        left, right = toks[lstart:i], toks[i + op_len : rend + 1]
        lmark = "__ggrng__" in left
        rmark = "__ggrng__" in right
        if not (lmark or rmark):
            i += 1
            continue
        lh = "(" + " ".join(unwrap(left)) + ")"
        rh = "(" + " ".join(unwrap(right)) + ")"
        if op == "@>":
            new = (
                R.contains_range_sql(lh, rh)
                if rmark
                else R.contains_elem_sql(lh, rh)
            )
        elif op == "<@":
            new = (
                R.contains_range_sql(rh, lh)
                if lmark
                else R.contains_elem_sql(rh, lh)
            )
        elif op == "&&":
            new = R.overlaps_sql(lh, rh)
        elif op == "<<":
            new = R.before_sql(lh, rh)
        elif op == ">>":
            new = R.after_sql(lh, rh)
        elif op == "-|-":
            new = R.adjacent_sql(lh, rh)
        else:  # * intersection / + union produce ranges: keep the marker
            body = (
                R.intersect_sql(lh, rh) if op == "*" else R.union_sql(lh, rh)
            )
            toks[lstart : rend + 1] = (
                ["__ggrng__", "("] + tokenize(body) + [")"]
            )
            i = lstart if lstart > 0 else 1
            continue
        toks[lstart : rend + 1] = tokenize(new)
        i = lstart if lstart > 0 else 1

    # 3) accessor functions over marked spans
    i = 0
    while i < len(toks):
        t = toks[i]
        if (
            is_ident(t)
            and t.lower() in _RANGE_ACCESSORS
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            close = match_close(toks, i + 1)
            inner = toks[i + 2 : close]
            if "__ggrng__" in inner:
                sql = R.accessor_sql(
                    t.lower(), " ".join(unwrap(inner))
                )
                toks[i : close + 1] = tokenize(sql)
        i += 1
    return [t for t in toks if t != "__ggrng__"]


def _pass_ltree(toks: list[str]) -> list[str]:
    """contrib/ltree operators (ltree_op.c; functions/ltree_ops.py).

    ``::ltree`` / ``::lquery`` casts mark their operand; a comparison
    with a marked operand lowers to the JVM emitters: ``@>``/``<@`` →
    isparent, ``~`` literal-lquery → compiled RLIKE, ``||`` →
    empty-aware path concat.  Leftover markers unwrap to plain strings.
    Runs BEFORE the cast/regex/array passes so those never see the
    claimed spans."""
    if not any(
        is_ident(t) and t.lower() in ("ltree", "lquery") for t in toks
    ):
        return toks
    from greengage_spark.functions import ltree_ops as L

    i = 1
    while i < len(toks) - 1:
        if (
            toks[i] == "::"
            and is_ident(toks[i + 1])
            and toks[i + 1].lower() in ("ltree", "lquery")
        ):
            lstart = operand_start(toks, i - 1)
            toks[lstart : i + 2] = (
                ["__ggltr__", "("] + toks[lstart:i] + [")"]
            )
            i = lstart
        i += 1

    def unwrap(ts: list[str]) -> list[str]:
        return [t for t in ts if t != "__ggltr__"]

    i = 1
    while i < len(toks) - 1:
        pair = (toks[i], toks[i + 1]) if i + 1 < len(toks) else ("", "")
        if pair in (("@", ">"), ("<", "@")):
            op_len, opk = 2, ("isparent" if pair == ("@", ">") else "risparent")
        elif toks[i] == "~":
            op_len, opk = 1, "match"
        elif toks[i] == "||":
            op_len, opk = 1, "concat"
        else:
            i += 1
            continue
        lstart = operand_start(toks, i - 1)
        rend = operand_end(toks, i + op_len)
        left, right = toks[lstart:i], toks[i + op_len : rend + 1]
        if "__ggltr__" not in left and "__ggltr__" not in right:
            i += 1
            continue
        lh = "(" + " ".join(unwrap(left)) + ")"
        rh = "(" + " ".join(unwrap(right)) + ")"
        if opk == "isparent":
            new = L.isparent_sql(lh, rh)
        elif opk == "risparent":
            new = L.isparent_sql(rh, lh)
        elif opk == "concat":
            new = L.concat_sql(lh, rh)
        else:
            lit = [t for t in unwrap(right) if t not in ("(", ")")]
            if len(lit) != 1 or not is_string(lit[0]):
                raise NotImplementedError(
                    "ltree ~ needs a literal lquery pattern "
                    "(compiled to a regex at transpile time)"
                )
            new = L.match_sql(lh, lit[0][1:-1].replace("''", "'"))
        toks[lstart : rend + 1] = tokenize(new)
        i = lstart if lstart > 0 else 1
    return [t for t in toks if t != "__ggltr__"]


def _intarr_braces_literal(span: list[str]) -> list[str] | None:
    """A single '{1,2,3}' string literal as ARRAY(...) tokens, or None."""
    if len(span) == 1 and is_string(span[0]):
        body = span[0][1:-1].strip()
        if body.startswith("{") and body.endswith("}"):
            inner = body[1:-1].strip()
            if re.fullmatch(r"[-+0-9,\s]*", inner):
                return tokenize(f"array({inner})")
    return None


def _pass_intarray_binops(toks: list[str]) -> list[str]:
    """contrib/intarray binary operators (_int_op.c) — runs AFTER
    _pass_json_ops so the emitted lambda ``->`` survives:

    * ``a + e`` append / ``a + b`` concatenate (order and dups kept)
    * ``a - e`` remove every occurrence / ``a - b`` remove b's members
    * ``a | e`` / ``a | b`` union -> SORTED distinct
    * ``a & b`` intersection -> sorted distinct

    Dispatch needs lexical int-array evidence on the LEFT operand (a
    cast site or constructor — the documented textual-front-end subset);
    by this point ::int[] has lowered to CAST(.. AS ARRAY<INT>), which
    is the evidence token."""
    if not any(
        t.upper() in ("ARRAY<INT>", "ARRAY<BIGINT>", "ARRAY<SMALLINT>")
        for t in toks
    ) and not any(is_ident(t) and t.lower() == "array" for t in toks):
        return toks
    # '#' prefix = icount (element count); only with array evidence and
    # not as the infix bit-ops / geometry uses of '#'
    i = 0
    while i < len(toks) - 1:
        if toks[i] == "#" and (i == 0 or toks[i - 1] in ("(", ",", "select", "SELECT", "where", "WHERE", "and", "or")):
            rend = _extend_cast_right(toks, operand_end(toks, i + 1))
            arg = toks[i + 1 : rend + 1]
            if _intarrayish(arg):
                toks[i : rend + 1] = tokenize(f"size({' '.join(arg)})")
        i += 1
    changed = True
    while changed:
        changed = False
        i = 1
        while i < len(toks) - 1:
            op = toks[i]
            if op not in ("+", "-", "|", "&"):
                i += 1
                continue
            if op == "&" and (toks[i + 1] == "&" or toks[i - 1] == "&"):
                i += 1
                continue
            lstart = _extend_cast_left(toks, operand_start(toks, i - 1))
            rend = _extend_cast_right(toks, operand_end(toks, i + 1))
            left = toks[lstart:i]
            right = toks[i + 1 : rend + 1]
            l_arr, r_arr = _intarrayish(left), _intarrayish(right)
            if not l_arr:
                i += 1
                continue
            if not r_arr:
                # PG coerces a bare '{..}' unknown literal by the
                # operator's declared type (parse_coerce.c)
                lit = _intarr_braces_literal(right)
                if lit is not None:
                    right, r_arr = lit, True
            ls = " ".join(left)
            rs = " ".join(right)
            if op == "+":
                # flatten(array(a, b)) = concatenation with order and
                # dups kept (a bare concat() would be claimed by the PG
                # string-concat pass downstream)
                rr = rs if r_arr else f"array({rs})"
                new = f"flatten(array({ls}, {rr}))"
            elif op == "-":
                new = (
                    f"filter({ls}, __ie -> NOT array_contains({rs}, __ie))"
                    if r_arr
                    else f"array_remove({ls}, {rs})"
                )
            elif op == "|":
                new = (
                    f"array_sort(array_union({ls}, "
                    f"{rs if r_arr else f'array({rs})'}))"
                )
            else:  # &
                if not r_arr:
                    i += 1
                    continue
                new = f"array_sort(array_intersect({ls}, {rs}))"
            toks = toks[:lstart] + tokenize(new) + toks[rend + 1 :]
            changed = True
            break
    return toks


def _pass_array_ops(toks: list[str]) -> list[str]:
    """PG array operators left over after the geometry/text-search passes
    claimed their typed spans (arrayfuncs.c arraycontains / arrayoverlap):

    * ``x @> y`` → every element of y is in x (forall + array_contains)
    * ``x <@ y`` → reverse containment
    * ``x && y`` → arrays_overlap
    * ``array || elem`` / ``elem || array`` → the scalar side wraps in a
      one-element array so Spark's || (concat) applies; detected when
      exactly one operand is an array(...) constructor (the literal form
      the regress suites use).
    """
    i = 1
    while i < len(toks) - 1:
        pair = (toks[i], toks[i + 1])
        if pair in ((("@", ">")), ("<", "@"), ("&", "&")):
            lstart = operand_start(toks, i - 1)
            rend = operand_end(toks, i + 2)
            left = toks[lstart:i]
            right = toks[i + 2 : rend + 1]
            if pair == ("&", "&"):
                new = ["arrays_overlap", "("] + left + [","] + right + [")"]
            else:
                arr, sub = (left, right) if pair == ("@", ">") else (right, left)
                new = (
                    ["forall", "("] + sub
                    + [",", "__e", "->", "array_contains", "("]
                    + arr + [",", "__e", ")", ")"]
                )
            toks[lstart : rend + 1] = new
            i = lstart + 1
            continue
        i += 1
    i = 1
    while i < len(toks) - 1:
        if toks[i] == "||":
            lstart = operand_start(toks, i - 1)
            rend = operand_end(toks, i + 1)
            l_arr = is_ident(toks[lstart]) and toks[lstart].lower() == "array"
            r_arr = is_ident(toks[i + 1]) and toks[i + 1].lower() == "array"
            if l_arr != r_arr:
                if l_arr:
                    toks[i + 1 : rend + 1] = (
                        ["array", "("] + toks[i + 1 : rend + 1] + [")"]
                    )
                else:
                    toks[lstart:i] = ["array", "("] + toks[lstart:i] + [")"]
                    i += 3
        i += 1
    return toks


def _md_array_depth(arg: list[str]) -> int:
    """Static dimensionality of an array expression: the deepest
    ``ARRAY<ARRAY<...`` cast type token, or the run of nested
    ``array ( array (`` constructor heads.  1 for plain arrays; a
    textual front-end cannot see column types, so md columns must pass
    through a literal/cast site to be recognized (documented subset)."""
    depth = 1
    for t in arg:
        c = t.upper().count("ARRAY<")
        depth = max(depth, c)
    low = [x.lower() for x in arg]
    j = 0
    while j < len(low):
        if low[j] == "array" and j + 1 < len(low) and low[j + 1] == "(":
            run, k = 0, j
            while k + 1 < len(low) and low[k] == "array" and low[k + 1] == "(":
                run += 1
                k += 2
            depth = max(depth, run)
            j = k
        else:
            j += 1
    return depth


def _md_array_fn(fn: str, a: str, depth: int, args: list[list[str]]) -> str:
    """Lower a dimension-aware array function over a depth-``depth``
    nested array (arrayfuncs.c): cardinality counts every scalar element,
    array_dims renders '[1:n][1:m]...', array_upper/length/lower take the
    requested dimension via first-element descent (rectangular arrays,
    array_in's invariant)."""
    def dim_size(n: int) -> str:
        e = a
        for _ in range(n - 1):
            e = f"element_at(({e}), 1)"
        return f"size({e})"

    if fn == "cardinality":
        e = a
        for _ in range(depth - 1):
            e = f"flatten({e})"
        return f"size({e})"
    if fn == "array_ndims":
        return f"(CASE WHEN size({a}) > 0 THEN {depth} END)"
    if fn == "array_dims":
        if depth > 4:
            raise NotImplementedError("array_dims beyond 4 dimensions")
        parts = ", ".join(
            f"'[1:', {dim_size(n)}, ']'" for n in range(1, depth + 1)
        )
        return f"(CASE WHEN size({a}) > 0 THEN concat({parts}) END)"
    # dimension-addressed forms: second arg must be a literal dimension
    if len(args) != 2 or not re.match(r"^\d+$", " ".join(args[1]).strip()):
        raise NotImplementedError(
            f"{fn} on a multi-dim array needs a literal dimension argument"
        )
    n = int(" ".join(args[1]).strip())
    if n < 1 or n > depth:
        return "NULL"  # out-of-range dimension → NULL (arrayfuncs.c)
    if fn == "array_lower":
        return f"(CASE WHEN size({a}) > 0 THEN 1 END)"
    return f"(CASE WHEN size({a}) > 0 THEN {dim_size(n)} END)"


def _pass_functions(toks: list[str]) -> list[str]:
    out = list(toks)
    i = 0
    while i < len(out):
        t = out[i]
        low = t.lower() if is_ident(t) else None
        nxt = out[i + 1] if i + 1 < len(out) else None

        if low == "gp_segment_id" and not any(
            is_ident(t2) and t2.lower() in (
                "gp_endpoints", "gp_session_endpoints",
            )
            for t2 in out
        ):
            # the pseudo-column on user tables; the endpoint views
            # (gp_parallel_retrieve_cursor) carry a REAL column of
            # this name
            out[i : i + 1] = ["spark_partition_id", "(", ")"]
            i += 3
            continue

        if low == "localtimestamp" and nxt != "(" and (i == 0 or out[i - 1] != "."):
            # bare LOCALTIMESTAMP keyword (gram.y func_expr_common_subexpr)
            out[i : i + 1] = ["localtimestamp", "(", ")"]
            i += 3
            continue

        if low == "using" and nxt in ("<", ">"):
            # ORDER BY expr USING op (gram.y sortby_using): the btree
            # '<' ordering is ASC, '>' is DESC
            out[i : i + 2] = ["ASC" if nxt == "<" else "DESC"]
            continue

        if low == "row" and nxt == "(":
            # ROW(...) constructor (gram.y row:) → struct
            out[i] = "struct"
            i += 1
            continue

        if low and nxt == "(":
            close = match_close(out, i + 1)
            args = split_top(out[i + 2 : close])

            if low in ("to_char", "to_date", "to_timestamp") and len(args) == 2 and len(args[1]) == 1 and is_string(args[1][0]):
                tmpl = args[1][0].strip("'")
                m_num = re.fullmatch(r"(FM)?([9]+)(?:\.([9]+))?", tmpl)
                if m_num and m_num.group(1) and m_num.group(3):
                    # FM with decimal positions strips trailing 9-zeros —
                    # only the full engine renders that; skip fast path
                    m_num = None
                if m_num and len(m_num.group(2)) + len(m_num.group(3) or "") > 15:
                    # wider than double precision — the DOUBLE pre-cast
                    # below would corrupt digits past ~15 significant
                    # places; the pg_tochar_num engine stays exact
                    m_num = None
                if low == "to_char" and m_num:
                    # numeric template (formatting.c NUM_9): right-align in
                    # the template width with one sign column; FM strips
                    # padding.  Decimal-cast renders the fixed scale.  A 9
                    # in the ones place drops a leading zero digit entirely
                    # (NUM_processor: blank-padded 9s), so 0.5 → '.5' and
                    # 0 with a decimal template → '.0000000'.
                    fm, ipart, dpart = m_num.groups()
                    d = len(dpart) if dpart else 0
                    p = len(ipart) + d
                    # the argument is computed in DOUBLE first: Spark's
                    # decimal aggregates stop at scale+4 (avg(decimal(5,0))
                    # → decimal(9,4)), far below PG's unbounded numeric —
                    # double carries the template's 7 digits exactly
                    cast = (
                        ["CAST", "(", "round", "(", "CAST", "("]
                        + args[0]
                        + ["AS", "DOUBLE", ")", ",", str(d), ")",
                           "AS", f"DECIMAL({p},{d})", ")"]
                    )
                    if dpart:
                        # PG-spelled call (later _pass_functions rewrite
                        # converts flags + \1 backref to the Spark form)
                        cast = (
                            ["regexp_replace", "(", "CAST", "("] + cast
                            + ["AS", "STRING", ")", ",",
                               "'^(-?)0\\.'", ",", "'\\1.'", ",", "'g'", ")"]
                        )
                    if fm:
                        new = ["CAST", "("] + cast + ["AS", "STRING", ")"]
                    else:
                        width = 1 + len(ipart) + (1 + d if dpart else 0)
                        new = ["lpad", "("] + cast + [",", str(width), ",", "' '", ")"]
                    out[i : close + 1] = new
                    i += 1
                    continue
                if low == "to_char":
                    from greengage_spark.functions.pg_format import (
                        dch_needs_engine,
                    )

                    esc = tmpl.replace("'", "''")
                    if any(c in "90" for c in tmpl) or tmpl.upper().lstrip(
                        "FM"
                    ) in ("RN",):
                        # advanced NUM template (0 S MI SG PR TH L G EEEE
                        # RN …) → the full formatting.c engine, Arrow-
                        # batched (pg_format.num_tochar)
                        out[i : close + 1] = (
                            ["pg_tochar_num", "("] + args[0]
                            + [",", f"'{esc}'", ")"]
                        )
                        i += 2
                        continue
                    if dch_needs_engine(tmpl):
                        # DCH fields the Java-pattern path cannot render
                        # faithfully (ISO week dates, J, RM, TH, FM, …)
                        out[i : close + 1] = (
                            ["pg_tochar_dch", "("] + args[0]
                            + [",", f"'{esc}'", ")"]
                        )
                        i += 2
                        continue
                java = pg_pattern_to_java(tmpl)
                fname = {"to_char": "date_format", "to_date": "to_date", "to_timestamp": "to_timestamp"}[low]
                out[i : close + 1] = (
                    [fname, "("] + args[0] + [",", f"'{java}'", ")"]
                )
                i += 2  # past fname+'(' — to_date maps to itself, don't re-match
                continue
            if low == "to_number" and len(args) == 2 and len(args[1]) == 1 and is_string(args[1][0]):
                # reverse NUM_* engine (formatting.c numeric_to_number) —
                # Arrow-batched pg_format.num_tonumber
                esc = args[1][0].strip("'").replace("'", "''")
                out[i : close + 1] = (
                    ["pg_tonumber", "(", "CAST", "("] + args[0]
                    + ["AS", "STRING", ")", ",", f"'{esc}'", ")"]
                )
                i += 2
                continue
            if (low, len(args)) in _INLINE_FN_TEMPLATES:
                tmpl = _INLINE_FN_TEMPLATES[(low, len(args))]
                new_sql = tmpl.format(*[" ".join(a) for a in args])
                out[i : close + 1] = tokenize(new_sql)
                i += 1
                continue
            if low in _TYPE_MAP and len(args) == 1 and low not in ("char",):
                # PG type-name function-call casts: float8(x), int4(x),
                # text(x) … (parse_func.c treats them as casts)
                mapped_t = _TYPE_MAP[low]
                out[i : close + 1] = (
                    ["CAST", "("] + args[0] + ["AS", mapped_t, ")"]
                )
                i += 1
                continue
            if low in ("ceil", "ceiling", "floor", "trunc") and len(args) == 1:
                # PG keeps the argument's type (float.c dceil/dfloor,
                # numeric.c); Spark's ceil/floor return BIGINT, which
                # clamps 1e200-scale doubles.  The mod-1 formula is
                # type-generic and codegen-friendly; % follows the
                # dividend's sign in both engines.
                a = ["("] + args[0] + [")"]
                frac = a + ["%", "1"]
                if low == "trunc":
                    new = ["("] + a + ["-", "("] + frac + [")", ")"]
                else:
                    cmp_, adj = (">", "1") if low != "floor" else ("<", "-1")
                    new = (
                        ["("] + a + ["-", "("] + frac + [")", "+",
                         "CASE", "WHEN", "("] + frac + [")", cmp_, "0",
                         "THEN", adj, "ELSE", "0", "END", ")"]
                    )
                out[i : close + 1] = new
                i += 1
                continue
            if low in ("bitand", "bitor", "bitxor") and len(args) == 2:
                # varbit.c bit_and/bit_or/bitxor over 0/1-text bit strings:
                # value algebra through a 64-bit word (conv base-2), length
                # preserved from the left operand (PG requires equal
                # lengths; ≤63 significant bits — the practical range).
                # orafce overloads bitand(bigint, bigint): plainly
                # numeric arguments take the integer form.
                op = {"bitand": "&", "bitor": "|", "bitxor": "^"}[low]
                if low == "bitand" and all(
                    all(re.match(r"^(-?\d+|\(|\)|[-+*/%])$", t) for t in a)
                    for a in args
                ):
                    x, y = (" ".join(a) for a in args)
                    out[i : close + 1] = (
                        ["("]
                        + ["CAST", "(", "(", x, ")", "AS", "BIGINT", ")"]
                        + ["&"]
                        + ["CAST", "(", "(", y, ")", "AS", "BIGINT", ")"]
                        + [")"]
                    )
                    i += 1
                    continue
                def _c(a):
                    return (
                        ["CAST", "(", "conv", "(", "("] + a
                        + [")", ",", "2", ",", "10", ")", "AS", "BIGINT", ")"]
                    )
                out[i : close + 1] = (
                    ["substring", "(", "lpad", "(", "bin", "("]
                    + _c(args[0]) + [op] + _c(args[1])
                    + [")", ",", "64", ",", "'0'", ")", ",",
                       "65", "-", "length", "("] + args[0] + [")", ")"]
                )
                i += 1
                continue
            if low == "bitnot" and len(args) == 1:
                # ~b flips every bit: pure char translate, any length
                out[i : close + 1] = (
                    ["translate", "(", "("] + args[0]
                    + [")", ",", "'01'", ",", "'10'", ")"]
                )
                i += 1
                continue
            if low in ("bitshiftleft", "bitshiftright") and len(args) == 2:
                # varbit.c bitshiftleft/right: zero-fill, length-preserving
                a, nn = args[0], args[1]
                if low == "bitshiftleft":
                    out[i : close + 1] = (
                        ["rpad", "(", "substring", "(", "("] + a
                        + [")", ",", "("] + nn + [")", "+", "1", ")", ",",
                           "length", "("] + a + [")", ",", "'0'", ")"]
                    )
                else:
                    out[i : close + 1] = (
                        ["lpad", "(", "substring", "(", "("] + a
                        + [")", ",", "1", ",", "greatest", "(", "length", "("]
                        + a + [")", "-", "("] + nn + [")", ",", "0", ")",
                           ")", ",", "length", "("] + a + [")", ",", "'0'", ")"]
                    )
                i += 1
                continue
            if low == "bitcat" and len(args) == 2:
                out[i : close + 1] = (
                    ["concat", "(", "("] + args[0] + [")", ",", "("]
                    + args[1] + [")", ")"]
                )
                i += 1
                continue
            if low == "timezone" and len(args) == 2:
                # PG timezone(zone, ts) ≡ ts AT TIME ZONE zone
                # (timestamp.c timestamp_zone; same naive→instant contract
                # as _pass_at_time_zone — argument order swaps for Spark)
                out[i : close + 1] = (
                    ["to_utc_timestamp", "("] + args[1] + [","] + args[0] + [")"]
                )
                i += 1
                continue
            if low in ("ltrim", "rtrim", "btrim") and len(args) == 2:
                # PG argument order is (string, characters) (varlena.c);
                # Spark's two-argument trims take (trimStr, srcStr)
                fname = "trim" if low == "btrim" else low
                out[i : close + 1] = (
                    [fname, "("] + args[1] + [","] + args[0] + [")"]
                )
                i += 1
                continue
            if low == "regexp_replace" and len(args) in (3, 4):
                # PG regexp_replace (regexp.c RE_replace): the DEFAULT is
                # first-occurrence-only; flag 'g' = all occurrences (Spark's
                # only native mode), 'i' = case-insensitive.  Replacement
                # backrefs are \N (\& = whole match) where Java wants $N.
                pat, rep = args[1], args[2]
                flags = ""
                if len(args) == 4:
                    if not (len(args[3]) == 1 and is_string(args[3][0])):
                        raise NotImplementedError(
                            "regexp_replace: non-literal flags argument"
                        )
                    flags = args[3][0].strip("'")
                lit_pat = len(pat) == 1 and is_string(pat[0])
                if "g" in flags:
                    if len(rep) == 1 and is_string(rep[0]) and "\\" in rep[0]:
                        rep = [re.sub(r"\\(\d)", r"$\1", rep[0])]
                    if "i" in flags:
                        if lit_pat:
                            pat = ["'(?i)" + pat[0][1:]]
                        else:
                            pat = ["concat", "(", "'(?i)'", ","] + pat + [")"]
                    out[i : close + 1] = (
                        ["regexp_replace", "("] + args[0] + [","] + pat
                        + [","] + rep + [")"]
                    )
                    i += 1
                    continue
                # First-occurrence-only (PG default).  Lowering:
                #   pat → (?s)[(?i)]^(.*?)(pat)     rep → $1<rep, \N→$(N+2)>
                # The ^-anchored lazy prefix makes Java's replace-all fire
                # exactly once (it cannot re-match ^ past position 0), and
                # (?s) matches PG's newline-insensitive '.' default.
                if not (
                    lit_pat and len(rep) == 1 and is_string(rep[0])
                ):
                    raise NotImplementedError(
                        "first-occurrence regexp_replace (no 'g' flag) needs "
                        "a literal pattern and replacement; pass the 'g' "
                        "flag for replace-all"
                    )
                mods = "(?s)" + ("(?i)" if "i" in flags else "")
                # the ^(.*?)( wrapper adds two capture groups, so
                # backreferences INSIDE the pattern shift by 2 as well
                inner_pat = re.sub(
                    r"(?<!\\)\\(\d)",
                    lambda m: "\\" + str(int(m.group(1)) + 2),
                    pat[0][1:-1],
                )
                new_pat = "'" + mods + "^(.*?)(" + inner_pat + ")'"

                def _conv_backref(m: "re.Match[str]") -> str:
                    t = m.group(0)
                    if t == "$":
                        return "\\$"
                    if t == "\\\\":
                        return "\\\\"
                    if t == "\\&":
                        return "$2"
                    return "$" + str(int(t[1]) + 2)

                new_rep = "'$1" + re.sub(
                    r"\\[0-9&\\]|\$", _conv_backref, rep[0][1:-1]
                ) + "'"
                out[i : close + 1] = (
                    ["regexp_replace", "("] + args[0] + [",", new_pat, ",",
                     new_rep, ")"]
                )
                i += 1
                continue
            if low == "regexp_split_to_array" and len(args) in (2, 3):
                # regexp_split_to_table's array sibling → Spark split();
                # optional 'i' flag folds into the pattern
                pat = args[1]
                if len(args) == 3 and len(args[2]) == 1 and is_string(args[2][0]):
                    if "i" in args[2][0].strip("'"):
                        if len(pat) == 1 and is_string(pat[0]):
                            pat = ["'(?i)" + pat[0][1:]]
                        else:
                            pat = ["concat", "(", "'(?i)'", ","] + pat + [")"]
                out[i : close + 1] = (
                    ["split", "("] + args[0] + [","] + pat + [",", "-1", ")"]
                )
                i += 1
                continue
            if low in ("substring", "substr") and len(args) == 1:
                # keyword form: SUBSTRING(x FROM y [FOR z]).  A string-
                # literal y is PG's POSIX-regex substring (varlena.c
                # textregexsubstr): result = first capture group if the
                # pattern has one, else the whole match; NULL on no match.
                inner = args[0]
                from_idx = next(
                    (k for k, tk in top_level(inner)
                     if is_ident(tk) and tk.lower() == "from"),
                    None,
                )
                if from_idx is not None:
                    xpr = inner[:from_idx]
                    rest = inner[from_idx + 1 :]
                    if len(rest) == 1 and is_string(rest[0]):
                        lit = rest[0]
                        grp = "1" if _count_capture_groups(lit[1:-1]) else "0"
                        out[i : close + 1] = (
                            ["case", "when", "("] + xpr + [")", "rlike", lit,
                             "then", "regexp_extract", "(", "("] + xpr
                            + [")", ",", lit, ",", grp, ")", "end"]
                        )
                        i += 1
                        continue
                    if (
                        len(rest) == 3
                        and is_string(rest[0])
                        and is_ident(rest[1])
                        and rest[1].lower() == "for"
                        and is_string(rest[2])
                    ):
                        # SUBSTRING(x FROM pat FOR esc) — the SQL-standard
                        # SIMILAR substring (varlena.c textregexsubstr via
                        # similar_escape): esc+" pairs delimit the
                        # returned portion; the pattern must cover the
                        # whole string
                        pat = rest[0][1:-1].replace("''", "'")
                        esc = rest[2][1:-1].replace("''", "'")
                        rx, has_group = _similar_substring_regex(pat, esc)
                        rx_lit = "'" + rx.replace("'", "''") + "'"
                        grp = "1" if has_group else "0"
                        out[i : close + 1] = (
                            ["case", "when", "("] + xpr + [")", "rlike",
                             rx_lit, "then", "regexp_extract", "(", "("]
                            + xpr + [")", ",", rx_lit, ",", grp, ")", "end"]
                        )
                        i += 1
                        continue
            if low == "interval_bound" and 2 <= len(args) <= 4:
                # GP time-series bucketing (numeric.c
                # numeric_interval_bound_common / timestamp.c):
                #   bound = floor((v - r)/w)*w + s*w + r
                # where s (3rd arg) counts WIDTHS and r (4th) registers the
                # bucket grid.  Timestamp form (day-time widths; calendar
                # month widths are out of scope) works in epoch
                # microseconds.  NaN numerics are a PG-only value.
                v, w = args[0], args[1]
                s = args[2] if len(args) >= 3 else ["0"]
                r = args[3] if len(args) == 4 else None
                # arguments may be bare column refs; fall back to whether
                # the statement works with intervals/timestamps at all
                is_ts = any(
                    is_ident(t) and t.lower() in ("interval", "timestamp", "timestamptz")
                    for t in w + v
                ) or any(
                    is_ident(t) and t.lower() in ("interval", "timestamp", "timestamptz")
                    for t in out
                )
                if is_ts:
                    # unix_micros needs TIMESTAMP (not NTZ); session TZ is
                    # UTC so the round-trip casts are value-preserving
                    def _us(e: list[str]) -> list[str]:
                        return (
                            ["unix_micros", "(", "CAST", "(", "("] + e
                            + [")", "AS", "TIMESTAMP", ")", ")"]
                        )

                    r_us = (
                        _us(r) if r is not None else ["CAST", "(", "0", "AS", "BIGINT", ")"]
                    )
                    w_us = _us(["TIMESTAMP", "'1970-01-01 00:00:00'", "+", "("] + w + [")"])
                    new = (
                        ["CAST", "(", "timestamp_micros", "(", "CAST", "(", "floor", "(", "("]
                        + _us(v) + ["-", "("] + r_us
                        + [")", ")", "/", "("] + w_us + [")", ")", "*", "("] + w_us
                        + [")", "+", "("] + s + [")", "*", "("] + w_us
                        + [")", "+", "("] + r_us + [")", "AS", "BIGINT", ")", ")",
                           "AS", "TIMESTAMP_NTZ", ")"]
                    )
                else:
                    rr = r if r is not None else ["0"]
                    new = (
                        ["(", "floor", "(", "(", "("] + v + [")", "-", "("] + rr
                        + [")", ")", "/", "("] + w + [")", ")", "*", "("] + w
                        + [")", "+", "("] + s + [")", "*", "("] + w
                        + [")", "+", "("] + rr + [")", ")"]
                    )
                out[i : close + 1] = new
                i += 1
                continue
            if low == "extract":
                # EXTRACT(field FROM expr) keyword form: normalize dow /
                # epoch to PG semantics (date.c: Sunday=0; epoch seconds);
                # all other fields are Spark-native already.
                inner = out[i + 2 : close]
                from_idx = next(
                    (j for j, tk in enumerate(inner) if tk.lower() == "from"), None
                )
                if from_idx is not None:
                    field = inner[0].lower() if inner else ""
                    expr = inner[from_idx + 1 :]
                    if field == "dow":
                        out[i : close + 1] = ["(", "dayofweek", "("] + expr + [")", "-", "1", ")"]
                        continue
                    if field == "isodow":
                        # ISO numbering: Monday=1 .. Sunday=7 (date.c)
                        out[i : close + 1] = ["(", "weekday", "("] + expr + [")", "+", "1", ")"]
                        continue
                    if field == "isoyear":
                        # year of the ISO week = year of that week's
                        # Thursday (timestamp.c ISOYEAR via date2isoyear)
                        out[i : close + 1] = tokenize(
                            "year(date_add(CAST((" + " ".join(expr)
                            + ") AS DATE), 3 - weekday(" + " ".join(expr)
                            + ")))"
                        )
                        continue
                    if field == "epoch":
                        if expr and is_ident(expr[0]) and expr[0].lower() == "interval":
                            # epoch of a day-time interval = total seconds
                            # (timestamp.c interval_part); anchor at the
                            # epoch and read the timestamp back
                            out[i : close + 1] = (
                                ["unix_timestamp", "(",
                                 "TIMESTAMP", "'1970-01-01 00:00:00'", "+"]
                                + expr + [")"]
                            )
                        else:
                            out[i : close + 1] = (
                                ["unix_timestamp", "("] + expr + [")"]
                            )
                        continue
                    if field in ("century", "millennium", "decade"):
                        out[i : close + 1] = _pg_era_field(field, expr)
                        continue
                    if field in ("microseconds", "milliseconds"):
                        # timestamp.c: seconds INCLUDING fraction scaled
                        mul = "1e6" if field == "microseconds" else "1e3"
                        e = " ".join(expr)
                        out[i : close + 1] = tokenize(
                            f"CAST(round((second({e}) + (unix_micros(CAST(({e}) AS TIMESTAMP)) % 1000000) / 1e6) * {mul}) AS DOUBLE)"
                        )
                        continue
                i += 2
                continue
            if low == "date_part" and len(args) == 2 and is_string(args[0][0]):
                field = args[0][0].strip("'").lower()
                if field == "dow":
                    # PG: Sunday=0 .. Saturday=6; Spark dayofweek: Sunday=1
                    out[i : close + 1] = ["(", "dayofweek", "("] + args[1] + [")", "-", "1", ")"]
                    continue
                if field == "isodow":
                    out[i : close + 1] = ["(", "weekday", "("] + args[1] + [")", "+", "1", ")"]
                    continue
                if field == "isoyear":
                    a1 = " ".join(args[1])
                    out[i : close + 1] = tokenize(
                        f"year(date_add(CAST(({a1}) AS DATE), "
                        f"3 - weekday({a1})))"
                    )
                    continue
                if field == "epoch":
                    out[i : close + 1] = ["unix_timestamp", "("] + args[1] + [")"]
                    continue
                if field in ("century", "millennium", "decade"):
                    out[i : close + 1] = _pg_era_field(field, args[1])
                    continue
                if field in ("microseconds", "milliseconds"):
                    mul = "1e6" if field == "microseconds" else "1e3"
                    e = " ".join(args[1])
                    out[i : close + 1] = tokenize(
                        f"CAST(round((second({e}) + (unix_micros(CAST(({e}) AS TIMESTAMP)) % 1000000) / 1e6) * {mul}) AS DOUBLE)"
                    )
                    continue
            if low == "date_trunc" and len(args) == 2 and is_string(args[0][0]):
                field = args[0][0].strip("'").lower()
                if field in ("century", "millennium", "decade"):
                    # timestamp.c timestamp_trunc: CENTURY xx01-01-01,
                    # MILLENNIUM x001-01-01, DECADE xxx0-01-01 (AD branch)
                    y = ["year", "(", "("] + args[1] + [")", ")"]
                    if field == "decade":
                        yr = (
                            ["CAST", "(", "floor", "(", "("] + y
                            + [")", "/", "10", ")", "*", "10", "AS", "INT", ")"]
                        )
                    else:
                        d = "100" if field == "century" else "1000"
                        yr = (
                            ["CAST", "(", "floor", "(", "(", "("] + y
                            + [")", "-", "1", ")", "/", d, ")", "*", d,
                               "+", "1", "AS", "INT", ")"]
                        )
                    out[i : close + 1] = (
                        ["CAST", "(", "make_date", "("] + yr
                        + [",", "1", ",", "1", ")", "AS", "TIMESTAMP", ")"]
                    )
                    continue
            if (
                low in ("array_length", "array_upper", "array_lower",
                        "array_ndims", "array_dims", "cardinality")
                and args
                and (md := _md_array_depth(args[0])) >= 2
            ):
                # multi-dimensional argument (arrayfuncs.c; arrays.sql
                # md rows): nested array<array<T>> representation, depth
                # known statically from the cast type / constructor shape
                a = " ".join(args[0])
                out[i : close + 1] = tokenize(_md_array_fn(low, a, md, args))
                continue
            if low in ("array_length", "array_upper") and len(args) == 2:
                # PG returns NULL (not 0) for an empty array
                # (arrayfuncs.c array_length: no dimension → NULL)
                a = " ".join(args[0])
                out[i : close + 1] = tokenize(
                    f"(CASE WHEN size({a}) > 0 THEN size({a}) END)"
                )
                continue
            if low == "array_dims" and len(args) == 1:
                a = " ".join(args[0])
                out[i : close + 1] = tokenize(
                    f"(CASE WHEN size({a}) > 0 "
                    f"THEN concat('[1:', size({a}), ']') END)"
                )
                continue
            if low == "array_ndims" and len(args) == 1:
                a = " ".join(args[0])
                out[i : close + 1] = tokenize(
                    f"(CASE WHEN size({a}) > 0 THEN 1 END)"
                )
                continue
            if low == "array_lower" and len(args) == 2:
                a = " ".join(args[0])
                out[i : close + 1] = tokenize(
                    f"(CASE WHEN size({a}) > 0 THEN 1 END)"
                )
                continue
            if low in ("convert_from", "convert_to") and len(args) == 2:
                # mbutils.c pg_convert_from/to: bytea ↔ text in a named
                # encoding.  Spark's encode/decode accept a fixed charset
                # list with exact names, so the PG encoding name (almost
                # always a literal) maps here; non-literals reject.
                if len(args[1]) != 1 or not is_string(args[1][0]):
                    raise NotImplementedError(
                        f"{low}: the encoding name must be a literal"
                    )
                enc = args[1][0].strip("'").lower().replace("-", "").replace("_", "")
                # SQL_ASCII in PG performs NO conversion — bytes pass
                # through verbatim (mbutils.c pg_do_encoding_conversion
                # short-circuits).  Java's us-ascii would replace >=0x80
                # bytes with U+FFFD, so pick the byte-transparent charset
                # per direction: bytea→text reads each byte as one char
                # (iso-8859-1); text→bytea emits the internal utf-8 bytes
                # unchanged, exactly what PG's UTF8 server encoding holds.
                cmap = {
                    "utf8": "utf-8", "unicode": "utf-8",
                    "latin1": "iso-8859-1", "iso88591": "iso-8859-1",
                    "sqlascii": "iso-8859-1", "ascii": "iso-8859-1",
                    "utf16": "utf-16",
                }
                if enc not in cmap:
                    raise NotImplementedError(
                        f"{low} encoding {args[1][0]}: UTF8/LATIN1/"
                        "SQL_ASCII/UTF16 are the supported names"
                    )
                a = " ".join(args[0])
                if low == "convert_from":
                    new = f"decode(({a}), '{cmap[enc]}')"
                else:
                    to_cs = "utf-8" if enc in ("sqlascii", "ascii") else cmap[enc]
                    new = f"encode(CAST(({a}) AS STRING), '{to_cs}')"
                out[i : close + 1] = tokenize(new)
                i += 1
                continue
            if low == "encode" and len(args) == 2 and args[1] == ["'hex'"]:
                out[i : close + 1] = ["lower", "(", "hex", "("] + args[0] + [")", ")"]
                continue
            if low == "decode" and len(args) == 2 and args[1] == ["'hex'"]:
                out[i : close + 1] = ["unhex", "("] + args[0] + [")"]
                continue
            if (
                low in ("json_build_object", "jsonb_build_object")
                and args
                and len(args) % 2 == 0
            ):
                # json.c json_build_object: alternating key/value arguments
                # → to_json(named_struct(...)).  Keys must be foldable
                # strings (the overwhelmingly common literal-key form);
                # named_struct rejects non-literal keys loudly.
                inner: list[str] = []
                for a in args:
                    inner += a + [","]
                out[i : close + 1] = (
                    ["to_json", "(", "named_struct", "("]
                    + inner[:-1]
                    + [")", ")"]
                )
                continue
            if low in ("json_build_array", "jsonb_build_array") and args:
                # homogeneous element types only (Spark arrays are typed)
                inner = []
                for a in args:
                    inner += a + [","]
                out[i : close + 1] = (
                    ["to_json", "(", "array", "("] + inner[:-1] + [")", ")"]
                )
                continue
            if low == "row_to_json" and len(args) == 1:
                a0 = args[0]
                if len(a0) == 1 and is_ident(a0[0]):
                    # row_to_json(alias) over a FROM-item → whole-row struct
                    out[i : close + 1] = [
                        "to_json", "(", "struct", "(", a0[0], ".", "*", ")", ")",
                    ]
                else:
                    out[i : close + 1] = ["to_json", "("] + a0 + [")"]
                continue
            if low == "json_extract_path_text":
                path = "$." + ".".join(a[0].strip("'") for a in args[1:])
                out[i : close + 1] = ["get_json_object", "("] + args[0] + [",", f"'{path}'", ")"]
                continue
            if low == "log" and len(args) == 1:
                out[i] = "log10"
                i += 1
                continue
            if low == "median" and len(args) == 1:
                out[i : close + 1] = ["percentile", "("] + args[0] + [",", "0.5", ")"]
                continue
            if (
                low in ("rank", "dense_rank", "percent_rank", "cume_dist")
                and len(args) == 1
                and args[0]
                and close + 3 < len(out)
                and is_ident(out[close + 1])
                and out[close + 1].lower() == "within"
                and is_ident(out[close + 2])
                and out[close + 2].lower() == "group"
                and out[close + 3] == "("
            ):
                # hypothetical-set aggregates (orderedsetaggs.c:155):
                # rank(h) = count(v < h) + 1 over the group, etc. —
                # conditional counts, fully partial-aggregatable (the
                # DataFrame twins live in operators/aggregate.py)
                wend = match_close(out, close + 3)
                spec = out[close + 4 : wend]
                if (
                    len(spec) >= 3
                    and is_ident(spec[0])
                    and spec[0].lower() == "order"
                    and spec[1].lower() == "by"
                ):
                    body = spec[2:]
                    desc = False
                    if body and is_ident(body[-1]) and body[-1].lower() in (
                        "asc", "desc"
                    ):
                        desc = body[-1].lower() == "desc"
                        body = body[:-1]
                    v = "( " + join_tokens(body) + " )"
                    h = "( " + " ".join(args[0]) + " )"
                    lt = ">" if desc else "<"
                    le = ">=" if desc else "<="
                    if low == "rank":
                        new = (
                            f"(count(CASE WHEN {v} {lt} {h} THEN 1 END) + 1)"
                        )
                    elif low == "dense_rank":
                        new = (
                            f"(count(DISTINCT CASE WHEN {v} {lt} {h} "
                            f"THEN {v} END) + 1)"
                        )
                    elif low == "percent_rank":
                        new = (
                            f"(CAST(count(CASE WHEN {v} {lt} {h} THEN 1 "
                            f"END) AS DOUBLE) / greatest(count(1), 1))"
                        )
                    else:  # cume_dist
                        new = (
                            f"(CAST(count(CASE WHEN {v} {le} {h} THEN 1 "
                            f"END) + 1 AS DOUBLE) / (count(1) + 1))"
                        )
                    out[i : wend + 1] = tokenize(new)
                    continue
            if (
                low in ("percentile_cont", "percentile_disc")
                and len(args) == 1
                and len(args[0]) == 1
                and args[0][0].lower() == "null"
            ):
                # PG ordered-set aggs return NULL for a NULL fraction
                # (orderedsetaggs.c); Spark and DuckDB both reject a NULL
                # percentage, so fold the whole aggregate — including a
                # trailing WITHIN GROUP (ORDER BY ...) — to a NULL-valued
                # aggregate (max keeps scalar/grouped cardinality intact).
                end = close
                j = close + 1
                if (
                    j + 2 < len(out)
                    and is_ident(out[j])
                    and out[j].lower() == "within"
                    and is_ident(out[j + 1])
                    and out[j + 1].lower() == "group"
                    and out[j + 2] == "("
                ):
                    end = match_close(out, j + 2)
                out[i : end + 1] = [
                    "max", "(", "cast", "(", "null", "as", "double", ")", ")",
                ]
                continue
            if low == "div" and len(args) == 2:
                out[i : close + 1] = ["("] + args[0] + ["DIV"] + args[1] + [")"]
                continue
            if (
                low == "trunc"
                and len(args) == 2
                and not (len(args[1]) == 1 and is_string(args[1][0]))
            ):
                # numeric.c trunc(v, s): truncate toward zero at scale s
                # (string second arg is Spark's own trunc(date, fmt) —
                # untouched)
                v, s = " ".join(args[0]), " ".join(args[1])
                out[i : close + 1] = tokenize(
                    f"(CASE WHEN ({v}) >= 0 THEN floor(({v}) * power(10, ({s}))) "
                    f"ELSE ceil(({v}) * power(10, ({s}))) END / power(10, ({s})))"
                )
                continue
            if (
                low == "format"
                and len(args) >= 1
                and len(args[0]) == 1
                and is_string(args[0][0])
            ):
                out[i : close + 1] = _lower_pg_format(args)
                continue
            if (
                low == "regexp_matches"
                and len(args) in (2, 3)
                and len(args[1]) == 1
                and is_string(args[1][0])
            ):
                out[i : close + 1] = _lower_regexp_matches(args)
                continue
            if (
                low == "unnest"
                and len(args) == 1
                and (md := _md_array_depth(args[0])) >= 2
            ):
                # multi-dim arrays unnest to SCALARS in storage order
                # (arrayfuncs.c array_unnest walks the flat data array)
                inner = " ".join(args[0])
                for _ in range(md - 1):
                    inner = f"flatten({inner})"
                out[i : close + 1] = tokenize(f"explode({inner})")
                continue
            if low in ("similarity", "show_trgm", "difference") and args:
                # contrib/pg_trgm trgm_op.c; fuzzystrmatch difference
                from greengage_spark.functions import trgm

                if low == "similarity" and len(args) == 2:
                    expansion = trgm.similarity_sql(
                        " ".join(args[0]), " ".join(args[1])
                    )
                elif low == "show_trgm" and len(args) == 1:
                    expansion = trgm.trigrams_sql(" ".join(args[0]))
                elif low == "difference" and len(args) == 2:
                    expansion = trgm.difference_sql(
                        " ".join(args[0]), " ".join(args[1])
                    )
                else:
                    i += 1
                    continue
                out[i : close + 1] = ["(" + expansion + ")"]
                continue
            if (
                low == "digest"
                and len(args) == 2
                and len(args[1]) == 1
                and is_string(args[1][0])
            ):
                # contrib/pgcrypto digest(data, algo) → bytea (px.c)
                algo = args[1][0].strip("'").lower()
                x = " ".join(args[0])
                if algo == "md5":
                    expr = f"unhex(md5(({x})))"
                elif algo == "sha1":
                    expr = f"unhex(sha1(({x})))"
                elif algo in ("sha224", "sha256", "sha384", "sha512"):
                    expr = f"unhex(sha2(({x}), {algo[3:]}))"
                else:
                    raise NotImplementedError(
                        f"digest algorithm {algo!r} (md5, sha1, sha224, "
                        "sha256, sha384, sha512)"
                    )
                out[i : close + 1] = tokenize(expr)
                continue
            if (
                low == "hmac"
                and len(args) == 3
                and len(args[2]) == 1
                and is_string(args[2][0])
            ):
                # contrib/pgcrypto hmac(data, key, type) → bytea
                # (pgcrypto.c:161); Arrow-batched UDF — no JVM builtin
                algo = args[2][0].strip("'").lower()
                if algo not in (
                    "md5", "sha1", "sha224", "sha256", "sha384", "sha512"
                ):
                    raise NotImplementedError(
                        f"hmac algorithm {algo!r} (md5, sha1, sha224, "
                        "sha256, sha384, sha512)"
                    )
                a, k = (" ".join(x) for x in args[:2])
                out[i : close + 1] = tokenize(
                    f"pg_hmac(CAST(({a}) AS STRING), "
                    f"CAST(({k}) AS STRING), '{algo}')"
                )
                continue
            if low in (
                "nlevel", "subltree", "subpath", "lca",
                "text2ltree", "ltree2text",
            ) or (low == "index" and len(args) in (2, 3)):
                # contrib/ltree function surface (ltree_op.c; emitters in
                # functions/ltree_ops.py — all JVM array expressions)
                from greengage_spark.functions import ltree_ops as L

                a = ["(" + " ".join(x) + ")" for x in args]
                if low == "nlevel" and len(a) == 1:
                    expr = L.nlevel_sql(a[0])
                elif low == "subltree" and len(a) == 3:
                    expr = L.subltree_sql(*a)
                elif low == "subpath" and len(a) in (2, 3):
                    expr = L.subpath_sql(*a)
                elif low == "index":
                    expr = L.index_sql(*a)
                elif low == "lca" and 1 <= len(a) <= 8:
                    if len(a) == 1 and args[0] and is_string(args[0][0]) \
                            and args[0][0].lstrip("'").startswith("{"):
                        raise NotImplementedError(
                            "lca('{...}') array form — pass the paths as "
                            "separate arguments (up to 8, as in PG)"
                        )
                    expr = L.lca_sql(*a)
                elif low in ("text2ltree", "ltree2text") and len(a) == 1:
                    expr = a[0]  # identity: ltree IS its text form
                else:
                    i += 1
                    continue
                out[i : close + 1] = tokenize(expr)
                continue
            if low in ("xpath", "xpath_exists") and len(args) in (2, 3):
                # xml.c:4082,4132 — child/attribute/text() subset over an
                # Arrow-batched ElementTree UDF (functions/xmlquery.py);
                # the 3-arg namespace array resolves prefixed steps and
                # results serialize with the document's own prefixes
                if len(args) == 3:
                    p, x, n = (" ".join(a) for a in args)
                    fn = (
                        "pg_xpath_ns"
                        if low == "xpath"
                        else "pg_xpath_exists_ns"
                    )
                    out[i : close + 1] = tokenize(
                        f"{fn}(CAST(({p}) AS STRING), "
                        f"CAST(({x}) AS STRING), "
                        f"CAST(({n}) AS ARRAY<ARRAY<STRING>>))"
                    )
                    continue
                p, x = (" ".join(a) for a in args)
                fn = "pg_xpath" if low == "xpath" else "pg_xpath_exists"
                out[i : close + 1] = tokenize(
                    f"{fn}(CAST(({p}) AS STRING), CAST(({x}) AS STRING))"
                )
                continue
            if low == "instr" and len(args) in (3, 4):
                # orafce plvstr.c instr(str, sub, pos [, nth]) — Spark's
                # 2-arg instr passes through untouched
                from greengage_spark.functions.orafce import instr_sql

                a = [" ".join(x) for x in args]
                nth = a[3] if len(a) == 4 else "1"
                out[i : close + 1] = [
                    "(" + instr_sql(a[0], a[1], a[2], nth) + ")"
                ]
                continue
            if low == "lnnvl" and len(args) == 1:
                # orafce lnnvl: TRUE when the condition is FALSE or NULL
                a = " ".join(args[0])
                out[i : close + 1] = tokenize(f"(({a}) IS NOT TRUE)")
                continue
            if low == "nanvl" and len(args) == 2:
                a, b = (" ".join(x) for x in args)
                out[i : close + 1] = tokenize(
                    f"(CASE WHEN isnan(CAST(({a}) AS DOUBLE)) "
                    f"THEN ({b}) ELSE ({a}) END)"
                )
                continue
            if low == "wm_concat" and len(args) == 1:
                a = " ".join(args[0])
                out[i : close + 1] = tokenize(
                    f"string_agg(CAST(({a}) AS STRING), ',')"
                )
                continue
            if (
                low == "round"
                and len(args) == 2
                and len(args[1]) == 1
                and is_string(args[1][0])
            ):
                # orafce ROUND(date, 'fmt') — numeric round keeps its
                # normal lowering (second arg numeric)
                from greengage_spark.functions.orafce import round_date_sql

                out[i : close + 1] = [
                    "("
                    + round_date_sql(" ".join(args[0]), args[1][0])
                    + ")"
                ]
                continue
            if low in (
                "xpath_string", "xpath_number", "xpath_bool"
            ) and len(args) == 2:
                # contrib/xml2 (xpath.c): (document, query) — argument
                # order REVERSED vs xpath(query, document)
                d, p = (" ".join(x) for x in args)
                out[i : close + 1] = tokenize(
                    f"pg_{low}(CAST(({d}) AS STRING), CAST(({p}) AS STRING))"
                )
                continue
            if low == "xpath_list" and len(args) in (2, 3):
                d, p = (" ".join(x) for x in args[:2])
                sep = " ".join(args[2]) if len(args) == 3 else "','"
                out[i : close + 1] = tokenize(
                    f"pg_xpath_list(CAST(({d}) AS STRING), "
                    f"CAST(({p}) AS STRING), CAST(({sep}) AS STRING))"
                )
                continue
            if low == "xpath_nodeset" and len(args) in (2, 3, 4):
                a = [" ".join(x) for x in args]
                top = a[2] if len(a) >= 3 else "''"
                item = a[3] if len(a) == 4 else "''"
                out[i : close + 1] = tokenize(
                    f"pg_xpath_nodeset(CAST(({a[0]}) AS STRING), "
                    f"CAST(({a[1]}) AS STRING), CAST(({top}) AS STRING), "
                    f"CAST(({item}) AS STRING))"
                )
                continue
            if low in ("xml_valid", "xml_is_well_formed") and len(args) == 1:
                a = " ".join(args[0])
                out[i : close + 1] = tokenize(
                    f"pg_xml_valid(CAST(({a}) AS STRING))"
                )
                continue
            if low == "timeofday" and len(args) == 0:
                # misc.c timeofday(): wall clock as PG's asctime-style
                # text ('Wed Aug 15 17:00:00.000000 2026 UTC')
                out[i : close + 1] = tokenize(
                    "date_format(now(), "
                    "'EEE MMM dd HH:mm:ss.SSSSSS yyyy zz')"
                )
                continue
            if low == "to_ascii" and len(args) in (1, 2):
                # ascii.c to_ascii: LATIN-block accent fold to ASCII —
                # the unaccent translate table covers the same block
                from greengage_spark.functions.unaccent import unaccent_sql

                out[i : close + 1] = tokenize(
                    unaccent_sql(" ".join(args[0]))
                )
                continue
            if low == "unaccent" and len(args) in (1, 2):
                # contrib/unaccent unaccent.c:262 unaccent_dict — the
                # 2-arg form names a dictionary; only the stock one
                # exists.  Lowered to one JVM translate() (every stock
                # rule is single-char → single-char).
                if len(args) == 2:
                    d = args[0]
                    dname = (
                        d[0].strip("'").lower().split(".")[-1]
                        if len(d) == 1 and is_string(d[0])
                        else None
                    )
                    # tolerate a ::regdictionary cast on the literal
                    if dname is None and (
                        len(d) == 3
                        and is_string(d[0])
                        and d[1] == "::"
                        and d[2].lower() == "regdictionary"
                    ):
                        dname = d[0].strip("'").lower().split(".")[-1]
                    if dname != "unaccent":
                        raise NotImplementedError(
                            "unaccent: only the stock 'unaccent' "
                            "dictionary is available"
                        )
                    args = args[1:]
                from greengage_spark.functions.unaccent import unaccent_sql

                out[i : close + 1] = tokenize(
                    unaccent_sql(" ".join(args[0]))
                )
                continue
            if low == "crypt" and len(args) == 2:
                # pgcrypto.c:204 crypt(password, salt) — md5-crypt scheme
                a, b = (" ".join(x) for x in args)
                out[i : close + 1] = tokenize(f"pg_crypt(({a}), ({b}))")
                continue
            if low in ("encrypt", "decrypt") and len(args) == 3:
                # pgcrypto.h:43-44 encrypt/decrypt(data, key, type) —
                # zero-IV block cipher (functions/pgcipher.py AES core)
                a, k, t = ("(" + " ".join(x) + ")" for x in args)
                out[i : close + 1] = tokenize(
                    f"pg_{low}(CAST({a} AS BINARY), CAST({k} AS BINARY), "
                    f"CAST({t} AS STRING))"
                )
                continue
            if low in ("encrypt_iv", "decrypt_iv") and len(args) == 4:
                # pgcrypto.h:45 — explicit IV variant
                a, k, v, t = ("(" + " ".join(x) + ")" for x in args)
                out[i : close + 1] = tokenize(
                    f"pg_{low}(CAST({a} AS BINARY), CAST({k} AS BINARY), "
                    f"CAST({v} AS BINARY), CAST({t} AS STRING))"
                )
                continue
            if low == "pgp_sym_encrypt" and len(args) in (2, 3):
                # pgp-pgsql.c:538 — RFC 4880 SymKey-ESK + SEIPD subset
                a = ["(" + " ".join(x) + ")" for x in args]
                opts = f"CAST({a[2]} AS STRING)" if len(a) == 3 else "NULL"
                out[i : close + 1] = tokenize(
                    f"pg_pgp_sym_encrypt(CAST({a[0]} AS STRING), "
                    f"CAST({a[1]} AS STRING), {opts})"
                )
                continue
            if low in (
                "pgp_sym_decrypt", "pgp_sym_decrypt_bytea"
            ) and len(args) in (2, 3):
                a = ["(" + " ".join(x) + ")" for x in args]
                opts = f"CAST({a[2]} AS STRING)" if len(a) == 3 else "NULL"
                fn = (
                    "pg_pgp_sym_decrypt_bytea"
                    if low.endswith("bytea")
                    else "pg_pgp_sym_decrypt"
                )
                out[i : close + 1] = tokenize(
                    f"{fn}(CAST({a[0]} AS BINARY), "
                    f"CAST({a[1]} AS STRING), {opts})"
                )
                continue
            if low == "pgp_sym_encrypt_bytea" and len(args) in (2, 3):
                # writes literal-format 'b' (pgp-encrypt.c:387) where the
                # text variant writes 't'
                a = ["(" + " ".join(x) + ")" for x in args]
                opts = f"CAST({a[2]} AS STRING)" if len(a) == 3 else "NULL"
                out[i : close + 1] = tokenize(
                    f"pg_pgp_sym_encrypt_bytea(CAST({a[0]} AS BINARY), "
                    f"CAST({a[1]} AS STRING), {opts})"
                )
                continue
            if low == "armor" and len(args) == 1:
                # pgp-armor.c — base64 + CRC-24 framing
                a = " ".join(args[0])
                out[i : close + 1] = tokenize(
                    f"pg_armor(CAST(({a}) AS BINARY))"
                )
                continue
            if low == "dearmor" and len(args) == 1:
                a = " ".join(args[0])
                out[i : close + 1] = tokenize(
                    f"pg_dearmor(CAST(({a}) AS STRING))"
                )
                continue
            if low == "gen_salt" and len(args) in (1, 2):
                # pgcrypto.c:232 gen_salt(type [, iter]) — md5 takes no
                # iteration count; bf's is the log2 cost (px-crypt.c)
                a = " ".join(args[0])
                if len(args) == 2:
                    b = " ".join(args[1])
                    out[i : close + 1] = tokenize(
                        f"pg_gen_salt2(({a}), CAST(({b}) AS INT))"
                    )
                else:
                    out[i : close + 1] = tokenize(f"pg_gen_salt(({a}))")
                continue
            if low == "levenshtein_less_equal" and len(args) == 3:
                # fuzzystrmatch: exact only up to k, anything larger may
                # report k+1 (the documented contract)
                a, b, k = (" ".join(x) for x in args)
                out[i : close + 1] = tokenize(
                    f"(CASE WHEN levenshtein(({a}), ({b})) <= ({k}) "
                    f"THEN levenshtein(({a}), ({b})) ELSE ({k}) + 1 END)"
                )
                continue
            if low == "concat" and args:
                # varlena.c text_concat is variadic and SKIPS NULLs
                # (Spark's concat returns NULL on any NULL input);
                # concat_ws('') has PG's skip semantics
                new = ["concat_ws", "(", "''"]
                for a in args:
                    new += [","] + a
                out[i : close + 1] = new + [")"]
                continue
            if low == "make_interval" and len(args) <= 7:
                # timestamp.c make_interval: (years, months, weeks, days,
                # hours, mins, secs).  Spark splits interval types, so
                # the literal-argument form routes to make_ym_interval /
                # make_dt_interval; a genuinely mixed call has no
                # representable result type
                vals = [" ".join(a) for a in args] + ["0"] * (7 - len(args))
                ym_zero = all(v.strip() == "0" for v in vals[:2])
                dt_zero = all(v.strip() == "0" for v in vals[2:])
                if ym_zero:
                    d = f"({vals[3]}) + 7 * ({vals[2]})"
                    out[i : close + 1] = tokenize(
                        f"make_dt_interval({d}, {vals[4]}, {vals[5]}, {vals[6]})"
                    )
                    continue
                if dt_zero:
                    out[i : close + 1] = tokenize(
                        f"make_ym_interval({vals[0]}, {vals[1]})"
                    )
                    continue
                raise NotImplementedError(
                    "make_interval mixing year-month and day-time parts "
                    "has no Spark interval type"
                )
            if low in ("to_json", "to_jsonb") and len(args) == 1:
                # json.c to_json renders ANY value; Spark's only takes
                # complex types.  Wrap in a one-element array and strip
                # the brackets — scalars render as JSON scalars (strings
                # keep their quotes, unlike get_json_object), complex
                # values pass through unchanged.  An arg that is already
                # an array constructor needs no wrap (and skipping it
                # terminates the rewrite's own recursion).
                head0 = (
                    args[0][0].lower()
                    if args[0] and is_ident(args[0][0])
                    else None
                )
                if head0 == "array":
                    out[i] = "to_json"
                    i += 1
                    continue
                a0 = " ".join(args[0])
                wrapped = f"to_json(array(({a0})))"
                out[i : close + 1] = tokenize(
                    f"(CASE WHEN ({a0}) IS NULL THEN NULL ELSE "
                    f"substr({wrapped}, 2, length({wrapped}) - 2) END)"
                )
                continue
            if low == "age" and len(args) in (1, 2):
                # timestamp.c timestamp_age — symbolic interval, rendered
                # as PG text (functions/horology.py documents the
                # mixed-interval type divergence).  The 1-arg form ages
                # against today's midnight (timestamptz_age vs
                # CURRENT_DATE, gram.y func_expr)
                if len(args) == 2:
                    a0, a1 = " ".join(args[0]), " ".join(args[1])
                else:
                    a0, a1 = "CAST(current_date() AS STRING)", " ".join(args[0])
                out[i : close + 1] = tokenize(
                    f"pg_age(CAST(({a0}) AS TIMESTAMP_NTZ), "
                    f"CAST(({a1}) AS TIMESTAMP_NTZ))"
                )
                continue
            if (
                low in ("substr", "substring")
                and len(args) in (2, 3)
                and not (len(args[1]) == 1 and is_string(args[1][0]))
                and args[1][:1] != ["greatest"]  # already rewritten
            ):
                # varlena.c text_substr: a start below 1 clips from
                # position 1 with the window shortened (substr('hello',
                # -1, 3) = 'h'); Spark's negative start counts from the
                # END — silently different rows, so always guard
                s0, s1 = " ".join(args[0]), " ".join(args[1])
                if len(args) == 3:
                    s2 = " ".join(args[2])
                    out[i : close + 1] = tokenize(
                        f"substring(({s0}), greatest(({s1}), 1), "
                        f"greatest(({s1}) + ({s2}) - greatest(({s1}), 1), 0))"
                    )
                else:
                    out[i : close + 1] = tokenize(
                        f"substring(({s0}), greatest(({s1}), 1))"
                    )
                continue
            if low in (
                "justify_days", "justify_hours", "justify_interval"
            ) and len(args) == 1:
                a0 = " ".join(args[0])
                out[i : close + 1] = tokenize(f"pg_{low}(({a0}))")
                continue
            if low in ("num_nonnulls", "num_nulls") and args:
                # variadic NULL counters (misc.c, PG 9.6)
                neg = "NOT " if low == "num_nonnulls" else ""
                body = " + ".join(
                    f"(CASE WHEN ({' '.join(a)}) IS {neg}NULL THEN 1 ELSE 0 END)"
                    for a in args
                )
                out[i : close + 1] = tokenize(f"CAST(({body}) AS INT)")
                continue
            if low in _FUNC_RENAME:
                out[i] = _FUNC_RENAME[low]
                i += 1
                continue
        i += 1
    return out


_ORDER_KEY_END = {
    "limit", "offset", "rows", "range", "groups", "fetch", "for",
    "union", "intersect", "except", ";",
}


def _pass_order_by_nulls(toks: list[str]) -> list[str]:
    """Make every ORDER BY key carry PG's default null placement
    (nodeSort.c: ASC → NULLS LAST, DESC → NULLS FIRST); Spark's defaults
    are the opposite (ASC → NULLS FIRST, DESC → NULLS LAST), which flips
    results under LIMIT and inside window frames whenever a sort key is
    nullable.  Keys with an explicit NULLS FIRST/LAST are untouched;
    WITHIN GROUP (ORDER BY ...) is skipped (ordered-set aggregates ignore
    nulls, and Spark's grammar does not take a nulls spec there)."""
    out = list(toks)
    # paren stack: True when the group is a WITHIN GROUP ( ... )
    stack: list[bool] = []
    i = 0
    while i < len(out):
        t = out[i]
        if t == "(":
            stack.append(
                i >= 2
                and is_ident(out[i - 1])
                and out[i - 1].lower() == "group"
                and is_ident(out[i - 2])
                and out[i - 2].lower() == "within"
            )
        elif t == ")":
            if stack:
                stack.pop()
        elif (
            is_ident(t)
            and t.lower() == "order"
            and i + 1 < len(out)
            and is_ident(out[i + 1])
            and out[i + 1].lower() == "by"
            and not (stack and stack[-1])
        ):
            key_start = i + 2
            while True:
                j = next(
                    (k for k, tk in top_level(out, key_start)
                     if tk in CLOSE or tk == ","
                     or is_ident(tk) and tk.lower() in _ORDER_KEY_END),
                    len(out),
                )
                key = [x.lower() if is_ident(x) else x for x in out[key_start:j]]
                if key and "nulls" not in key:
                    out[j:j] = ["NULLS", "FIRST" if key[-1] == "desc" else "LAST"]
                    j += 2
                if j >= len(out) or out[j] != ",":
                    break
                key_start = j + 1
            i = j
            continue
        i += 1
    return out


def _pass_subscripts(toks: list[str]) -> list[str]:
    """PG 1-based array subscripts/slices → element_at/slice.

    ``arr[2]`` → element_at(arr, 2); ``arr[2:4]`` → slice(arr, 2, 3).
    Spark's own ``[]`` operator is 0-based, so leaving subscripts untouched
    would silently shift every access by one (arrayfuncs.c is 1-based).
    """
    while True:
        idx = None
        for i in range(len(toks) - 2):
            if (
                toks[i] == "["
                and i > 0
                and _is_operand_end(toks[i - 1])
                and re.match(r"^\d+$", toks[i + 1])
                and toks[i + 2] in ("]", ":")
            ):
                idx = i
                break
        if idx is None:
            return toks
        start = operand_start(toks, idx - 1)
        left = toks[start:idx]
        lo = toks[idx + 1]
        if toks[idx + 2] == "]":
            new = ["element_at", "("] + left + [",", lo, ")"]
            end = idx + 2
        else:
            hi = toks[idx + 3]
            count = str(int(hi) - int(lo) + 1)
            new = ["slice", "("] + left + [",", lo, ",", count, ")"]
            end = idx + 4
        toks = toks[:start] + new + toks[end + 1 :]


# argument text may nest parens two levels deep (parenthesized macro
# args, function calls) — e.g. generate_series(($1), ($2)) from an
# expanded SETOF plpgsql FOR loop
_PARENS2 = r"(?:[^()]|\((?:[^()]|\([^()]*\))*\))*"

_GENSERIES_FROM_RE = re.compile(
    r"\bFROM\s+generate_series\s*\((" + _PARENS2 + r")\)\s*"
    r"(?:AS\s+)?(\w+)\s*\(\s*(\w+)\s*\)",
    re.IGNORECASE,
)

# bare forms: `FROM generate_series(a,b)` (PG column name = generate_series)
# and `FROM generate_series(a,b) i` (PG: a bare SRF alias names the column
# too, gram.y func_alias_clause).  A trailing keyword is not an alias.
_GENSERIES_FROM_BARE_RE = re.compile(
    # gram.y accepts the alias glued to the close paren: generate_series(1,2)a
    r"\bFROM\s+generate_series\s*\((" + _PARENS2 + r")\)"
    r"(?:\s*(?:AS\s+)?"
    r"(?!WHERE\b|GROUP\b|ORDER\b|HAVING\b|LIMIT\b|OFFSET\b|UNION\b|INTERSECT\b"
    r"|EXCEPT\b|JOIN\b|ON\b|USING\b|LEFT\b|RIGHT\b|FULL\b|INNER\b|CROSS\b|AS\b)"
    r"(\w+))?",
    re.IGNORECASE,
)


def _rewrite_from_generate_series(sql: str) -> str:
    """FROM generate_series(a,b) [AS] t(x) → FROM (SELECT explode(sequence(a,b)) AS x) t"""
    sql = _GENSERIES_FROM_RE.sub(
        lambda m: f"FROM (SELECT explode(sequence({m.group(1)})) AS {m.group(3)}) {m.group(2)}",
        sql,
    )
    return _GENSERIES_FROM_BARE_RE.sub(
        lambda m: "FROM (SELECT explode(sequence({0})) AS {1}) {1}".format(
            m.group(1), m.group(2) or "generate_series"
        ),
        sql,
    )


def _rewrite_distinct_on(sql: str) -> str:
    """PG ``SELECT DISTINCT ON (keys) ... ORDER BY keys, tiebreak`` →
    row_number() OVER (PARTITION BY keys ORDER BY ...) = 1 subquery —
    the rewrite the planner applies conceptually (PG keeps the first row
    of each key group in ORDER BY order)."""
    m = re.match(r"(?is)^(\s*)select\s+distinct\s+on\s*\(", sql)
    if not m:
        # nested occurrence: a DISTINCT ON subquery is always
        # parenthesized — rewrite the inner text and splice it back
        m2 = re.search(r"(?is)\(\s*(select\s+distinct\s+on\s*\()", sql)
        if not m2:
            return sql
        open_idx = m2.start()
        close_idx = close_of(sql, open_idx)
        inner = sql[open_idx + 1 : close_idx]
        return _rewrite_distinct_on(
            sql[: open_idx + 1] + _rewrite_distinct_on(inner) + sql[close_idx:]
        )
    open_idx = sql.index("(", m.end() - 1)
    close_idx = close_of(sql, open_idx)
    keys = sql[open_idx + 1 : close_idx].strip()
    rest = sql[close_idx + 1 :]

    from_idx = find_top_level(rest, "from")
    if from_idx < 0:
        raise NotImplementedError("DISTINCT ON without FROM")
    select_list = rest[:from_idx].strip()
    body = rest[from_idx:]
    order_idx = find_top_level(body, "order")
    if order_idx >= 0:
        order_list = re.sub(r"(?is)^order\s+by\s+", "", body[order_idx:]).strip()
        body = body[:order_idx].rstrip()
    else:
        order_list = keys
    return (
        f"SELECT * EXCEPT (__rn) FROM (SELECT {select_list}, "
        f"row_number() OVER (PARTITION BY {keys} ORDER BY {order_list}) AS __rn "
        f"{body}) WHERE __rn = 1"
    )


def transpile(sql: str) -> str:
    """PG/Greenplum SQL → Spark SQL."""
    sql = _rewrite_distinct_on(sql)
    sql = _rewrite_from_generate_series(sql)
    sql = _rewrite_bit_literals(sql)
    toks = tokenize(sql)
    toks = _pass_estrings(toks)
    toks = _pass_group_by_empty(toks)
    toks = _pass_single_grouping_set(toks)
    toks = _pass_multiword_types(toks)
    toks = _pass_interval_unit_aliases(toks)
    toks = _pass_interval_mixed(toks)
    toks = _pass_interval_add_timestamp(toks)
    toks = _pass_group_by_aliases(toks)
    toks = _pass_group_extensions(toks)
    toks = _pass_with_ordinality(toks)
    toks = _pass_targetlist_srf(toks)
    toks = _pass_count_noargs(toks)
    toks = _pass_agg_filter(toks)
    toks = _pass_offset_before_limit(toks)
    toks = _pass_only_tables(toks)
    toks = _pass_typed_literals(toks)
    toks = _pass_like_escape(toks)
    toks = _pass_inline_named_windows(toks)
    toks = _pass_grouping_plain(toks)
    toks = _pass_decode(toks)
    toks = _pass_similar_to(toks)
    toks = _pass_overlaps(toks)
    toks = _pass_case_notdistinct(toks)
    toks = _pass_array_constructor(toks)
    # contrib/intagg: int_array_enum(int[]) IS unnest (intagg--1.1.sql)
    toks = [
        "unnest" if is_ident(t) and t.lower() == "int_array_enum" else t
        for t in toks
    ]
    toks = _pass_unnest_from(toks)
    toks = _pass_from_srf_items(toks)
    # user-written CAST(x AS pgtype) typenames map BEFORE ::casts emit
    # Spark type tokens, so emissions are never re-read as PG names
    # (PG `float` = float8, but our emitted FLOAT means float4)
    toks = _pass_ltree(toks)
    toks = _pass_inet_ops(toks)
    toks = _pass_range_casts(toks)
    toks = _pass_bit_casts(toks)
    toks = _pass_cast_typenames(toks)
    toks = _pass_isn(toks)
    toks = _pass_seg(toks)
    toks = _pass_cube(toks)
    toks = _pass_intarray_ops(toks)
    toks = _pass_chkpass(toks)
    toks = _pass_casts(toks)
    toks = _pass_float_int_cast_round(toks)
    toks = _pass_date_minus(toks)
    toks = _pass_date_input_literals(toks)
    toks = _pass_at_time_zone(toks)
    # geometry before json-ops (both route `->`-containing operators);
    # xml after the cast passes so embedded ::text casts are already Spark
    toks = _pass_earthdistance(toks)
    toks = _pass_geometry(toks)
    # trgm % / <-> after geometry (geo-typed operands won), before the
    # json pass (whose -> would eat the <-> arrow)
    toks = _pass_trgm_ops(toks)
    toks = _pass_xml(toks)
    toks = _pass_xmlagg(toks)
    toks = _pass_json_ops(toks)
    toks = _pass_intarray_binops(toks)
    toks = _pass_ranges(toks)
    toks = _pass_collate_strip(toks)
    toks = _pass_like_escape_backslash(toks)
    toks = _pass_like_op_spellings(toks)
    toks = _pass_between_symmetric(toks)
    toks = _pass_tablesample(toks)
    toks = _pass_lock_clauses(toks)
    toks = _pass_fetch_first(toks)
    toks = _pass_regex_ops(toks)
    toks = _pass_pow_xor(toks)
    toks = _pass_reject_large_objects(toks)
    toks = _pass_tsearch2_aliases(toks)
    toks = _pass_text_search(toks)
    toks = _pass_prefix_math_ops(toks)
    toks = _pass_factorial(toks)
    toks = _pass_array_subquery(toks)
    toks = _pass_agg_order_by(toks)
    toks = _pass_avg_bigint_exact(toks)
    toks = _pass_rank_needs_order(toks)
    toks = _pass_values_partial_alias(toks)
    toks = _pass_rowvalue_scalar(toks)
    toks = _pass_quantified(toks)
    toks = _pass_array_ops(toks)
    toks = _pass_functions(toks)
    toks = _pass_order_by_nulls(toks)
    toks = _pass_subscripts(toks)
    # PG double-quoted identifiers (ALWAYS identifiers in PG — strings are
    # single-quoted) → Spark backtick identifiers; '""' unescapes to '"'
    toks = [
        "`" + t[1:-1].replace('""', '"').replace("`", "``") + "`"
        if len(t) >= 2 and t[0] == '"' and t[-1] == '"'
        else t
        for t in toks
    ]
    # PG ''-doubling inside plain literals (scan.l xq rules; E-strings also
    # decode to this form): under escapedStringLiterals Spark reads 'a''b'
    # as the four chars a''b, so re-emit such literals as double-quoted
    # Spark strings — or, when the value also holds a '"' or a backslash
    # (both live inside double quotes), a chr(39)-concat expression.
    fixed: list[str] = []
    for t in toks:
        if len(t) >= 2 and t[0] == "'" and t[-1] == "'" and "''" in t[1:-1]:
            val = t[1:-1].replace("''", "'")
            if '"' not in val and "\\" not in val:
                fixed.append('"' + val + '"')
            else:
                parts: list[str] = []
                for k, piece in enumerate(val.split("'")):
                    if k:
                        parts.append("chr(39)")
                    if piece:
                        parts.append("'" + piece + "'")
                fixed.extend(tokenize("concat(" + " , ".join(parts) + ")"))
        else:
            fixed.append(t)
    toks = fixed
    # re-join with spaces; '.' binds tight (qualified names)
    return join_tokens(toks)


def _tsq_literal_text(arg: list[str]) -> str | None:
    """Literal tsquery argument → its text: ``'lit'``, ``'lit'::tsquery``,
    ``to_tsquery('lit')`` / ``plainto_tsquery('lit')`` (with optional
    config arg).  Non-literal expressions return None."""
    if arg and is_string(arg[0]):
        rest = arg[1:]
        if not rest or (
            len(rest) == 2 and rest[0] == "::" and rest[1].lower() == "tsquery"
        ):
            return arg[0][1:-1].replace("''", "'")
        return None
    if (
        len(arg) >= 4
        and is_ident(arg[0])
        and arg[0].lower() in ("to_tsquery", "plainto_tsquery")
        and arg[1] == "("
        and arg[-1] == ")"
    ):
        inner = split_top(arg[2:-1])
        if len(inner) == 2:  # (config, text)
            inner = inner[1:]
        if len(inner) == 1 and len(inner[0]) == 1 and is_string(inner[0][0]):
            body = inner[0][0][1:-1].replace("''", "'")
            if arg[0].lower() == "plainto_tsquery":
                lex = [t for t in re.split(r"[^a-z0-9]+", body.lower()) if t]
                return " & ".join(lex)
            return body
    return None


_TS_REWRITE_RE = re.compile(r"(?i)\bts_rewrite\b")


_TS_FN_RE = re.compile(r"(?i)\b(?:to_tsvector|to_tsquery|plainto_tsquery)\b")


def _apply_default_ts_config(sql: str, cfg: str) -> str:
    """Insert the session default_text_search_config into bare 1-argument
    to_tsvector/to_tsquery/plainto_tsquery calls, so the normalize pass
    sees the explicit-config form."""
    if not _TS_FN_RE.search(sql):
        return sql
    toks = tokenize(sql)
    changed = False
    i = 0
    while i < len(toks):
        if (
            is_ident(toks[i])
            and toks[i].lower()
            in ("to_tsvector", "to_tsquery", "plainto_tsquery")
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            close = match_close(toks, i + 1)
            if len(split_top(toks[i + 2 : close])) == 1:
                toks[i + 2 : i + 2] = [f"'{cfg}'", ","]
                changed = True
                i += 2
        i += 1
    return join_tokens(toks) if changed else sql


def fold_ts_rewrite_select(spark, sql: str) -> str:
    """``ts_rewrite(query, 'SELECT target, sample FROM ...')`` — the
    2-argument SELECT form (tsquery_rewrite.c:280 tsquery_rewrite_query).

    PG runs the SELECT over SPI and applies each returned (target,
    substitute) row IN ORDER to the canonicalized query tree; rows with a
    NULL target or NULL substitute are skipped; an empty target is a no-op;
    an empty substitute deletes the matched nodes.  The rewrite table is a
    bounded synonym dimension, so executing it on the driver is the same
    bounded collect PG's SPI cursor does:

    * literal query  → fully constant-folded to ``to_tsquery('<result>')``
      (the scalar/@@ passes then render or compile it);
    * column query   → ``pg_ts_rewrite(<q>, '<json pairs>')`` — an
      Arrow-batched pandas UDF applying the collected pairs per row.
    """
    if not _TS_REWRITE_RE.search(sql):
        return sql
    toks = tokenize(sql)
    changed = False
    i = 0
    while i < len(toks):
        if (
            is_ident(toks[i])
            and toks[i].lower() == "ts_rewrite"
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            close = match_close(toks, i + 1)
            args = split_top(toks[i + 2 : close])
            sel = None
            if len(args) == 2:
                a1 = args[1]
                # allow a trailing ::text/::varchar cast on the SELECT text
                if (
                    len(a1) == 3
                    and a1[1] == "::"
                    and a1[2].lower() in ("text", "varchar")
                ):
                    a1 = a1[:1]
                if len(a1) == 1 and is_string(a1[0]):
                    body = a1[0][1:-1].replace("''", "'")
                    if re.match(r"(?is)^\s*select\b", body):
                        sel = body
            if sel is not None:
                from greengage_spark.functions.textsearch import (
                    ts_rewrite_apply,
                    ts_rewrite_parse,
                    tsq_render,
                )

                df = pg_sql(spark, sel)
                if len(df.columns) != 2:
                    raise ValueError(
                        "ts_rewrite query must return two tsquery columns"
                    )
                pairs = [
                    (str(r[0]), str(r[1]))
                    for r in df.collect()
                    if r[0] is not None and r[1] is not None
                ]
                qtext = _tsq_literal_text(args[0])
                if qtext is not None:
                    tree = ts_rewrite_parse(qtext)
                    if tree is not None:
                        for t, s in pairs:
                            tree = ts_rewrite_apply(
                                tree, ts_rewrite_parse(t), ts_rewrite_parse(s)
                            )
                    res = tsq_render(tree, quoted=False).replace("'", "''")
                    toks[i : close + 1] = ["to_tsquery", "(", f"'{res}'", ")"]
                else:
                    import json as _json

                    from greengage_spark.functions import textsearch

                    textsearch.register_udfs(spark)
                    pj = _json.dumps(pairs).replace("'", "''")
                    qexpr = join_tokens(args[0])
                    toks[i : close + 1] = tokenize(
                        f"pg_ts_rewrite(CAST(({qexpr}) AS STRING), '{pj}')"
                    )
                changed = True
                i += 1
                continue
        i += 1
    return join_tokens(toks) if changed else sql


def pg_sql(spark, sql: str):
    """Run PG-dialect SQL on Spark (the exec_simple_query entry point,
    postgres.c:1622 — ours is transpile + Catalyst; WITH RECURSIVE routes
    to the fixpoint driver in dialect.recursive_sql)."""
    # Emitted literals are verbatim-PG (backslashes inert); that contract
    # holds only under escapedStringLiterals=true, so pin it here — the
    # caller's session may not have passed through our session factory.
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    if re.match(r"(?is)^\s*with\s+recursive\b", sql):
        from greengage_spark.dialect.recursive_sql import run_recursive_sql

        return run_recursive_sql(spark, sql)
    sql = fold_ts_rewrite_select(spark, sql)
    # pg_trgm set_limit()/similarity_threshold (trgm_op.c): the session
    # limit substitutes into % / show_limit() lowerings at plan time
    m_sl = re.match(
        r"(?is)^\s*select\s+set_limit\s*\(\s*([0-9.]+)\s*\)"
        r"\s*(?:as\s+\w+\s*)?;?\s*$",
        sql,
    )
    if m_sl:
        spark.conf.set("greengage.trgm_limit", m_sl.group(1))
        sql = f"SELECT CAST({m_sl.group(1)} AS FLOAT) AS set_limit"
    # default_text_search_config (ts_cache.c getTSCurrentConfig): bare
    # to_tsvector/to_tsquery/plainto_tsquery pick up the session config
    try:
        _dtsc = spark.conf.get("greengage.default_text_search_config", None)
    except Exception:
        _dtsc = None
    if _dtsc and _dtsc != "simple":
        sql = _apply_default_ts_config(sql, _dtsc)
    out = transpile(sql)
    if "__gg_trgm_limit__" in out:
        try:
            lim = spark.conf.get("greengage.trgm_limit", "0.3")
        except Exception:
            lim = "0.3"
        out = out.replace("__gg_trgm_limit__", lim)
    if "pg_tochar_" in out or "pg_tonumber" in out:
        from greengage_spark.functions.pg_format import register_udfs

        register_udfs(spark)
    if "pg_age" in out or "pg_justify_" in out:
        from greengage_spark.functions import horology

        horology.register_udfs(spark)
    if (
        "pg_ts_rank" in out or "pg_ts_headline" in out
        or "pg_ts_rewrite" in out or "pg_to_tsvector_en" in out
        or "pg_to_tsvector_cfg" in out
    ):
        from greengage_spark.functions import textsearch

        textsearch.register_udfs(spark)
    if "pg_hmac" in out or "pg_crypt" in out or "pg_gen_salt" in out:
        from greengage_spark.functions import pgcrypto

        pgcrypto.register_udfs(spark)
    if "pg_isn_" in out:
        from greengage_spark.functions import isn

        isn.register_udfs(spark)
    if "pg_chkpass_" in out:
        from greengage_spark.functions import chkpass

        chkpass.register_udfs(spark)
    if "pg_seg_" in out:
        from greengage_spark.functions import seg as _segmod

        _segmod.register_udfs(spark)
    if "pg_cube_" in out:
        from greengage_spark.functions import pgcube as _cubemod

        _cubemod.register_udfs(spark)
    if "pg_xpath" in out or "pg_xml_valid" in out:
        from greengage_spark.functions import xmlquery

        xmlquery.register_udfs(spark)
    if (
        "pg_encrypt" in out or "pg_decrypt" in out or "pg_pgp_sym" in out
        or "pg_armor" in out or "pg_dearmor" in out or "pg_uuid_v1" in out
    ):
        from greengage_spark.functions import pgcipher

        pgcipher.register_udfs(spark)
    return spark.sql(out)
