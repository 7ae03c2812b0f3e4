"""Compile-path audit of the reference's plpgsql regress battery.

Walks /root/reference/src/test/regress/sql/plpgsql.sql (read-only),
extracts every ``CREATE [OR REPLACE] FUNCTION ... LANGUAGE plpgsql``
body and feeds it to ``compile_plpgsql`` — the exact parse/compile
entry the engine uses.  Each body is classified:

* ok              — parses into a statement tree (the DO-block tier
                    includes the SETOF mode: RETURN NEXT / RETURN QUERY
                    accumulate through run_setof)
* loud-reject     — NotImplementedError / PlPgSQLError naming the gap
* parse-error     — any other exception (a silent-divergence candidate:
                    the construct should become a loud reject)

Prints a histogram of reject reasons and the total counts for the
COVERAGE.md parity note.  Trigger functions are counted separately —
triggers are out of scope by design (no mutating row events over
immutable parquet).

Usage: python tools/plpgsql_audit.py [path-to-plpgsql.sql]
"""

from __future__ import annotations

import collections
import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REGRESS = "/root/reference/src/test/regress/sql/plpgsql.sql"


def split_statements(text: str) -> list[str]:
    """Split on top-level ';' respecting '...', $tag$...$tag$, -- and
    /* */ comments."""
    out, buf = [], []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "-" and text[i : i + 2] == "--":
            j = text.find("\n", i)
            i = n if j < 0 else j + 1
            continue
        if c == "/" and text[i : i + 2] == "/*":
            j = text.find("*/", i)
            i = n if j < 0 else j + 2
            continue
        if c == "'":
            j = i + 1
            while j < n:
                if text[j] == "'":
                    if text[j : j + 2] == "''":
                        j += 2
                        continue
                    break
                j += 1
            buf.append(text[i : j + 1])
            i = j + 1
            continue
        if c == "$":
            m = re.match(r"\$[A-Za-z_]*\$", text[i:])
            if m:
                tag = m.group(0)
                j = text.find(tag, i + len(tag))
                if j < 0:
                    j = n
                buf.append(text[i : j + len(tag)])
                i = j + len(tag)
                continue
        if c == ";":
            stmt = "".join(buf).strip()
            if stmt:
                out.append(stmt)
            buf = []
            i += 1
            continue
        buf.append(c)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        out.append(tail)
    return out


_FN_RE = re.compile(
    r"(?is)^create\s+(?:or\s+replace\s+)?function\s+"
    r"(?P<name>[\w.]+)\s*\((?P<args>[^)]*)\)\s*"
    r"returns\s+(?P<ret>.+?)\s+as\s+(?P<body>'(?:[^']|'')*'|\$[A-Za-z_]*\$.*?\$[A-Za-z_]*\$)"
    r"\s*language\s+'?plpgsql'?",
    re.DOTALL,
)


def extract_functions(text: str):
    for stmt in split_statements(text):
        m = _FN_RE.match(stmt)
        if not m:
            continue
        body = m.group("body")
        if body.startswith("'"):
            body = body[1:-1].replace("''", "'")
        else:
            tag_end = body.index("$", 1) + 1
            body = body[tag_end:-tag_end]
        args = []
        raw_args = m.group("args").strip()
        if raw_args:
            for k, a in enumerate(raw_args.split(","), 1):
                toks = a.strip().split()
                # "name type" vs bare "type"; drop IN/OUT/INOUT markers
                while toks and toks[0].lower() in ("in", "out", "inout"):
                    toks.pop(0)
                args.append(toks[0] if len(toks) > 1 else f"${k}")
        yield m.group("name"), args, m.group("ret").strip(), body


_TYPE_RE = re.compile(
    r"(?is)^create\s+type\s+([\w.]+)\s+as\s*\((.*)\)\s*$"
)


def extract_composite_types(text: str) -> dict:
    """CREATE TYPE name AS (f1 t1, ...) definitions from the regress
    file — the engine would have executed these before the functions,
    so the audit models compilation with the same type context."""
    out = {}
    for stmt in split_statements(text):
        m = _TYPE_RE.match(stmt)
        if not m:
            continue
        fields = []
        depth = 0
        cur = ""
        for ch in m.group(2):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                fields.append(cur)
                cur = ""
            else:
                cur += ch
        if cur.strip():
            fields.append(cur)
        out[m.group(1).lower().split(".")[-1]] = [
            f.strip().split()[0].lower() for f in fields if f.strip()
        ]
    return out


def _classify(body: str, args: list[str], allow_sql: bool, setof: bool = False,
              types: dict | None = None):
    from greengage_spark.operators.plpgsql_interp import (
        PlPgSQLError,
        _StmtParser,
        _strip_pragmas,
        _tokenize,
        compile_plpgsql,
    )

    try:
        if allow_sql:
            # the DO-block / driver-side tier: SQL statements allowed
            toks = _tokenize(_strip_pragmas(body).strip().rstrip(";"))
            p = _StmtParser(toks, allow_sql=True, allow_setof=True,
                            composite_types=types or {})
            p.parse_block()
            if p.pos != len(p.toks):
                raise NotImplementedError(
                    f"plpgsql: trailing tokens after END: {p.toks[p.pos:p.pos+5]}"
                )
        else:
            # the per-row tier: compile exactly the way udf_ddl's
            # register_function does (SETOF bodies compile with the
            # RETURN NEXT accumulator — SQL-free ones run per row)
            compile_plpgsql(body, args, setof=setof,
                            composite_types=types)
        return "ok", None
    except (NotImplementedError, PlPgSQLError) as e:
        return "loud-reject", str(e)[:72]
    except Exception as e:  # noqa: BLE001 — audit wants everything
        return "parse-error", f"{type(e).__name__}: {e}"


def main() -> dict:
    path = sys.argv[1] if len(sys.argv) > 1 else REGRESS
    text = open(path).read()
    types = extract_composite_types(text)
    tiers = {
        "row-UDF": collections.Counter(),
        "DO-block": collections.Counter(),
    }
    reasons = collections.Counter()
    errors = []
    for name, args, ret, body in extract_functions(text):
        if ret.lower() in ("trigger", "opaque"):
            for c in tiers.values():
                c["trigger (out of scope)"] += 1
            continue
        setof = ret.lower().startswith("setof")
        for tier, allow in (("row-UDF", False), ("DO-block", True)):
            kind, msg = _classify(body, args, allow, setof=setof, types=types)
            tiers[tier][kind] += 1
            if tier == "DO-block" and kind == "loud-reject":
                reasons[msg] += 1
            if tier == "DO-block" and kind == "parse-error":
                errors.append((name, msg))
    for tier, counts in tiers.items():
        print(f"[{tier} tier] functions: {sum(counts.values())}")
        for k, v in counts.most_common():
            print(f"  {k}: {v}")
    if reasons:
        print("\nDO-block loud-reject reasons:")
        for msg, v in reasons.most_common(30):
            print(f"  {v:3d}  {msg}")
    if errors:
        print("\nDO-block parse-errors (silent-divergence candidates):")
        for name, msg in errors[:40]:
            print(f"  {name}: {msg[:110]}")
    return {t: dict(c) for t, c in tiers.items()}


if __name__ == "__main__":
    main()
