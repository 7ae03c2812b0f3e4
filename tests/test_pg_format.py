"""to_char template engine vs the reference's own expected outputs.

The NUM_* engine (greengage_spark/functions/pg_format.py) is validated
against every to_char row of the reference's numeric regression battery
(src/test/regress/sql/numeric.sql to_char_1..26 and the int8.sql
battery) and the DCH_* engine against the timestamp battery
(timestamp.sql to_char_1..11) — the expected .out files are the ground
truth, not a re-derivation.  A final end-to-end case runs a verbatim
reference query through the transpiler + Spark and compares against the
same expected rows (exercising the pandas-UDF plumbing).
"""

from __future__ import annotations

import datetime
import os
import re
from decimal import Decimal

import pytest

from greengage_spark.functions.pg_format import dch_tochar, num_tochar

_SQLDIR = "/root/reference/src/test/regress/sql"
_OUTDIR = "/root/reference/src/test/regress/expected"


def _ref_text(path: str) -> str:
    """A reference regression file's text; "" when the file is absent, so
    every case parsed from it is empty and ``_cases`` skips the test."""
    return open(path).read() if os.path.exists(path) else ""


def _cases(cases, *texts: str) -> list:
    """Parametrize list: one skipped param when a source file is absent."""
    if not all(texts):
        return [pytest.param(None, id="absent", marks=pytest.mark.skip(
            reason="reference regress sql/expected file absent"))]
    return sorted(cases)


def _unq(s: str) -> str:
    if s.startswith("E'"):
        s = s[1:]
    return s[1:-1].replace("''", "'").replace("\\\\", "\\")


def _expected_rows(out: str, name: str, skip: set[int] | None = None):
    j = out.find(f" {name} |")
    assert j >= 0, name
    block = out[j:]
    end = re.search(r"\(\d+ rows?\)", block)
    lines = [l for l in block[: end.start()].split("\n")[2:] if "|" in l]
    return [
        (l.split("| ", 1)[1] if "| " in l else "").rstrip()
        for k, l in enumerate(lines)
        if not (skip and k in skip)
    ]


# ----------------------------------------------------------- NUM battery

_NUM_SQL = _ref_text(f"{_SQLDIR}/numeric.sql")
_NUM_OUT = _ref_text(f"{_OUTDIR}/numeric.out")
_NUM_DATA = [
    Decimal(v)
    for _, v in re.findall(
        r"INSERT INTO num_data VALUES \((\d+), '([^']+)'\)", _NUM_SQL
    )
]
_NUM_TEMPLATES = {
    f"to_char_{n}": _unq(raw)
    for n, raw in re.findall(
        r"AS to_char_(\d+),\s*to_char\((?:val|'100'::numeric), "
        r"(E?'(?:[^'\\]|\\.)*')\)",
        _NUM_SQL,
    )
}


# NUM_V: formatting.c shifts the value by 10^n AND renders the n trailing
# 9/0s as digit positions (PG docs: to_char(12.34,'99V999') -> ' 12340').
# The reference regression suite has no V cases, so these are hand-written
# from PostgreSQL-documented behavior.
_V_CASES = [
    ((Decimal("12.34"), "99V999"), " 12340"),
    ((Decimal("12.4"), "99V999"), " 12400"),
    ((Decimal("12.45"), "99V9"), " 125"),
    ((Decimal("0.1"), "9V9"), "  1"),
    ((Decimal("485"), "9V99"), " ###"),  # 48500 overflows 3 digit positions
    ((Decimal("1.2"), "FM9V99"), "120"),
    ((Decimal("-1.2"), "9V9"), "-12"),
    ((Decimal("100"), "99V99"), " ####"),
]


@pytest.mark.parametrize("case", _V_CASES, ids=[t for (_, t), _ in _V_CASES])
def test_num_tochar_v_shift(case):
    (v, tmpl), exp = case
    assert num_tochar(v, tmpl) == exp


@pytest.mark.parametrize("name", _cases(_NUM_TEMPLATES, _NUM_SQL, _NUM_OUT))
def test_num_tochar_vs_reference(name):
    tmpl = _NUM_TEMPLATES[name]
    exp = _expected_rows(_NUM_OUT, name)
    inputs = _NUM_DATA if len(exp) > 1 else [Decimal(100)]
    got = [num_tochar(v, tmpl).rstrip() for v in inputs]
    assert sorted(got) == sorted(exp), tmpl


_I8_SQL = _ref_text(f"{_SQLDIR}/int8.sql")
_I8_OUT = _ref_text(f"{_OUTDIR}/int8.out")
_I8_ROWS = [
    (Decimal(123), Decimal(456)),
    (Decimal(123), Decimal(4567890123456789)),
    (Decimal(4567890123456789), Decimal(123)),
    (Decimal(4567890123456789), Decimal(4567890123456789)),
    (Decimal(4567890123456789), Decimal(-4567890123456789)),
]
_I8_QUERIES = {}
for _m in re.finditer(
    r"SELECT '' AS (to_char_\d+),\s*(to_char\(.*?)\n?\s*FROM INT8_TBL",
    _I8_SQL,
    re.S,
):
    _calls = re.findall(
        r"to_char\(\s*\(?(q[12])(?:\s*\*\s*-1\))?,\s*('(?:[^'\\]|\\.)*')\)",
        _m.group(2),
    )
    if _calls:
        _neg = "* -1" in _m.group(2)
        _I8_QUERIES[_m.group(1)] = (_calls, _neg)


@pytest.mark.parametrize("name", _cases(_I8_QUERIES, _I8_SQL, _I8_OUT))
def test_num_tochar_int8_vs_reference(name):
    calls, neg = _I8_QUERIES[name]
    exp_lines = _expected_rows(_I8_OUT, name)
    exp = sorted(
        tuple(c.rstrip() for c in l.split(" | "))
        if " | " in l
        else (l.rstrip(),)
        for l in exp_lines
    )
    got = sorted(
        tuple(
            num_tochar(
                -(q1 if var == "q1" else q2) if neg else (
                    q1 if var == "q1" else q2
                ),
                _unq(raw),
            ).rstrip()
            for var, raw in calls
        )
        for q1, q2 in _I8_ROWS
    )
    assert got == exp


# ----------------------------------------------------------- DCH battery

_TS_SQL = _ref_text(f"{_SQLDIR}/timestamp.sql")
_TS_OUT = _ref_text(f"{_OUTDIR}/timestamp.out")
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
           "Oct", "Nov", "Dec"]


def _ts_values():
    if not _TS_OUT:
        return [], set()
    j = _TS_OUT.find("SELECT '' AS \"64\", d1 FROM TIMESTAMP_TBL;")
    end = re.search(r"\(\d+ rows\)", _TS_OUT[j:])
    lines = [
        l.split("| ", 1)[1] if "| " in l else ""
        for l in _TS_OUT[j : j + end.start()].split("\n")[3:]
        if "|" in l
    ]
    vals, skip = [], set()
    for k, raw in enumerate(lines):
        s = raw.strip()
        if s in ("infinity", "-infinity") or not s:
            vals.append(None)
            continue
        if s.endswith(" BC"):
            # BC timestamps are unrepresentable in Python/Spark datetimes
            # (documented divergence, dialect/datetime_input.py)
            skip.add(k)
            vals.append(None)
            continue
        m = re.match(r"\w{3} (\w{3}) (\d+) (\d+):(\d+):(\d+)(\.\d+)? (\d+)", s)
        vals.append(
            datetime.datetime(
                int(m.group(7)), _MONTHS.index(m.group(1)) + 1,
                int(m.group(2)), int(m.group(3)), int(m.group(4)),
                int(m.group(5)), int(round(float(m.group(6) or 0) * 1e6)),
            )
        )
    return vals, skip


_TS_VALUES, _TS_SKIP = _ts_values()
_TS_TEMPLATES = {
    name: _unq(raw)
    for name, raw in re.findall(
        r"AS (to_char_\d+), to_char\(d1, (E?'(?:[^'\\]|\\.)*')\)", _TS_SQL
    )
}


@pytest.mark.parametrize("name", _cases(_TS_TEMPLATES, _TS_SQL, _TS_OUT))
def test_dch_tochar_vs_reference(name):
    tmpl = _TS_TEMPLATES[name]
    exp = _expected_rows(_TS_OUT, name, skip=_TS_SKIP)
    got = [
        ("" if v is None else dch_tochar(v, tmpl)).rstrip()
        for k, v in enumerate(_TS_VALUES)
        if k not in _TS_SKIP
    ]
    assert sorted(got) == sorted(exp), tmpl


# ------------------------------------------------- end-to-end via Spark


@pytest.mark.skipif(
    not (_NUM_SQL and _NUM_OUT), reason="reference numeric.sql/.out absent"
)
def test_tochar_udf_end_to_end(spark):
    """Verbatim reference queries through transpile + Spark (UDF path)."""
    from greengage_spark.dialect.transpiler import pg_sql

    body = ", ".join(f"({v})" for v in _NUM_DATA)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW num_data AS "
        f"SELECT CAST(val AS DECIMAL(30,15)) val FROM (VALUES {body}) t(val)"
    )
    for name in ("to_char_9", "to_char_8", "to_char_23"):
        tmpl = _NUM_TEMPLATES[name].replace("'", "''")
        got = [
            r[0].rstrip()
            for r in pg_sql(
                spark, f"SELECT to_char(val, '{tmpl}') FROM num_data"
            ).collect()
        ]
        assert sorted(got) == sorted(_expected_rows(_NUM_OUT, name)), name
    # DCH path
    ts = datetime.datetime(1997, 2, 10, 17, 32, 1)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW one_ts AS "
        "SELECT TIMESTAMP '1997-02-10 17:32:01' AS d1"
    )
    got = pg_sql(
        spark,
        "SELECT to_char(d1, 'YYYYTH \"wk\" IW J SSSS FMMonth') FROM one_ts",
    ).collect()[0][0]
    assert got == dch_tochar(ts, 'YYYYTH "wk" IW J SSSS FMMonth')
    assert got == "1997TH wk 07 2450490 63121 February"


# ------------------------------------------------------------- to_number
# Verbatim reference battery: every to_number call in numeric.sql:781-793
# against its numeric.out expected value.
_TONUM_CASES = re.findall(
    r"AS (to_number_\d+),\s*to_number\('([^']*)',\s*'([^']*)'\)", _NUM_SQL
)


@pytest.mark.parametrize(
    "case",
    _TONUM_CASES or _cases((), _NUM_SQL, _NUM_OUT),
    ids=[f"{n}:{t}" for n, _, t in _TONUM_CASES] or None,
)
def test_num_tonumber_vs_reference(case):
    from greengage_spark.functions.pg_format import num_tonumber

    name, val, tmpl = case
    exp = _expected_rows(_NUM_OUT, name)[0].strip()
    got = num_tonumber(val, tmpl)
    assert got == Decimal(exp), f"{val!r} {tmpl!r}: {got} != {exp}"


def test_num_tonumber_v_shift_and_none():
    from greengage_spark.functions.pg_format import num_tonumber

    assert num_tonumber("12400", "99V999") == Decimal("12.4")
    assert num_tonumber(None, "999") is None
    with pytest.raises(ValueError):
        num_tonumber("1e3", "9EEEE")


def test_to_number_end_to_end(spark):
    from greengage_spark.dialect.transpiler import pg_sql

    got = pg_sql(
        spark,
        "SELECT CAST(to_number('-34,338,492', '99G999G999') AS DOUBLE) AS a, "
        "CAST(to_number('<564646.654564>', '999999.999999PR') AS DOUBLE) AS b",
    ).collect()[0]
    assert got.a == -34338492.0
    assert got.b == -564646.654564
