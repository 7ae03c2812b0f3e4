"""PG date input parser vs the reference's own expected output.

Walks /root/reference/src/test/regress/expected/date.out and checks every
``SELECT date '...'`` against parse_pg_date under the active DateStyle of
that block (ymd / dmy / mdy), including the ERROR rows.  Documented
divergences: BC years (unrepresentable in Spark DateType → we raise) and
the gp_allow_date_field_width_5digits=on rows (GUC unsupported → we keep
the default-off ERROR behavior).
"""

from __future__ import annotations

import os
import re

import pytest

from greengage_spark.dialect.datetime_input import PGDateError, parse_pg_date

_DATE_OUT = "/root/reference/src/test/regress/expected/date.out"

# forms whose date.out expectation depends on settings we intentionally
# do not model: BC output, and the 5-digit-year GUC turned on
_DIVERGENT = {"January 8, 99 BC", "2020516"}


def _cases():
    if not os.path.exists(_DATE_OUT):
        return
    lines = open(_DATE_OUT).read().split("\n")
    style = "mdy"
    seen_guc_on = False
    for i, ln in enumerate(lines):
        m = re.match(r"SET datestyle TO (\w+);", ln)
        if m:
            if m.group(1) in ("ymd", "dmy", "mdy"):
                style = m.group(1)
            continue
        if re.match(r"RESET datestyle", ln):
            style = "mdy"
            continue
        m = re.match(r"SELECT date '([^']+)';", ln)
        if not m or i + 1 >= len(lines):
            continue
        lit = m.group(1)
        if lit in _DIVERGENT:
            continue
        if lines[i + 1].startswith("ERROR"):
            yield (style, lit, "ERROR")
        elif i + 3 < len(lines) and lines[i + 2].strip() and set(lines[i + 2].strip()) <= set("-"):
            yield (style, lit, lines[i + 3].strip())


CASES = list(_cases())


@pytest.mark.skipif(not CASES, reason="reference date.out not available")
@pytest.mark.parametrize("style,lit,expected", CASES,
                         ids=[f"{s}-{l}" for s, l, _ in CASES])
def test_date_out_row(style, lit, expected):
    try:
        got = parse_pg_date(lit, style)
        got = got.isoformat() if hasattr(got, "isoformat") else got
    except PGDateError:
        got = "ERROR"
    assert got == expected


def test_specials():
    assert parse_pg_date("epoch") == "epoch"
    assert parse_pg_date(" Infinity ") == "infinity"
    assert parse_pg_date("-infinity") == "-infinity"


@pytest.mark.skipif(
    not os.path.exists(_DATE_OUT), reason="reference expected/date.out absent"
)
def test_case_count_sanity():
    # the harness must actually have parsed the battery
    assert len(CASES) > 120
