"""PG range types (int4range/int8range/numrange/daterange/tsrange).

Reference: src/backend/utils/adt/rangetypes.c; regress rangetypes.sql.

Spark-first mapping (SURVEY §1.2): a range value is a
``STRUCT<lo, hi, lo_inc BOOLEAN, hi_inc BOOLEAN, empty BOOLEAN>``
column.  A NULL ``lo``/``hi`` is an infinite bound (PG's RANGE_LB_INF /
RANGE_UB_INF).  Discrete ranges (int, date) canonicalize to ``[lo, hi)``
exactly as rangetypes.c does via the type's canonical function, so equal
ranges compare equal as plain structs.  Every operation below is a pure
Column expression — whole-stage codegen, no UDFs, and therefore usable
in joins/filters that Catalyst can push and reorder (range-overlap joins
stay expressible as theta joins on the bound columns).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def make_range(lo, hi, bounds: str = "[)", discrete: bool = False) -> Column:
    """Range constructor (range_constructor2/3): ``bounds`` ∈ '[)','[]',
    '(]','()'.  Discrete types canonicalize to [lo, hi) by shifting
    exclusive lower / inclusive upper bounds one unit up (the int4range
    canonical function)."""
    lo, hi = F.lit(lo) if not isinstance(lo, Column) else lo, (
        F.lit(hi) if not isinstance(hi, Column) else hi
    )
    lo_inc, hi_inc = bounds[0] == "[", bounds[1] == "]"
    if discrete:
        lo = F.when(lo.isNull(), lo).otherwise(lo + (0 if lo_inc else 1))
        hi = F.when(hi.isNull(), hi).otherwise(hi + (1 if hi_inc else 0))
        lo_inc, hi_inc = True, False
    empty = (
        lo.isNotNull()
        & hi.isNotNull()
        & (
            (lo > hi)
            | ((lo == hi) & F.lit(not (lo_inc and hi_inc)))
        )
    )
    return F.struct(
        F.when(empty, F.lit(None)).otherwise(lo).alias("lo"),
        F.when(empty, F.lit(None)).otherwise(hi).alias("hi"),
        (~empty & F.lit(lo_inc)).alias("lo_inc"),
        (~empty & F.lit(hi_inc)).alias("hi_inc"),
        empty.alias("empty"),
    )


def int4range(lo, hi, bounds: str = "[)") -> Column:
    return make_range(lo, hi, bounds, discrete=True)


def numrange(lo, hi, bounds: str = "[)") -> Column:
    return make_range(lo, hi, bounds, discrete=False)


def r_lower(r: Column) -> Column:
    return r["lo"]


def r_upper(r: Column) -> Column:
    return r["hi"]


def r_isempty(r: Column) -> Column:
    return r["empty"]


def r_lower_inc(r: Column) -> Column:
    return r["lo_inc"]


def r_upper_inc(r: Column) -> Column:
    return r["hi_inc"]


def _above_lower(r: Column, x) -> Column:
    """x is above r's lower bound."""
    return r["lo"].isNull() | (r["lo"] < x) | ((r["lo"] == x) & r["lo_inc"])


def _below_upper(r: Column, x) -> Column:
    return r["hi"].isNull() | (x < r["hi"]) | ((x == r["hi"]) & r["hi_inc"])


def r_contains_elem(r: Column, x) -> Column:
    """``r @> x`` (range_contains_elem)."""
    x = F.lit(x) if not isinstance(x, Column) else x
    return ~r["empty"] & _above_lower(r, x) & _below_upper(r, x)


def _lower_le(a: Column, b: Column) -> Column:
    """a's lower bound <= b's lower bound (infinite = smallest)."""
    return (
        a["lo"].isNull()
        | (
            b["lo"].isNotNull()
            & (
                (a["lo"] < b["lo"])
                | ((a["lo"] == b["lo"]) & (a["lo_inc"] | ~b["lo_inc"]))
            )
        )
    )


def _upper_ge(a: Column, b: Column) -> Column:
    """a's upper bound >= b's upper bound (infinite = largest)."""
    return (
        a["hi"].isNull()
        | (
            b["hi"].isNotNull()
            & (
                (a["hi"] > b["hi"])
                | ((a["hi"] == b["hi"]) & (a["hi_inc"] | ~b["hi_inc"]))
            )
        )
    )


def r_contains_range(a: Column, b: Column) -> Column:
    """``a @> b`` (range_contains)."""
    return b["empty"] | (~a["empty"] & _lower_le(a, b) & _upper_ge(a, b))


def r_overlaps(a: Column, b: Column) -> Column:
    """``a && b`` (range_overlaps): both non-empty and each lower bound
    is below the other's upper bound."""

    def lo_before_hi(x, y):
        return (
            x["lo"].isNull()
            | y["hi"].isNull()
            | (x["lo"] < y["hi"])
            | ((x["lo"] == y["hi"]) & x["lo_inc"] & y["hi_inc"])
        )

    return ~a["empty"] & ~b["empty"] & lo_before_hi(a, b) & lo_before_hi(b, a)


def r_before(a: Column, b: Column) -> Column:
    """``a << b`` strictly left of (range_before)."""
    return (
        ~a["empty"]
        & ~b["empty"]
        & a["hi"].isNotNull()
        & b["lo"].isNotNull()
        & (
            (a["hi"] < b["lo"])
            | ((a["hi"] == b["lo"]) & ~(a["hi_inc"] & b["lo_inc"]))
        )
    )


def r_adjacent(a: Column, b: Column) -> Column:
    """``a -|- b`` (range_adjacent): the ranges share a boundary point
    that belongs to exactly one of them — bounds meet and exactly one
    side includes the meeting point (rangetypes.c bounds_adjacent)."""

    def meet(x, y):  # x's upper meets y's lower
        return (
            x["hi"].isNotNull()
            & y["lo"].isNotNull()
            & (x["hi"] == y["lo"])
            & (x["hi_inc"] != y["lo_inc"])
        )

    return ~a["empty"] & ~b["empty"] & (meet(a, b) | meet(b, a))


def r_adjacent_discrete(a: Column, b: Column) -> Column:
    """``a -|- b`` for canonicalized discrete [lo, hi) ranges (hi_inc is
    always false and lo_inc true, so the general test reduces to bound
    equality)."""
    return r_adjacent(a, b)


def _bind2c(a: Column, b: Column, fn) -> Column:
    """Bind two operand expressions ONCE via a one-element zip_with
    lambda — the Column-API twin of the SQL emitters' ``_bind2`` below.

    r15 (guide §7.3): compound combinators reference each operand struct
    10+ times; with inline constructor operands every reference
    duplicates the whole operand tree, so the expression grows
    multiplicatively and Catalyst analysis time explodes (measured: one
    inline ``r_intersect`` of two ``int4range`` constructors cost ~15 s
    of driver-side planning).  Inside the lambda the operands are lambda
    variables — leaves — so each operand tree appears exactly once."""
    return F.zip_with(F.array(a), F.array(b), fn)[0]


def r_intersect(a: Column, b: Column) -> Column:
    """``a * b`` (range_intersect): max lower bound, min upper bound.
    Operands bind once (see _bind2c)."""
    return _bind2c(a, b, _intersect_impl)


def _intersect_impl(a: Column, b: Column) -> Column:
    use_a_lo = ~_lower_le(a, b)
    use_a_hi = ~_upper_ge(a, b)
    lo = F.when(use_a_lo, a["lo"]).otherwise(b["lo"])
    lo_inc = F.when(use_a_lo, a["lo_inc"]).otherwise(b["lo_inc"])
    hi = F.when(use_a_hi, a["hi"]).otherwise(b["hi"])
    hi_inc = F.when(use_a_hi, a["hi_inc"]).otherwise(b["hi_inc"])
    no_overlap = a["empty"] | b["empty"] | ~r_overlaps(a, b)
    empty = no_overlap | (
        lo.isNotNull()
        & hi.isNotNull()
        & ((lo > hi) | ((lo == hi) & ~(lo_inc & hi_inc)))
    )
    return F.struct(
        F.when(empty, F.lit(None)).otherwise(lo).alias("lo"),
        F.when(empty, F.lit(None)).otherwise(hi).alias("hi"),
        (~empty & lo_inc).alias("lo_inc"),
        (~empty & hi_inc).alias("hi_inc"),
        empty.alias("empty"),
    )


def r_union(a: Column, b: Column) -> Column:
    """``a + b`` (range_union).  PG raises when the result would not be
    contiguous; here the union of non-touching ranges is flagged by a
    runtime error the same way (raise_error).  Operands bind once (see
    _bind2c)."""
    return _bind2c(a, b, _union_impl)


def _union_impl(a: Column, b: Column) -> Column:
    contiguous = (
        a["empty"] | b["empty"] | r_overlaps(a, b) | r_adjacent(a, b)
    )
    use_a_lo = _lower_le(a, b) & ~a["empty"]
    use_a_hi = _upper_ge(a, b) & ~a["empty"]
    lo = F.when(b["empty"] | use_a_lo, a["lo"]).otherwise(b["lo"])
    lo_inc = F.when(b["empty"] | use_a_lo, a["lo_inc"]).otherwise(b["lo_inc"])
    hi = F.when(b["empty"] | use_a_hi, a["hi"]).otherwise(b["hi"])
    hi_inc = F.when(b["empty"] | use_a_hi, a["hi_inc"]).otherwise(b["hi_inc"])
    both_empty = a["empty"] & b["empty"]
    guard = F.when(
        contiguous, F.lit(True)
    ).otherwise(
        F.raise_error(F.lit("result of range union would not be contiguous"))
    )
    return F.when(
        guard,
        F.struct(
            F.when(both_empty, F.lit(None)).otherwise(
                F.when(a["empty"], b["lo"]).otherwise(lo)
            ).alias("lo"),
            F.when(both_empty, F.lit(None)).otherwise(
                F.when(a["empty"], b["hi"]).otherwise(hi)
            ).alias("hi"),
            F.when(both_empty, F.lit(False)).otherwise(
                F.when(a["empty"], b["lo_inc"]).otherwise(lo_inc)
            ).alias("lo_inc"),
            F.when(both_empty, F.lit(False)).otherwise(
                F.when(a["empty"], b["hi_inc"]).otherwise(hi_inc)
            ).alias("hi_inc"),
            both_empty.alias("empty"),
        ),
    )


# ---------------------------------------------------------------------------
# SQL-text emitters — the same semantics as the Column API above, rendered
# as Spark SQL for the transpiler's range pass (dialect/transpiler.py
# _pass_ranges).  Binary operators bind their operands ONCE via a
# one-element zip_with lambda (a, b are the two range structs); unary
# forms bind via transform.  Everything stays a JVM expression.
# ---------------------------------------------------------------------------

RANGE_ELEM_TYPES = {
    "int4range": ("int", True),
    "int8range": ("bigint", True),
    "numrange": ("decimal(38,18)", False),
    "daterange": ("date", True),
    "tsrange": ("timestamp_ntz", False),
    "tstzrange": ("timestamp", False),
}


def mk_range_sql(lo: str, hi: str, bounds: str, elem_type: str,
                 discrete: bool) -> str:
    """range_constructor2/3 as SQL text; discrete types canonicalize to
    [lo, hi) exactly like make_range above."""
    li, ui = bounds[0] == "[", bounds[1] == "]"
    lo_c = f"CAST(({lo}) AS {elem_type})"
    hi_c = f"CAST(({hi}) AS {elem_type})"
    if discrete:
        lo_adj = (
            lo_c if li else
            f"CASE WHEN {lo_c} IS NULL THEN NULL ELSE {lo_c} + 1 END"
        )
        hi_adj = (
            f"CASE WHEN {hi_c} IS NULL THEN NULL ELSE {hi_c} + 1 END"
            if ui else hi_c
        )
        li, ui = True, False
    else:
        lo_adj, hi_adj = lo_c, hi_c
    li_s, ui_s = ("true" if li else "false"), ("true" if ui else "false")
    strict = "false" if (li and ui) else "true"
    empty = (
        "(x.l IS NOT NULL AND x.h IS NOT NULL AND "
        f"(x.l > x.h OR (x.l = x.h AND {strict})))"
    )
    return (
        f"element_at(transform(array(named_struct('l', {lo_adj}, "
        f"'h', {hi_adj})), "
        f"x -> named_struct("
        f"'lo', CASE WHEN {empty} THEN NULL ELSE x.l END, "
        f"'hi', CASE WHEN {empty} THEN NULL ELSE x.h END, "
        f"'lo_inc', (NOT {empty}) AND {li_s}, "
        f"'hi_inc', (NOT {empty}) AND {ui_s}, "
        f"'empty', {empty})), 1)"
    )


def mk_empty_range_sql(elem_type: str) -> str:
    """'empty'::<rangetype> — emitted directly with NULL bounds CAST to
    the element type.  (A numeric dummy bound would render
    CAST(1 AS DATE)/CAST(1 AS TIMESTAMP_NTZ), which Spark rejects —
    round-7 advice, transpiler.py:5226.)"""
    n = f"CAST(NULL AS {elem_type})"
    return (
        f"named_struct('lo', {n}, 'hi', {n}, 'lo_inc', false, "
        f"'hi_inc', false, 'empty', true)"
    )


def parse_range_literal(text: str) -> tuple[str | None, str | None, str]:
    """'[1,5)' / '(,5]' / 'empty' → (lo_text, hi_text, bounds); rangetypes.c
    range_parse.  NULL/omitted bounds are infinite."""
    t = text.strip()
    if t.lower() == "empty":
        return None, None, "empty"
    if len(t) < 3 or t[0] not in "[(" or t[-1] not in ")]":
        raise ValueError(f"malformed range literal: {text!r}")
    body = t[1:-1]
    parts = body.split(",")
    if len(parts) != 2:
        raise ValueError(f"malformed range literal: {text!r}")
    lo = parts[0].strip().strip('"') or None
    hi = parts[1].strip().strip('"') or None
    return lo, hi, t[0] + t[-1]


_LOWER_LE = (
    "({a}.lo IS NULL OR ({b}.lo IS NOT NULL AND ({a}.lo < {b}.lo OR "
    "({a}.lo = {b}.lo AND ({a}.lo_inc OR NOT {b}.lo_inc)))))"
)
_UPPER_GE = (
    "({a}.hi IS NULL OR ({b}.hi IS NOT NULL AND ({a}.hi > {b}.hi OR "
    "({a}.hi = {b}.hi AND ({a}.hi_inc OR NOT {b}.hi_inc)))))"
)
_LO_BEFORE_HI = (
    "({x}.lo IS NULL OR {y}.hi IS NULL OR {x}.lo < {y}.hi OR "
    "({x}.lo = {y}.hi AND {x}.lo_inc AND {y}.hi_inc))"
)


def _bind2(a_sql: str, b_sql: str, body: str) -> str:
    return (
        f"element_at(zip_with(array(({a_sql})), array(({b_sql})), "
        f"(a, b) -> {body}), 1)"
    )


def _bind1(r_sql: str, body: str) -> str:
    return f"element_at(transform(array(({r_sql})), a -> {body}), 1)"


def contains_range_sql(a: str, b: str) -> str:
    body = (
        "(b.empty OR ((NOT a.empty) AND "
        + _LOWER_LE.format(a="a", b="b")
        + " AND "
        + _UPPER_GE.format(a="a", b="b")
        + "))"
    )
    return _bind2(a, b, body)


def contains_elem_sql(r: str, x: str) -> str:
    body = (
        "((NOT a.empty) AND "
        "(a.lo IS NULL OR a.lo < b OR (a.lo = b AND a.lo_inc)) AND "
        "(a.hi IS NULL OR b < a.hi OR (b = a.hi AND a.hi_inc)))"
    )
    return _bind2(r, x, body)


def overlaps_sql(a: str, b: str) -> str:
    body = (
        "((NOT a.empty) AND (NOT b.empty) AND "
        + _LO_BEFORE_HI.format(x="a", y="b")
        + " AND "
        + _LO_BEFORE_HI.format(x="b", y="a")
        + ")"
    )
    return _bind2(a, b, body)


_BEFORE = (
    "((NOT {a}.empty) AND (NOT {b}.empty) AND {a}.hi IS NOT NULL AND "
    "{b}.lo IS NOT NULL AND ({a}.hi < {b}.lo OR "
    "({a}.hi = {b}.lo AND NOT ({a}.hi_inc AND {b}.lo_inc))))"
)


def before_sql(a: str, b: str) -> str:
    return _bind2(a, b, _BEFORE.format(a="a", b="b"))


def after_sql(a: str, b: str) -> str:
    return _bind2(a, b, _BEFORE.format(a="b", b="a"))


def adjacent_sql(a: str, b: str) -> str:
    meet = (
        "({x}.hi IS NOT NULL AND {y}.lo IS NOT NULL AND "
        "{x}.hi = {y}.lo AND {x}.hi_inc != {y}.lo_inc)"
    )
    body = (
        "((NOT a.empty) AND (NOT b.empty) AND ("
        + meet.format(x="a", y="b")
        + " OR "
        + meet.format(x="b", y="a")
        + "))"
    )
    return _bind2(a, b, body)


def intersect_sql(a: str, b: str) -> str:
    """range_intersect as SQL — bound fields picked by the bound
    comparisons, emptiness re-derived (mirrors r_intersect)."""
    use_a_lo = "(NOT " + _LOWER_LE.format(a="a", b="b") + ")"
    use_a_hi = "(NOT " + _UPPER_GE.format(a="a", b="b") + ")"
    lo = f"(CASE WHEN {use_a_lo} THEN a.lo ELSE b.lo END)"
    lo_inc = f"(CASE WHEN {use_a_lo} THEN a.lo_inc ELSE b.lo_inc END)"
    hi = f"(CASE WHEN {use_a_hi} THEN a.hi ELSE b.hi END)"
    hi_inc = f"(CASE WHEN {use_a_hi} THEN a.hi_inc ELSE b.hi_inc END)"
    no_ov = (
        "(a.empty OR b.empty OR NOT ("
        + _LO_BEFORE_HI.format(x="a", y="b")
        + " AND "
        + _LO_BEFORE_HI.format(x="b", y="a")
        + "))"
    )
    empty = (
        f"({no_ov} OR ({lo} IS NOT NULL AND {hi} IS NOT NULL AND "
        f"({lo} > {hi} OR ({lo} = {hi} AND NOT ({lo_inc} AND {hi_inc})))))"
    )
    body = (
        f"named_struct("
        f"'lo', CASE WHEN {empty} THEN NULL ELSE {lo} END, "
        f"'hi', CASE WHEN {empty} THEN NULL ELSE {hi} END, "
        f"'lo_inc', (NOT {empty}) AND {lo_inc}, "
        f"'hi_inc', (NOT {empty}) AND {hi_inc}, "
        f"'empty', {empty})"
    )
    return _bind2(a, b, body)


def union_sql(a: str, b: str) -> str:
    """range_union as SQL; non-contiguous unions raise, as in PG."""
    contiguous = (
        "(a.empty OR b.empty OR ((NOT a.empty) AND (NOT b.empty) AND ("
        + _LO_BEFORE_HI.format(x="a", y="b")
        + " AND "
        + _LO_BEFORE_HI.format(x="b", y="a")
        + ")) OR ((a.hi IS NOT NULL AND b.lo IS NOT NULL AND a.hi = b.lo "
        "AND a.hi_inc != b.lo_inc) OR (b.hi IS NOT NULL AND a.lo IS NOT "
        "NULL AND b.hi = a.lo AND b.hi_inc != a.lo_inc)))"
    )
    use_a_lo = "(" + _LOWER_LE.format(a="a", b="b") + " AND NOT a.empty)"
    use_a_hi = "(" + _UPPER_GE.format(a="a", b="b") + " AND NOT a.empty)"
    lo = f"(CASE WHEN b.empty OR {use_a_lo} THEN a.lo ELSE b.lo END)"
    lo_inc = (
        f"(CASE WHEN b.empty OR {use_a_lo} THEN a.lo_inc ELSE b.lo_inc END)"
    )
    hi = f"(CASE WHEN b.empty OR {use_a_hi} THEN a.hi ELSE b.hi END)"
    hi_inc = (
        f"(CASE WHEN b.empty OR {use_a_hi} THEN a.hi_inc ELSE b.hi_inc END)"
    )
    be = "(a.empty AND b.empty)"
    body = (
        f"(CASE WHEN {contiguous} THEN named_struct("
        f"'lo', CASE WHEN {be} THEN NULL WHEN a.empty THEN b.lo "
        f"ELSE {lo} END, "
        f"'hi', CASE WHEN {be} THEN NULL WHEN a.empty THEN b.hi "
        f"ELSE {hi} END, "
        f"'lo_inc', CASE WHEN {be} THEN false WHEN a.empty THEN b.lo_inc "
        f"ELSE {lo_inc} END, "
        f"'hi_inc', CASE WHEN {be} THEN false WHEN a.empty THEN b.hi_inc "
        f"ELSE {hi_inc} END, "
        f"'empty', {be}) "
        f"ELSE raise_error('result of range union would not be "
        f"contiguous') END)"
    )
    return _bind2(a, b, body)


def accessor_sql(fn: str, r: str) -> str:
    """lower/upper/isempty/lower_inc/upper_inc/lower_inf/upper_inf."""
    simple = {
        "lower": "a.lo", "upper": "a.hi", "isempty": "a.empty",
        "lower_inc": "a.lo_inc", "upper_inc": "a.hi_inc",
    }
    if fn in simple:
        return _bind1(r, simple[fn])
    if fn == "lower_inf":
        return _bind1(r, "((NOT a.empty) AND a.lo IS NULL)")
    if fn == "upper_inf":
        return _bind1(r, "((NOT a.empty) AND a.hi IS NULL)")
    raise ValueError(fn)
