"""Declared RANGE/LIST partition bounds: parse, bucket, statically prune.

Reference: the GP partition spec grammar and expansion
(src/backend/parser/parse_partition.c:1238 — START/END/EVERY expansion
into concrete child partitions, INCLUSIVE/EXCLUSIVE bound flags, LIST
VALUES, DEFAULT PARTITION) and the static partition selector
(src/backend/cdb/cdbpartition.c; regression
src/test/regress/sql/partition_pruning.sql — e.g. the DATE_PARTS
selected-parts battery at :695-738).

Spark-first mapping: a partitioned table materializes as a hive layout
whose ``__part`` directory value is the DECLARED partition name, derived
per row by a codegen CASE chain over the bounds (PartitionConstraints →
one ``when`` per child).  Static pruning then becomes
``__part IN (selected)`` — Spark's partition discovery skips every other
directory, the same file-skipping GP's PartitionSelector achieves.  A row
outside every bound lands in the DEFAULT partition, or raises GP's
"no partition for partitioning key" error when none is declared.

Multi-level: SUBPARTITION BY ... SUBPARTITION TEMPLATE clauses
(parse_partition.c:155-226 depth machinery) nest one hive directory per
level (``__part``/``__subpart``/``__subpart2``); static selection runs
per level and composes as a product (select_multilevel), matching the
DATE_PARTS selected-parts battery in partition_pruning.sql:695-760.
Inline per-partition subpartition specs (a different template per
parent) are not supported — only uniform TEMPLATEs.
"""

from __future__ import annotations

import calendar
import datetime
import re
from dataclasses import dataclass

from pyspark.sql import Column, functions as F

from greengage_spark.dialect.spans import split_top_level


@dataclass
class PartitionBound:
    """One concrete child partition after START/END/EVERY expansion."""

    name: str
    is_default: bool = False
    lo: object = None  # range lower bound (None = unbounded)
    hi: object = None  # range upper bound (None = unbounded)
    lo_incl: bool = True  # START defaults INCLUSIVE (parse_partition.c)
    hi_incl: bool = False  # END defaults EXCLUSIVE
    values: tuple | None = None  # LIST partition membership


def _add_months(d: datetime.date, n: int) -> datetime.date:
    y = d.year + (d.month - 1 + n) // 12
    m = (d.month - 1 + n) % 12 + 1
    return d.replace(year=y, month=m, day=min(d.day, calendar.monthrange(y, m)[1]))


def _parse_value(s: str, col_type: str):
    """One bound literal → python value, coerced by the partition column's
    Spark type (a quoted '1995-01-01' on a date column is a date)."""
    s = s.strip()
    m = re.match(r"(?is)^(?:date|timestamp)?\s*'([^']*)'$", s)
    if m:
        txt = m.group(1)
        if col_type.startswith(("date", "timestamp")):
            try:
                return datetime.date.fromisoformat(txt[:10])
            except ValueError:
                pass
        return txt
    if re.fullmatch(r"-?\d+", s):
        return int(s)
    if re.fullmatch(r"-?\d*\.\d+", s):
        return float(s)
    return s.strip("'")


_EVERY_IVAL = re.compile(
    r"(?is)^interval\s+'(\d+)\s*(year|month|week|day)s?'$"
)


def _step(lo, every_raw: str, col_type: str):
    """Return a function value → next value for EVERY expansion."""
    ev = every_raw.strip()
    m = _EVERY_IVAL.match(ev)
    if m:
        n, unit = int(m.group(1)), m.group(2).lower()
        if unit == "year":
            return lambda v: _add_months(v, 12 * n)
        if unit == "month":
            return lambda v: _add_months(v, n)
        days = n * (7 if unit == "week" else 1)
        return lambda v: v + datetime.timedelta(days=days)
    step = _parse_value(ev, "bigint")
    if not isinstance(step, (int, float)):
        raise NotImplementedError(f"EVERY ({every_raw}) not supported")
    return lambda v: v + step


_ELEM = re.compile(
    r"(?is)^(?:partition\s+(?P<name>\w+)\s+)?"
    r"(?:"
    r"values\s*\((?P<values>.*)\)"
    r"|"
    r"start\s*\((?P<start>[^)]*)\)\s*(?P<sincl>inclusive|exclusive)?\s*"
    r"(?:end\s*\((?P<end>[^)]*)\)\s*(?P<eincl>inclusive|exclusive)?\s*)?"
    r"(?:every\s*\((?P<every>[^)]*)\)\s*)?"
    r")$"
)


def parse_partition_spec(raw: str, col_type: str) -> list[PartitionBound]:
    """Partition spec body text → expanded concrete bounds.

    Accepts the parse_partition.c surface for one level:
    ``[PARTITION name] START (v) [INCLUSIVE] END (v) [EXCLUSIVE]
    [EVERY (step)]``, ``PARTITION name VALUES (v, ...)``, and
    ``DEFAULT PARTITION/SUBPARTITION name``; leading SUBPARTITION
    spellings parse the same way."""
    body = raw.strip()
    if body.startswith("(") and body.endswith(")"):
        body = body[1:-1]
    bounds: list[PartitionBound] = []
    seq = 0
    for item in split_top_level(body):
        item = re.sub(r"(?is)^subpartition\b", "partition", item.strip())
        md = re.match(r"(?is)^default\s+(?:sub)?partition\s+(\w+)$", item)
        if md:
            bounds.append(PartitionBound(name=md.group(1), is_default=True))
            continue
        m = _ELEM.match(item)
        if not m:
            raise NotImplementedError(f"partition spec element {item!r}")
        name = m.group("name")
        if m.group("values") is not None:
            seq += 1
            vals = tuple(
                _parse_value(v, col_type) for v in split_top_level(m.group("values"))
            )
            bounds.append(
                PartitionBound(name=name or f"p{seq}", values=vals)
            )
            continue
        lo = _parse_value(m.group("start"), col_type)
        lo_incl = (m.group("sincl") or "inclusive").lower() == "inclusive"
        hi = _parse_value(m.group("end"), col_type) if m.group("end") else None
        hi_incl = (m.group("eincl") or "exclusive").lower() == "inclusive"
        if m.group("every"):
            if hi is None:
                raise NotImplementedError("EVERY requires END")
            nxt = _step(lo, m.group("every"), col_type)
            cur = lo
            while cur < hi:
                seq += 1
                up = nxt(cur)
                bounds.append(
                    PartitionBound(
                        name=f"{name}_{seq}" if name else f"p{seq}",
                        lo=cur,
                        hi=min(up, hi),
                        lo_incl=True if cur != lo else lo_incl,
                        hi_incl=hi_incl if up >= hi else False,
                    )
                )
                cur = up
        else:
            seq += 1
            bounds.append(
                PartitionBound(
                    name=name or f"p{seq}",
                    lo=lo, hi=hi, lo_incl=lo_incl, hi_incl=hi_incl,
                )
            )
    return bounds


# ------------------------------------------------------------ bucketing


def _lit(v) -> Column:
    return F.lit(v)


def partition_name_expr(bounds: list[PartitionBound], col: str) -> Column:
    """Per-row partition name (PartitionConstraints as a codegen CASE
    chain).  No-match rows take the DEFAULT partition, else raise GP's
    'no partition for partitioning key' at runtime."""
    c = F.col(col)
    expr: Column | None = None
    default = next((b.name for b in bounds if b.is_default), None)
    for b in bounds:
        if b.is_default:
            continue
        if b.values is not None:
            cond = c.isin(list(b.values))
        else:
            cond = F.lit(True)
            if b.lo is not None:
                cond = cond & (c >= _lit(b.lo) if b.lo_incl else c > _lit(b.lo))
            if b.hi is not None:
                cond = cond & (c <= _lit(b.hi) if b.hi_incl else c < _lit(b.hi))
        expr = F.when(cond, b.name) if expr is None else expr.when(cond, b.name)
    if expr is None:
        return F.lit(default)
    if default is not None:
        return expr.otherwise(F.lit(default))
    return expr.otherwise(
        F.raise_error(
            F.concat(
                F.lit("no partition for partitioning key "), c.cast("string")
            )
        )
    )


def bound_predicate(b: PartitionBound, col: str) -> Column:
    """Row-membership predicate for one partition (the complement of
    partition_name_expr, used by DROP/TRUNCATE/EXCHANGE PARTITION)."""
    c = F.col(col)
    if b.values is not None:
        return c.isin(list(b.values))
    cond = F.lit(True)
    if b.lo is not None:
        cond = cond & (c >= _lit(b.lo) if b.lo_incl else c > _lit(b.lo))
    if b.hi is not None:
        cond = cond & (c <= _lit(b.hi) if b.hi_incl else c < _lit(b.hi))
    return cond


def resolve_partition(
    bounds: list[PartitionBound], selector: str, col_type: str
) -> PartitionBound:
    """ALTER ... PARTITION selector → bound: a bare name, FOR (value)
    (the partition containing the value), or FOR (RANK(n)) (nth
    non-default range partition, 1-based — cdbpartition.c rank
    addressing)."""
    s = selector.strip()
    mr = re.match(r"(?is)^for\s*\(\s*rank\s*\(\s*(\d+)\s*\)\s*\)$", s)
    if mr:
        ranked = [b for b in bounds if not b.is_default and b.values is None]
        k = int(mr.group(1))
        if not 1 <= k <= len(ranked):
            raise ValueError(f"partition rank {k} does not exist")
        return ranked[k - 1]
    mv = re.match(r"(?is)^for\s*\((.*)\)$", s)
    if mv:
        v = _parse_value(mv.group(1), col_type)
        for b in bounds:
            if b.is_default:
                continue
            if b.values is not None and v in b.values:
                return b
            if b.values is None:
                lo_ok = b.lo is None or v > b.lo or (v == b.lo and b.lo_incl)
                hi_ok = b.hi is None or v < b.hi or (v == b.hi and b.hi_incl)
                if lo_ok and hi_ok:
                    return b
        dflt = next((b for b in bounds if b.is_default), None)
        if dflt is not None:
            return dflt
        raise ValueError(f"no partition for value {v!r}")
    name = s.strip('"')
    for b in bounds:
        if b.name.lower() == name.lower():
            return b
    raise ValueError(f'partition "{name}" does not exist')


# ------------------------------------------------------- static selector


def _overlaps(b: PartitionBound, lo, hi, lo_incl, hi_incl) -> bool:
    if b.hi is not None and lo is not None:
        if b.hi < lo or (b.hi == lo and not (b.hi_incl and lo_incl)):
            return False
    if b.lo is not None and hi is not None:
        if b.lo > hi or (b.lo == hi and not (b.lo_incl and hi_incl)):
            return False
    return True


def select_range_partitions(
    bounds: list[PartitionBound], lo, hi, lo_incl=True, hi_incl=True
) -> list[str]:
    """Static partition selection for an interval predicate on the
    partition column (cdbpartition.c selector semantics, validated
    against partition_pruning.sql's selected-parts counts): declared
    partitions overlapping [lo, hi]; the DEFAULT partition joins the
    selection ONLY if the query interval is not fully covered by the
    declared bounds (a gap or unbounded side could hold matching rows)."""
    sel = [
        b for b in bounds
        if not b.is_default and b.values is None
        and _overlaps(b, lo, hi, lo_incl, hi_incl)
    ]
    names = [b.name for b in sel]
    default = next((b.name for b in bounds if b.is_default), None)
    if default is None:
        return names
    # coverage walk: does the union of selected declared ranges cover the
    # whole query interval?  Any uncovered point may live in DEFAULT.
    covered = False
    if lo is not None and hi is not None and sel:
        sel.sort(key=lambda b: (b.lo is None, b.lo))
        pos, pos_closed = lo, lo_incl
        covered = True
        for b in sel:
            b_lo_ok = b.lo is None or b.lo < pos or (
                b.lo == pos and (b.lo_incl or not pos_closed)
            )
            if not b_lo_ok:
                covered = False
                break
            if b.hi is None:
                pos = None
                break
            # next uncovered point: b.hi itself when the bound is
            # exclusive, just past it when inclusive
            pos, pos_closed = b.hi, not b.hi_incl
            if pos > hi or (pos == hi and (b.hi_incl or not hi_incl)):
                pos = None
                break
        if pos is not None:
            covered = False
    if not covered:
        names.append(default)
    return names


def select_level_partitions(kind: str, bounds: list[PartitionBound], constraint):
    """Static selection for ONE partition level under a single-column
    constraint:

    * ``None``                       — unconstrained: every part (incl. DEFAULT)
    * ``('range', lo, hi, li, hi_i)`` — interval predicate
    * ``('in', values)``             — equality / IN value set

    RANGE levels route intervals to the coverage-walking range selector and
    value sets to per-point interval probes; LIST levels route value sets to
    membership and integer intervals to enumeration (the reference's
    selector enumerates BETWEEN over int list keys the same way —
    cdbpartition.c)."""
    if constraint is None:
        return [b.name for b in bounds]
    tag = constraint[0]
    if kind == "range":
        if tag == "range":
            return select_range_partitions(bounds, *constraint[1:])
        names: list[str] = []
        for v in constraint[1]:
            for n in select_range_partitions(bounds, v, v, True, True):
                if n not in names:
                    names.append(n)
        return names
    if tag == "in":
        return select_list_partitions(bounds, constraint[1])
    lo, hi, lo_incl, hi_incl = constraint[1:]
    if isinstance(lo, int) and isinstance(hi, int):
        vals = list(range(lo + (0 if lo_incl else 1), hi + (1 if hi_incl else 0)))
        return select_list_partitions(bounds, vals)
    return [b.name for b in bounds]  # non-enumerable interval over LIST: all


def select_multilevel(levels, constraints: dict) -> list[list[str]]:
    """Static selection across every partition level (the multi-level
    PartitionSelector, cdbpartition.c; validated against the DATE_PARTS
    selected-parts battery, partition_pruning.sql:695-760: total selected
    leaves = product of per-level selection counts).

    ``levels`` is TableDef.partition_levels(); ``constraints`` maps
    partition-column name → constraint (see select_level_partitions).
    Returns the selected partition NAMES per level; the caller prunes with
    ``AND_i(dir_col_i IN selected_i)`` — Spark's partition discovery then
    skips every unselected directory subtree at that level."""
    return [
        select_level_partitions(kind, bounds, constraints.get(col))
        for kind, col, bounds in levels
    ]


def multilevel_prune_predicate(levels, selections) -> Column:
    """Directory-column predicate for the per-level selections (the scan
    filter that makes Spark's partition pruning skip directories)."""
    from greengage_spark.dialect.ddl import TableDef

    pred = F.lit(True)
    for i, names in enumerate(selections):
        pred = pred & F.col(TableDef.level_dir_col(i)).isin(names)
    return pred


def select_list_partitions(bounds: list[PartitionBound], values) -> list[str]:
    """Static selection for LIST partitions given a set of candidate
    values (equality / IN / BETWEEN-enumerable predicates)."""
    names = []
    default = next((b.name for b in bounds if b.is_default), None)
    uncovered = False
    for v in values:
        hit = next(
            (b.name for b in bounds if b.values is not None and v in b.values),
            None,
        )
        if hit is None:
            uncovered = True
        elif hit not in names:
            names.append(hit)
    if uncovered and default is not None:
        names.append(default)
    return names
