"""Shared helpers for the query corpus.

Cross-engine determinism rules (Spark result must hash-match the DuckDB
oracle, order-insensitive):

1. Money columns are stored as double but are 2-decimal values (TPC-H
   declares them ``decimal(15,2)``).  Every sum runs on their exact
   unscaled integers: ``cents(x) = floor(x·100 + 0.5)`` as a ``long``.  The
   double nearest a 2-decimal value k/100 differs from it by at most one
   half-ulp, so for |x| < 10^11 the two roundings of ``x·100 + 0.5`` stay
   within 2^-8 of k + 0.5 and the floor is k (DuckDB's
   ``CAST(x AS DECIMAL(12,2))`` rounds to the same k).  Products of cents
   stay integers: ``disc_price_e4`` is the discounted price at scale 4 and
   ``charge_e6`` the taxed one at scale 6, both below 10^17 per row.
2. ``usum`` adds unscaled values as ``decimal(18,0)``: Spark keeps that
   sum in a compact ``long`` while it is below 10^18 and moves to an exact
   big decimal beyond, so it is exact and order-independent at any scale
   factor (a ``long`` sum would raise ARITHMETIC_OVERFLOW under ANSI).
   ``unscale`` turns an unscaled value into ``double(u) / 10^scale``, the
   double DuckDB gives for ``CAST(SUM(decimal) AS DOUBLE)``.  Thresholds
   compare in unscaled units (``qty > 150`` is ``usum(cents(q)) > 15000``).
   This keeps rows out of ``java.math.BigDecimal``: a decimal multiply or
   a double-to-decimal cast per row costs several times the whole sum.
3. Final aggregate outputs are cast to DOUBLE: a single deterministic
   conversion of an exact value, avoiding decimal-scale representation
   differences between engines.
4. AVG over floats is order-dependent → always an exact SUM / COUNT, or
   rewrite comparisons to multiply through by COUNT (exact integer algebra).
5. Every ORDER BY ... LIMIT adds a unique tie-breaker column.
6. Years/date-parts cast to INT on both sides (DuckDB EXTRACT returns
   BIGINT, Spark year() returns INT).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from greengage_spark.catalog import Catalog, shared_catalog


def cents(c: str | Column) -> Column:
    """Unscaled value of a 2-decimal double column, as a long (rule 1)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.floor(c * 100 + 0.5)


def disc_price_e4() -> Column:
    """l_extendedprice * (1 - l_discount), unscaled at scale 4."""
    return cents("l_extendedprice") * (100 - cents("l_discount"))


def charge_e6() -> Column:
    """l_extendedprice * (1 - l_discount) * (1 + l_tax), unscaled at scale 6."""
    return disc_price_e4() * (100 + cents("l_tax"))


def usum(c: Column) -> Column:
    """Exact SUM of unscaled values (rule 2)."""
    return F.sum(c.cast("decimal(18,0)"))


def unscale(c: Column, scale: int) -> Column:
    """An unscaled value (or exact sum) as the double of its scaled value."""
    return c.cast("double") / 10**scale


def fsum(c: Column, scale: int) -> Column:
    """SUM of unscaled values at `scale`, as DuckDB's CAST(SUM(..) AS DOUBLE)."""
    return unscale(usum(c), scale)


def ts(s: str) -> Column:
    """Timestamp literal matching the testdata's timestamp_ntz columns."""
    if len(s) == 10:
        s += " 00:00:00"
    return F.lit(s).cast("timestamp_ntz")


# SQL fragments for the DuckDB oracle: the exact decimal values the helpers
# above compute in unscaled integers.
SQL_MONEY = "CAST({c} AS DECIMAL(12,2))"
SQL_DISC_PRICE = (
    "(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))))"
)
SQL_CHARGE = SQL_DISC_PRICE + " * (1 + CAST(l_tax AS DECIMAL(4,2)))"


@dataclass
class Query:
    """One driver-checkable query: Spark implementation + DuckDB oracle.

    ``oracle`` is ANSI SQL DuckDB runs over the same parquet views; None
    marks a non-SQL-expressible operator (driver falls back to a rows-only
    check).
    """

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = ()


class Suite:
    """A named collection of queries; suites compose into the registry."""

    def __init__(self, name: str):
        self.name = name
        self.queries: dict[str, Query] = {}

    def add(
        self,
        name: str,
        oracle: str | None,
        doc: str = "",
        tags: tuple[str, ...] = (),
    ):
        def deco(fn: Callable[[SparkSession, str], DataFrame]):
            self.queries[name] = Query(name, fn, oracle, doc, tags)
            return fn

        return deco


def cat(spark: SparkSession, sf_dir: str) -> Catalog:
    """Session-scoped memoized Catalog (see catalog.shared_catalog)."""
    return shared_catalog(spark, sf_dir)
