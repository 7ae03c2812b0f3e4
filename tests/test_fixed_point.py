"""The fixed-point money helpers of plans/common.py give DuckDB's doubles.

Every query in plans/ sums money as unscaled integers (`cents`,
`disc_price_e4`, `charge_e6`, `fsum`), while its DuckDB oracle sums
``CAST(x AS DECIMAL(12,2))`` and casts the sum to DOUBLE.  These tests
compare the two bit for bit on the edge values: NULL, zero, negative
values, the largest ``decimal(10,2)`` value, both ends of the discount
range, and accumulations whose unscaled sum crosses 2^53 (where a double
stops holding every integer), 10^18 (where Spark's decimal leaves its
compact long) and 2^63 (where a long sum would overflow).
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from greengage_spark.plans.common import (
    SQL_CHARGE,
    SQL_DISC_PRICE,
    SQL_MONEY,
    cents,
    charge_e6,
    disc_price_e4,
    fsum,
)

_SPARK_SUMS = (
    ("price", lambda: fsum(cents("l_extendedprice"), 2)),
    ("disc", lambda: fsum(cents("l_discount"), 2)),
    ("disc_price", lambda: fsum(disc_price_e4(), 4)),
    ("charge", lambda: fsum(charge_e6(), 6)),
)
_DUCK_SUMS = (
    f"CAST(SUM({SQL_MONEY.format(c='l_extendedprice')}) AS DOUBLE) AS price",
    "CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS disc",
    f"CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS disc_price",
    f"CAST(SUM({SQL_CHARGE}) AS DOUBLE) AS charge",
)

# (group, l_extendedprice, l_discount, l_tax)
_EDGE_ROWS = [
    ("null", None, None, None),
    ("null_price", None, 0.05, 0.02),
    ("zero", 0.0, 0.0, 0.0),
    ("negative", -12.34, 0.04, 0.01),
    ("negative", -0.01, 0.10, 0.08),
    ("mixed_sign", 5.5, 0.0, 0.0),
    ("mixed_sign", -5.49, 0.0, 0.0),
    ("max", 99999999.99, 0.10, 0.08),
    ("max", 99999999.99, 0.0, 0.0),
    ("disc_0", 901.82, 0.0, 0.07),
    ("disc_0", 104997.88, 0.0, 0.0),
    ("disc_10", 901.82, 0.10, 0.07),
    ("disc_10", 104997.88, 0.10, 0.08),
    ("cents", 0.01, 0.01, 0.01),
    ("cents", 1.05, 0.05, 0.06),
    ("cents", 4.35, 0.07, 0.03),
    ("cents", 0.29, 0.09, 0.04),
]
_SCHEMA = "g string, l_extendedprice double, l_discount double, l_tax double"


def _bits(v):
    return None if v is None else float(v).hex()


def _sums():
    return [f().alias(n) for n, f in _SPARK_SUMS]


def test_edge_values_bit_equal(spark):
    df = spark.createDataFrame(_EDGE_ROWS, _SCHEMA)
    got = {
        r["g"]: tuple(_bits(r[n]) for n, _ in _SPARK_SUMS)
        for r in df.groupBy("g").agg(*_sums()).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (g VARCHAR, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", _EDGE_ROWS)
    want = {
        r[0]: tuple(_bits(v) for v in r[1:])
        for r in con.execute(f"SELECT g, {', '.join(_DUCK_SUMS)} FROM t GROUP BY g").fetchall()
    }
    assert got == want
    assert got["null"] == (None, None, None, None)
    assert got["zero"] == ((0.0).hex(),) * 4


# The largest decimal(12,2) price with alternating 0.00/0.10 discounts:
# the price sum passes 2^53 between 9,000 and 9,100 rows, the disc_price
# sum passes 10^18 by 20,000 rows, and the charge sum passes 2^63 between
# 800 and 1,000 rows.
_BIG_PRICE = "9999999999.99"


@pytest.mark.parametrize("n", [1, 800, 1_000, 9_000, 9_100, 10_000, 20_000])
def test_large_accumulations_bit_equal(spark, n):
    df = spark.range(n).select(
        F.lit(float(_BIG_PRICE)).alias("l_extendedprice"),
        F.when(F.col("id") % 2 == 0, 0.0).otherwise(0.10).alias("l_discount"),
        F.lit(0.08).alias("l_tax"),
    )
    got = tuple(_bits(v) for v in df.agg(*_sums()).collect()[0])
    want = duckdb.sql(
        f"SELECT {', '.join(_DUCK_SUMS)} FROM ("
        f"  SELECT CAST({_BIG_PRICE} AS DOUBLE) AS l_extendedprice,"
        f"         CAST(CASE WHEN range % 2 = 0 THEN 0.0 ELSE 0.10 END AS DOUBLE) AS l_discount,"
        f"         CAST(0.08 AS DOUBLE) AS l_tax"
        f"  FROM range({n}))"
    ).fetchone()
    assert got == tuple(_bits(v) for v in want)


def test_large_accumulations_cross_the_limits():
    """The parametrized sizes above do reach each limit."""
    unscaled = 999_999_999_999
    pair_e4 = unscaled * (100 + 90)  # one row at discount 0.00, one at 0.10
    assert 9_000 * unscaled < 2**53 < 9_100 * unscaled
    assert 10_000 // 2 * pair_e4 < 10**18 < 20_000 // 2 * pair_e4
    assert 800 // 2 * pair_e4 * 108 < 2**63 < 1_000 // 2 * pair_e4 * 108
