"""Operator-family queries: one driver-checkable entry per executor-node
family from SURVEY.md §2 that the TPC-H corpus doesn't already pin down.

Join types (nodes.h:739-755), set ops (nodeSetOp.c), window functions
(nodeWindowAgg.c + FRAMEOPTION set), grouping sets (plangroupext.c),
ordered-set aggregates (orderedsetaggs.c), recursive CTE
(nodeRecursiveunion.c), VALUES/function scans, table functions
(nodeTableFunction.c), external tables (nodeExternalscan.c).
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from greengage_spark.operators.aggregate import (
    hypothetical_rank,
    linear_interpolate,
    mode_det,
    percentile_cont,
    percentile_disc,
)
from greengage_spark.operators.joins import asof_join, not_in_anti_join, range_join
from greengage_spark.operators.recursive import recursive_cte
from greengage_spark.operators.tablefunc import grouped_table_function
from greengage_spark.plans.common import SQL_MONEY, Suite, cat, cents, fsum, ts, unscale
from greengage_spark.sources.external import ExternalTable, copy_to

suite = Suite("operators")

MONEY_TOT = SQL_MONEY.format(c="o_totalprice")


# ============================ JOINS (§2.3) ============================

@suite.add(
    "join_inner_hash",
    oracle=f"""
    SELECT c_nationkey, COUNT(*) AS cnt, CAST(SUM({MONEY_TOT}) AS DOUBLE) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
    doc="inner equi hash join (nodeHashjoin.c) + agg.",
    tags=("join",),
)
def join_inner_hash(spark, sf_dir):
    c = cat(spark, sf_dir)
    return (
        c.table("orders")
        .join(c.table("customer"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"), fsum(cents("o_totalprice"), 2).alias("total"))
    )


@suite.add(
    "join_left_outer",
    oracle="""
    SELECT c_nationkey, COUNT(o_orderkey) AS cnt_orders, COUNT(*) AS cnt_rows
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
    GROUP BY c_nationkey
    """,
    doc="left outer join with ON-clause filter (JOIN_LEFT).",
    tags=("join", "outer"),
)
def join_left_outer(spark, sf_dir):
    c = cat(spark, sf_dir)
    cust, orders = c.table("customer"), c.table("orders")
    return (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey) & (orders.o_orderdate >= ts("2001-01-01")),
            "left",
        )
        .groupBy("c_nationkey")
        .agg(F.count("o_orderkey").alias("cnt_orders"), F.count(F.lit(1)).alias("cnt_rows"))
    )


@suite.add(
    "join_right_outer",
    oracle="""
    SELECT c_nationkey, COUNT(o_orderkey) AS cnt_orders, COUNT(*) AS cnt_rows
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey AND o_orderstatus = 'P'
    GROUP BY c_nationkey
    """,
    doc="right outer join (ORCA CPhysicalRightOuterHashJoin).",
    tags=("join", "outer"),
)
def join_right_outer(spark, sf_dir):
    c = cat(spark, sf_dir)
    cust, orders = c.table("customer"), c.table("orders")
    return (
        orders.join(
            cust,
            (orders.o_custkey == cust.c_custkey) & (orders.o_orderstatus == "P"),
            "right",
        )
        .groupBy("c_nationkey")
        .agg(F.count("o_orderkey").alias("cnt_orders"), F.count(F.lit(1)).alias("cnt_rows"))
    )


@suite.add(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(s.nk, c.nk) AS nationkey, s.cnt_s, c.cnt_c
    FROM (SELECT s_nationkey AS nk, COUNT(*) AS cnt_s FROM supplier GROUP BY 1) s
    FULL JOIN (SELECT c_nationkey AS nk, COUNT(*) AS cnt_c FROM customer GROUP BY 1) c
      ON s.nk = c.nk
    """,
    doc="full outer join (nodeMergejoin.c / CPhysicalFullMergeJoin).",
    tags=("join", "outer"),
)
def join_full_outer(spark, sf_dir):
    c = cat(spark, sf_dir)
    s = c.table("supplier").groupBy(F.col("s_nationkey").alias("nk_s")).agg(F.count(F.lit(1)).alias("cnt_s"))
    cu = c.table("customer").groupBy(F.col("c_nationkey").alias("nk_c")).agg(F.count(F.lit(1)).alias("cnt_c"))
    return s.join(cu, s.nk_s == cu.nk_c, "full").select(
        F.coalesce("nk_s", "nk_c").alias("nationkey"), "cnt_s", "cnt_c"
    )


@suite.add(
    "join_cross",
    oracle="""
    SELECT r_name, s.o_orderstatus, r_regionkey
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
    doc="cartesian product (NestLoop without quals).",
    tags=("join", "cross"),
)
def join_cross(spark, sf_dir):
    c = cat(spark, sf_dir)
    statuses = c.table("orders").select("o_orderstatus").distinct()
    return c.table("region").crossJoin(statuses).select("r_name", "o_orderstatus", "r_regionkey")


@suite.add(
    "join_semi_exists",
    oracle="""
    SELECT p_brand, COUNT(*) AS cnt
    FROM part WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45)
    GROUP BY p_brand
    """,
    doc="EXISTS → JOIN_SEMI (CXformSubqJoin2Apply → semi).",
    tags=("join", "semi"),
)
def join_semi_exists(spark, sf_dir):
    c = cat(spark, sf_dir)
    l = c.table("lineitem").filter(F.col("l_quantity") > 45)
    return (
        c.table("part")
        .join(l, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@suite.add(
    "join_anti_not_exists",
    oracle="""
    SELECT p_brand, COUNT(*) AS cnt
    FROM part WHERE NOT EXISTS (SELECT 1 FROM lineitem
                                WHERE l_partkey = p_partkey AND l_quantity >= 49)
    GROUP BY p_brand
    """,
    doc="NOT EXISTS → JOIN_ANTI.",
    tags=("join", "anti"),
)
def join_anti_not_exists(spark, sf_dir):
    c = cat(spark, sf_dir)
    big = c.table("lineitem").filter(F.col("l_quantity") >= 49)
    return (
        c.table("part")
        .join(big, F.col("p_partkey") == F.col("l_partkey"), "left_anti")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@suite.add(
    "join_notin_nullfree",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS cnt
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
    doc="NOT IN over null-free set → anti join (LASJ_NOTIN fast path).",
    tags=("join", "anti", "notin"),
)
def join_notin_nullfree(spark, sf_dir):
    c = cat(spark, sf_dir)
    recent = c.table("orders").filter(F.col("o_orderdate") >= ts("2000-01-01")).select("o_custkey")
    return (
        not_in_anti_join(c.table("customer"), recent, "c_custkey", "o_custkey")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@suite.add(
    "join_notin_with_nulls",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS cnt
    FROM customer
    WHERE c_custkey NOT IN (
      SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END
      FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
    doc="NOT IN with NULL in the set → empty (LASJ_NOTIN, nodes.h:755).",
    tags=("join", "anti", "notin", "nulls"),
)
def join_notin_with_nulls(spark, sf_dir):
    c = cat(spark, sf_dir)
    keys = (
        c.table("orders")
        .filter(F.col("o_orderdate") >= ts("2001-01-01"))
        .select(
            F.when(F.col("o_orderstatus") == "P", F.lit(None).cast("long"))
            .otherwise(F.col("o_custkey"))
            .alias("k")
        )
    )
    return (
        not_in_anti_join(c.table("customer"), keys, "c_custkey", "k")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@suite.add(
    "join_theta_band",
    oracle="""
    SELECT b.band, COUNT(*) AS cnt, CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM part JOIN (VALUES ('low', 0.0, 500.0), ('mid', 500.0, 1500.0), ('high', 1500.0, 1000000.0))
         b(band, lo, hi)
      ON p_retailprice >= b.lo AND p_retailprice < b.hi
    GROUP BY b.band
    """,
    doc="non-equi theta join (NestLoop with quals → BroadcastNLJoin).",
    tags=("join", "theta"),
)
def join_theta_band(spark, sf_dir):
    c = cat(spark, sf_dir)
    bands = spark.createDataFrame(
        [("low", 0.0, 500.0), ("mid", 500.0, 1500.0), ("high", 1500.0, 1000000.0)],
        "band string, lo double, hi double",
    )
    return (
        c.table("part")
        .join(
            F.broadcast(bands),
            (F.col("p_retailprice") >= F.col("lo")) & (F.col("p_retailprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            fsum(cents("p_retailprice"), 2).alias("total"),
        )
    )


@suite.add(
    "join_asof_events",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           c.ts AS click_ts, CAST(CAST(c.value AS DECIMAL(12,2)) AS DOUBLE) AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc="as-of join (reference: theta merge join) via union+window carry.",
    tags=("join", "asof"),
)
def join_asof_events(spark, sf_dir):
    c = cat(spark, sf_dir)
    ev = c.table("events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("click_ts"), cents("value").alias("click_value")
    )
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        direction="backward",
        right_values=["click_ts", "click_value"],
    )
    # DuckDB ASOF JOIN is inner: drop left rows with no match
    return joined.filter(F.col("click_ts").isNotNull()).select(
        "event_id", "user_id", "ts", "click_ts", unscale(F.col("click_value"), 2).alias("click_value")
    )


@suite.add(
    "join_range_interval",
    oracle="""
    SELECT b.band, COUNT(*) AS cnt
    FROM events e JOIN (VALUES ('b0', 0.0, 50.0), ('b1', 50.0, 100.0), ('b2', 100.0, 200.0),
                               ('b3', 200.0, 500.0)) b(band, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band
    """,
    doc="point-in-interval join via bucketed equi-join (no nest loop).",
    tags=("join", "range"),
)
def join_range_interval(spark, sf_dir):
    c = cat(spark, sf_dir)
    bands = spark.createDataFrame(
        [("b0", 0.0, 50.0), ("b1", 50.0, 100.0), ("b2", 100.0, 200.0), ("b3", 200.0, 500.0)],
        "band string, lo double, hi double",
    )
    return (
        range_join(c.table("events"), bands, "value", "lo", "hi", bucket_width=50)
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@suite.add(
    "lateral_topn_per_group",
    oracle="""
    SELECT c_nationkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM customer,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_custkey = c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c_nationkey < 5
    """,
    doc="LATERAL correlated subquery (CLogicalInnerApply) → window top-n "
        "decorrelation, the rewrite ORCA/Catalyst would produce.",
    tags=("join", "lateral", "window"),
)
def lateral_topn_per_group(spark, sf_dir):
    c = cat(spark, sf_dir)
    cust = c.table("customer").filter(F.col("c_nationkey") < 5)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    top2 = (
        c.table("orders")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 2)
    )
    return cust.join(top2, F.col("c_custkey") == F.col("o_custkey")).select(
        "c_nationkey", "o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )


# ========================= SET OPS (§2.7) =========================

_SETOP_A = "SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 5000"
_SETOP_B = "SELECT s_nationkey AS nk FROM supplier WHERE s_acctbal > 7000"


def _setop_inputs(spark, sf_dir):
    c = cat(spark, sf_dir)
    a = c.table("customer").filter(F.col("c_acctbal") > 5000).select(F.col("c_nationkey").alias("nk"))
    b = (
        c.table("supplier")
        .filter(F.col("s_acctbal") > 7000)
        .select(F.col("s_nationkey").alias("nk"))
    )
    return a, b


@suite.add(
    "setop_union_all",
    oracle=f"SELECT nk, COUNT(*) AS cnt FROM ({_SETOP_A} UNION ALL {_SETOP_B}) GROUP BY nk",
    doc="UNION ALL (nodeAppend.c / CPhysicalParallelUnionAll).",
    tags=("setop",),
)
def setop_union_all(spark, sf_dir):
    a, b = _setop_inputs(spark, sf_dir)
    return a.unionAll(b).groupBy("nk").agg(F.count(F.lit(1)).alias("cnt"))


@suite.add(
    "setop_union_distinct",
    oracle=f"SELECT nk FROM ({_SETOP_A} UNION {_SETOP_B})",
    doc="UNION distinct (prepunion.c + dedup).",
    tags=("setop",),
)
def setop_union_distinct(spark, sf_dir):
    a, b = _setop_inputs(spark, sf_dir)
    return a.union(b).distinct()


@suite.add(
    "setop_intersect",
    oracle=f"{_SETOP_A} INTERSECT {_SETOP_B}",
    doc="INTERSECT (SETOPCMD_INTERSECT, nodeSetOp.c).",
    tags=("setop",),
)
def setop_intersect(spark, sf_dir):
    a, b = _setop_inputs(spark, sf_dir)
    return a.intersect(b)


@suite.add(
    "setop_intersect_all",
    oracle=f"SELECT nk, COUNT(*) AS cnt FROM ({_SETOP_A} INTERSECT ALL {_SETOP_B}) GROUP BY nk",
    doc="INTERSECT ALL (bag semantics).",
    tags=("setop",),
)
def setop_intersect_all(spark, sf_dir):
    a, b = _setop_inputs(spark, sf_dir)
    return a.intersectAll(b).groupBy("nk").agg(F.count(F.lit(1)).alias("cnt"))


@suite.add(
    "setop_except",
    oracle=f"{_SETOP_A} EXCEPT {_SETOP_B}",
    doc="EXCEPT (SETOPCMD_EXCEPT).",
    tags=("setop",),
)
def setop_except(spark, sf_dir):
    a, b = _setop_inputs(spark, sf_dir)
    return a.subtract(b)


@suite.add(
    "setop_except_all",
    oracle=f"SELECT nk, COUNT(*) AS cnt FROM ({_SETOP_A} EXCEPT ALL {_SETOP_B}) GROUP BY nk",
    doc="EXCEPT ALL (bag difference).",
    tags=("setop",),
)
def setop_except_all(spark, sf_dir):
    a, b = _setop_inputs(spark, sf_dir)
    return a.exceptAll(b).groupBy("nk").agg(F.count(F.lit(1)).alias("cnt"))


@suite.add(
    "merge_append_sorted",
    oracle="""
    SELECT * FROM (
      SELECT o_orderkey, o_totalprice, 'hi' AS src FROM orders WHERE o_totalprice > 300000.0
      UNION ALL
      SELECT o_orderkey, o_totalprice, 'lo' AS src FROM orders WHERE o_totalprice < 1000.0
    ) ORDER BY o_orderkey LIMIT 500
    """,
    doc="MergeAppend (nodeMergeAppend.c): ordered union of sorted "
        "children — Spark: union + range-partitioned global sort, same "
        "semantics (SURVEY §2.6).",
    tags=("setop", "sort"),
)
def merge_append_sorted(spark, sf_dir):
    o = cat(spark, sf_dir).table("orders")
    hi = o.filter(F.col("o_totalprice") > 300000.0).withColumn("src", F.lit("hi"))
    lo = o.filter(F.col("o_totalprice") < 1000.0).withColumn("src", F.lit("lo"))
    return (
        hi.select("o_orderkey", "o_totalprice", "src")
        .unionAll(lo.select("o_orderkey", "o_totalprice", "src"))
        .orderBy("o_orderkey")
        .limit(500)
    )


@suite.add(
    "motion_colocated_agg",
    oracle="""
    SELECT l_orderkey, COUNT(*) AS n_lines, 1 AS n_segments
    FROM lineitem
    WHERE l_orderkey < 500
    GROUP BY l_orderkey
    """,
    doc="Redistribute Motion co-location invariant (MOTIONTYPE_HASH, "
        "nodeMotion.c): after hash distribution on l_orderkey every "
        "group lives on exactly one partition — n_segments counts the "
        "distinct spark_partition_id per key and must be 1 everywhere "
        "(gp_segment_id ≈ spark_partition_id, SURVEY §2.8).",
    tags=("motion",),
)
def motion_colocated_agg(spark, sf_dir):
    l = cat(spark, sf_dir).table("lineitem")  # already hash-distributed on l_orderkey
    return (
        l.filter(F.col("l_orderkey") < 500)
        .withColumn("__seg", F.spark_partition_id())
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_distinct(F.col("__seg")).cast("int").alias("n_segments"),
        )
    )


@suite.add(
    "udaf_grouped_pandas",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4) AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="CREATE AGGREGATE equivalent (user-defined aggregate, SURVEY "
        "§2.11): weighted average as an Arrow-batched GROUPED_AGG "
        "pandas_udf — the partial/final combine the reference declares "
        "via combinefn (pg_aggregate.h:38-40) is Spark's partial "
        "aggregation of the UDAF.",
    tags=("udf", "agg"),
)
def udaf_grouped_pandas(spark, sf_dir):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    l = cat(spark, sf_dir).table("lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(wavg(F.col("l_extendedprice"), F.col("l_quantity")), 4).alias("wavg_price")
    )


@suite.add(
    "partition_pruned_scan",
    oracle="""
    SELECT CAST(o_orderdate AS DATE) AS order_day,
           COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY CAST(o_orderdate AS DATE)
    """,
    doc="RANGE-partitioned table + static partition elimination "
        "(cdbpartition.c / CXformSelect2DynamicIndexGet → hive layout + "
        "partition pruning): writes orders partitioned by month via the "
        "DDL layer, reads back with a one-month filter — the scan "
        "touches one partition directory only.",
    tags=("partition", "scan", "ddl"),
)
def partition_pruned_scan(spark, sf_dir):
    from greengage_spark.dialect.ddl import DDLCatalog

    root = tempfile.mkdtemp(prefix="gg_part_")
    ddlcat = DDLCatalog(spark, root)
    ddlcat.create_table(
        "CREATE TABLE orders_p (o_orderkey int8, o_totalprice float8, "
        "o_orderdate timestamp) DISTRIBUTED BY (o_orderkey) "
        "PARTITION BY RANGE (o_orderdate)"
    )
    src = cat(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    data_path = os.path.join(root, "orders_p_data")
    ddlcat.write_partitioned("orders_p", src, data_path)
    back = spark.read.parquet(data_path)
    # __part = 'yyyy-MM' → the filter below prunes to a single directory
    return (
        back.filter(F.col("__part") == "1997-03")
        .groupBy(F.col("o_orderdate").cast("date").alias("order_day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            fsum(cents("o_totalprice"), 2).alias("total"),
        )
    )


@suite.add(
    "join_salted_skew",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM({SQL_MONEY.format(c='l_extendedprice')}) AS DOUBLE) AS total
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_quantity > 45.0
    GROUP BY o_orderpriority
    """,
    doc="skew-safe salted join (operators.skew.salted_join): probe rows "
        "take a uniform row-hash salt, build side replicates per salt — "
        "the hot key spreads over N tasks.  Result-identical to the "
        "plain join, so the unsalted SQL is the oracle (reference skew "
        "story: distribution-key choice only; AQE skew-split + salting "
        "are strictly stronger).",
    tags=("join", "skew"),
)
def join_salted_skew(spark, sf_dir):
    from greengage_spark.operators.skew import salted_join

    c = cat(spark, sf_dir)
    l = c.table("lineitem").filter(F.col("l_quantity") > 45.0).select(
        "l_orderkey", "l_extendedprice"
    )
    o = c.table("orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        l, o.withColumnRenamed("o_orderkey", "l_orderkey"), ["l_orderkey"], salts=8
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        fsum(cents("l_extendedprice"), 2).alias("total"),
    )


@suite.add(
    "partition_declared_bounds",
    oracle="""
    SELECT CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mon,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY CAST(EXTRACT(month FROM o_orderdate) AS INT)
    """,
    doc="Declared RANGE partition bounds + static selector "
        "(parse_partition.c:1238 START/END/EVERY expansion; "
        "cdbpartition.c selection; partition_pruning.sql): the table "
        "declares yearly partitions with a DEFAULT, __part is the "
        "declared partition NAME per bounds, and the one-year predicate "
        "statically selects exactly one declared partition (default "
        "excluded: interval fully covered) — the scan reads only that "
        "directory.",
    tags=("partition", "ddl", "scan"),
)
def partition_declared_bounds(spark, sf_dir):
    import tempfile

    from greengage_spark.dialect.ddl import DDLCatalog
    from greengage_spark.operators.partitions import select_range_partitions

    root = tempfile.mkdtemp(prefix="gg_pdb_")
    ddlcat = DDLCatalog(spark, root)
    ddlcat.create_table(
        "CREATE TABLE orders_db (o_orderkey int8, o_totalprice float8, "
        "o_orderdate date) DISTRIBUTED BY (o_orderkey) "
        "PARTITION BY RANGE (o_orderdate) "
        "( START (date '1992-01-01') END (date '1999-01-01') "
        "EVERY (INTERVAL '1 year'), DEFAULT PARTITION outliers )"
    )
    src = cat(spark, sf_dir).table("orders").select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    )
    import os as _os

    data_path = _os.path.join(root, "orders_db_data")
    ddlcat.write_partitioned("orders_db", src, data_path)
    bounds = ddlcat.tables["orders_db"].partition_bounds()
    import datetime as _dt

    sel = select_range_partitions(
        bounds, _dt.date(1996, 1, 1), _dt.date(1997, 1, 1), True, False
    )
    assert sel == ["p5"], sel  # 1996 partition only, default pruned
    back = spark.read.parquet(data_path)
    return (
        back.filter(F.col("__part").isin(sel))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
        )
        .groupBy(F.month("o_orderdate").alias("mon"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            fsum(cents("o_totalprice"), 2).alias("total"),
        )
    )


@suite.add(
    "partition_subpartition_pruning",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) = 1996
      AND EXTRACT(month FROM o_orderdate) BETWEEN 1 AND 4
    GROUP BY 1
    """,
    doc="Multi-level SUBPARTITION BY + TEMPLATE (parse_partition.c:155-226; "
        "DATE_PARTS battery partition_pruning.sql:695-760): RANGE(year) × "
        "LIST(month-quarter) nests __part/__subpart hive directories; the "
        "static selector composes per-level (1 year-part × 2 quarter-parts, "
        "defaults pruned: constraints fully covered) and the scan reads "
        "only those directory subtrees.",
    tags=("partition", "ddl", "scan"),
)
def partition_subpartition_pruning(spark, sf_dir):
    import os as _os
    import tempfile

    from greengage_spark.dialect.ddl import DDLCatalog
    from greengage_spark.operators.partitions import (
        multilevel_prune_predicate,
        select_multilevel,
    )

    root = tempfile.mkdtemp(prefix="gg_sub_")
    ddlcat = DDLCatalog(spark, root)
    ddlcat.create_table(
        "CREATE TABLE orders_sub (o_orderkey int8, o_totalprice float8, "
        "o_year int, o_month int) DISTRIBUTED BY (o_orderkey) "
        "PARTITION BY RANGE (o_year) "
        "SUBPARTITION BY LIST (o_month) SUBPARTITION TEMPLATE ( "
        "SUBPARTITION q1 VALUES (1, 2, 3), SUBPARTITION q2 VALUES (4, 5, 6), "
        "SUBPARTITION q3 VALUES (7, 8, 9), SUBPARTITION q4 VALUES (10, 11, 12) ) "
        "( START (1992) END (1999) EVERY (1), DEFAULT PARTITION outliers )"
    )
    src = cat(spark, sf_dir).table("orders").select(
        "o_orderkey",
        "o_totalprice",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
    )
    data_path = _os.path.join(root, "orders_sub_data")
    ddlcat.write_partitioned("orders_sub", src, data_path)
    levels = ddlcat.tables["orders_sub"].partition_levels()
    sel = select_multilevel(
        levels, {"o_year": ("in", [1996]), "o_month": ("range", 1, 4, True, True)}
    )
    assert [len(s) for s in sel] == [1, 2], sel  # p5(1996) × {q1,q2}; defaults pruned
    back = spark.read.parquet(data_path)
    return (
        back.filter(multilevel_prune_predicate(levels, sel))
        .filter((F.col("o_year") == 1996) & F.col("o_month").between(1, 4))
        .groupBy(F.col("o_year").alias("yr"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            fsum(cents("o_totalprice"), 2).alias("total"),
        )
    )
