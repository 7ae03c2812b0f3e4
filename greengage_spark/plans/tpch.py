"""TPC-H-derived query corpus, adapted to the driver's simplified schemas.

The reference treats TPC-H as its canonical workload (ORCA plan replays
/root/reference/src/backend/gporca/data/dxl/tpch/q1.mdp..q22.mdp, 500 GB
stats snapshot src/test/regress/sql/tpch500GB.sql).  The driver testdata
lacks partsupp and several columns (commitdate/receiptdate/shipmode/phone/
comment), so q2/q11 run over a lineitem-derived partsupp (see bottom of
file) and a few queries are re-targeted to the available columns while
keeping the operator shape (exists/anti/having/correlated-scalar/top-k)
intact — all 22 query shapes are covered.

Every query is written DataFrame-first; Catalyst plans the distribution
(broadcast for the replicated dims per catalog.TABLES, shuffle joins keyed
on the distribution columns elsewhere) exactly where the reference's
planner would insert Broadcast/Redistribute Motions
(src/backend/cdb/cdbpath.c:922 cdbpath_motion_for_join).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from greengage_spark.plans.common import (
    SQL_CHARGE,
    SQL_DISC_PRICE,
    Suite,
    cat,
    cents,
    charge_e6,
    disc_price_e4,
    fsum,
    ts,
    unscale,
    usum,
)

suite = Suite("tpch")


# --------------------------------------------------------------------------
# Q1 — pricing summary report: scan → filter → 2-stage hash agg → sort.
# Reference path: SeqScan → HashAgg(partial) → Redistribute Motion →
# HashAgg(final) → Sort (nodeAgg.c three-phase strategies, cdbgroup.c
# 2-stage planning).  Spark: partial/final HashAggregate + Exchange, free.
# --------------------------------------------------------------------------
@suite.add(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)      AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE)                       AS sum_disc_price,
           CAST(SUM({SQL_CHARGE}) AS DOUBLE)                           AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)      AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*)       AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1; multi-stage agg (reference nodeAgg.c + cdbgroup.c:96).",
    tags=("agg", "scan"),
)
def q1_pricing_summary(spark, sf_dir):
    l = cat(spark, sf_dir).table("lineitem")
    return (
        l.filter(F.col("l_shipdate") <= ts("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            fsum(cents("l_quantity"), 2).alias("sum_qty"),
            fsum(cents("l_extendedprice"), 2).alias("sum_base_price"),
            fsum(disc_price_e4(), 4).alias("sum_disc_price"),
            fsum(charge_e6(), 6).alias("sum_charge"),
            (fsum(cents("l_quantity"), 2) / F.count(F.lit(1))).alias("avg_qty"),
            (fsum(cents("l_extendedprice"), 2) / F.count(F.lit(1))).alias("avg_price"),
            (fsum(cents("l_discount"), 2) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Q3 — shipping priority: 3-way join + agg + top-k.
# Reference: HashJoin ×2 with Redistribute/Broadcast Motions + HashAgg +
# Limit(sort) (nodeLimit.c bounded sort).  Spark: TakeOrderedAndProject.
# --------------------------------------------------------------------------
@suite.add(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3; join chain + top-k (nodeLimit.c bounded tuplesort).",
    tags=("join", "agg", "topk"),
)
def q3_shipping_priority(spark, sf_dir):
    c = cat(spark, sf_dir)
    cust = c.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = c.table("orders").filter(F.col("o_orderdate") < ts("1998-03-15"))
    # lineitem routing: table(), NOT raw() — measured both ways (r15).
    # A raw load drops the Exchange under the BroadcastExchange at
    # sf0.1 (A/B 0.88x there), but at sf1 the SAME change is 2.08x
    # SLOWER (interleaved, all reps): the filtered fact outgrows the
    # broadcast threshold while the raw scan's parallelism stays at
    # input-split count, so the scan+filter becomes the critical path
    # feeding the join exchange.  The load-time repartition is what
    # keeps the fact-side work wide at every SF — an sf0.1-only win is
    # exactly what this round must not take (q5/q4 measured the same
    # direction; the r15 work log has the full matrix).
    line = c.table("lineitem").filter(F.col("l_shipdate") > ts("1998-03-15"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(line, F.col("o_orderkey") == line.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(fsum(disc_price_e4(), 4).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q4 — order priority with correlated EXISTS (adapted: no commitdate →
# "shipped after order date").  Reference: semi-join via subselect pull-up
# (src/backend/cdb/cdbsubselect.c); Spark: left_semi with join condition.
# --------------------------------------------------------------------------
@suite.add(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="correlated EXISTS → semi join (JOIN_SEMI, nodes.h:753).",
    tags=("join", "semi", "subquery"),
)
def q4_order_priority(spark, sf_dir):
    c = cat(spark, sf_dir)
    o = c.table("orders").filter(
        (F.col("o_orderdate") >= ts("1996-01-01")) & (F.col("o_orderdate") < ts("1996-07-01"))
    )
    l = c.table("lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --------------------------------------------------------------------------
# Q5 — local supplier volume: 6-way join incl. replicated dims.
# nation/region/supplier are DISTRIBUTED REPLICATED-equivalent (catalog) →
# broadcast joins; customer⋈orders⋈lineitem shuffle on their dist keys.
# --------------------------------------------------------------------------
@suite.add(
    "q5_local_supplier",
    oracle=f"""
    SELECT n_name, CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
    doc="TPC-H Q5; broadcast (replicated) dims + shuffle joins.",
    tags=("join", "broadcast", "agg"),
)
def q5_local_supplier(spark, sf_dir):
    c = cat(spark, sf_dir)
    orders = c.table("orders").filter(
        (F.col("o_orderdate") >= ts("1996-01-01")) & (F.col("o_orderdate") < ts("1997-01-01"))
    )
    region = c.dim("region").filter(F.col("r_name") == "ASIA")
    nation = c.dim("nation")
    supplier = c.dim("supplier")
    return (
        c.table("customer")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        # table(), not raw(): a raw load funnels the fact scan through
        # the input-split count just to feed the broadcast build —
        # measured 1.07x slower here at sf0.1, and the same routing on
        # q3's FILTERED lineitem inverted to 2.08x slower at sf1 (see
        # the q3 note).
        .join(c.table("lineitem"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(fsum(disc_price_e4(), 4).alias("revenue"))
    )


# --------------------------------------------------------------------------
# Q6 — revenue forecast: pure scan-filter-agg; predicates push to parquet.
# --------------------------------------------------------------------------
@suite.add(
    "q6_revenue_forecast",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6; AGG_PLAIN no-group aggregate (plannodes.h:1047).",
    tags=("scan", "agg", "pushdown"),
)
def q6_revenue_forecast(spark, sf_dir):
    l = cat(spark, sf_dir).table("lineitem")
    return l.filter(
        (F.col("l_shipdate") >= ts("1996-01-01"))
        & (F.col("l_shipdate") < ts("1997-01-01"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        fsum(cents("l_extendedprice") * cents("l_discount"), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# Q7 — volume shipping between two nations (self-join of nation dim on
# different roles; disjunctive join predicate).
# --------------------------------------------------------------------------
@suite.add(
    "q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'
    GROUP BY n1.n_name, n2.n_name, l_year
    """,
    doc="TPC-H Q7; nation dim joined twice under different roles.",
    tags=("join", "agg"),
)
def q7_volume_shipping(spark, sf_dir):
    c = cat(spark, sf_dir)
    n1 = c.dim("nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = c.dim("nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    df = (
        c.dim("supplier")
        .join(c.table("lineitem"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(c.table("orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c.table("customer"), F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
                | (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
            )
            & F.col("l_shipdate").between(ts("1996-01-01"), ts("1997-12-31"))
        )
    )
    return (
        df.withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(fsum(disc_price_e4(), 4).alias("revenue"))
    )


# --------------------------------------------------------------------------
# Q8 — market share: conditional aggregation ratio.
# --------------------------------------------------------------------------
@suite.add(
    "q8_market_share",
    oracle=f"""
    WITH all_nations AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
             {SQL_DISC_PRICE} AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'
    )
    SELECT o_year,
           CAST(SUM(volume) FILTER (WHERE nation = 'NATION_3') AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM all_nations GROUP BY o_year
    """,
    doc="TPC-H Q8; conditional agg ratio over an 8-way join.",
    tags=("join", "agg", "case"),
)
def q8_market_share(spark, sf_dir):
    c = cat(spark, sf_dir)
    n1 = c.dim("nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = c.dim("nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    df = (
        c.table("part")
        .filter(F.col("p_type") == "PROMO")
        .join(c.table("lineitem"), F.col("p_partkey") == F.col("l_partkey"))
        .join(c.dim("supplier"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            c.table("orders").filter(
                F.col("o_orderdate").between(ts("1996-01-01"), ts("1997-12-31"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c.table("customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("n1_key"))
        .join(
            c.dim("region").filter(F.col("r_name") == "ASIA"),
            F.col("n1_region") == F.col("r_regionkey"),
        )
        .join(n2, F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            disc_price_e4().alias("volume"),
            "nation",
        )
    )
    return df.groupBy("o_year").agg(
        (
            fsum(F.when(F.col("nation") == "NATION_3", F.col("volume")), 4)
            / fsum(F.col("volume"), 4)
        ).alias("mkt_share")
    )


# --------------------------------------------------------------------------
# Q9 — profit by nation/year (adapted: no partsupp → profit = disc price).
# LIKE predicate on p_name (reference like.c).
# --------------------------------------------------------------------------
@suite.add(
    "q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS sum_profit
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%gear%'
    GROUP BY 1, 2
    """,
    doc="TPC-H Q9 shape; LIKE filter + multi-join + agg.",
    tags=("join", "agg", "like"),
)
def q9_product_profit(spark, sf_dir):
    c = cat(spark, sf_dir)
    return (
        c.table("part")
        .filter(F.col("p_name").like("%gear%"))
        .join(c.table("lineitem"), F.col("p_partkey") == F.col("l_partkey"))
        .join(c.dim("supplier"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(c.table("orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c.dim("nation"), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            disc_price_e4().alias("volume"),
        )
        .groupBy("nation", "o_year")
        .agg(fsum(F.col("volume"), 4).alias("sum_profit"))
    )


# --------------------------------------------------------------------------
# Q10 — returned items: top-20 customers by lost revenue.
# --------------------------------------------------------------------------
@suite.add(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10; join + agg + top-k with tie-breaker.",
    tags=("join", "agg", "topk"),
)
def q10_returned_items(spark, sf_dir):
    c = cat(spark, sf_dir)
    orders = c.table("orders").filter(
        (F.col("o_orderdate") >= ts("1996-01-01")) & (F.col("o_orderdate") < ts("1996-04-01"))
    )
    # table(), not raw(): see the q3 routing note — raw loads win ~6% at
    # sf0.1 but invert hard at sf1 (q3 measured 2.08x slower raw).
    line = c.table("lineitem").filter(F.col("l_returnflag") == "R")
    return (
        c.table("customer")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(line, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c.dim("nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(fsum(disc_price_e4(), 4).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q12 — late shipments by priority (adapted: no shipmode/commitdate →
# lateness = shipped > 60 days after order date).  Interval arithmetic.
# --------------------------------------------------------------------------
@suite.add(
    "q12_late_shipments",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
           COUNT(*) AS total_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q12 shape; CASE agg + interval arithmetic (timestamp.c).",
    tags=("join", "agg", "case", "datetime"),
)
def q12_late_shipments(spark, sf_dir):
    c = cat(spark, sf_dir)
    o = c.table("orders").filter(
        (F.col("o_orderdate") >= ts("1997-01-01")) & (F.col("o_orderdate") < ts("1998-01-01"))
    )
    return (
        o.join(c.table("lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(
                F.when(
                    F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                    1,
                ).otherwise(0)
            ).alias("late_count"),
            F.count(F.lit(1)).alias("total_count"),
        )
    )


# --------------------------------------------------------------------------
# Q13 — customer order distribution: LEFT JOIN with join-clause filter,
# two-level aggregation.
# --------------------------------------------------------------------------
@suite.add(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderstatus <> 'F'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
    doc="TPC-H Q13; outer join + nested aggregation.",
    tags=("join", "outer", "agg"),
)
def q13_customer_distribution(spark, sf_dir):
    c = cat(spark, sf_dir)
    cust, orders = c.table("customer"), c.table("orders")
    return (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey) & (orders.o_orderstatus != "F"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# --------------------------------------------------------------------------
# Q14 — promo revenue percentage: conditional agg with FILTER semantics.
# --------------------------------------------------------------------------
@suite.add(
    "q14_promo_revenue",
    oracle=f"""
    SELECT 100.0 * CAST(SUM({SQL_DISC_PRICE}) FILTER (WHERE p_type = 'PROMO') AS DOUBLE)
                 / CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
    doc="TPC-H Q14; FILTERed aggregate ratio.",
    tags=("join", "agg", "case"),
)
def q14_promo_revenue(spark, sf_dir):
    c = cat(spark, sf_dir)
    l = c.table("lineitem").filter(
        (F.col("l_shipdate") >= ts("1997-09-01")) & (F.col("l_shipdate") < ts("1997-10-01"))
    )
    return (
        l.join(c.table("part"), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * fsum(F.when(F.col("p_type") == "PROMO", disc_price_e4()), 4)
                / fsum(disc_price_e4(), 4)
            ).alias("promo_revenue")
        )
    )


# --------------------------------------------------------------------------
# Q15 — top supplier: CTE reused twice (ShareInputScan,
# nodeShareInputScan.c:284) + scalar subquery max.  Exact unscaled revenue →
# equality against MAX is deterministic.
# --------------------------------------------------------------------------
@suite.add(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, SUM({SQL_DISC_PRICE}) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    doc="shared CTE + scalar subquery (ShareInputScan / AssertOp).",
    tags=("cte", "subquery", "agg"),
)
def q15_top_supplier(spark, sf_dir):
    c = cat(spark, sf_dir)
    revenue = (
        c.table("lineitem")
        .filter(
            (F.col("l_shipdate") >= ts("1997-01-01")) & (F.col("l_shipdate") < ts("1997-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(usum(disc_price_e4()).alias("total_revenue"))
    )
    # Shared-CTE materialization: reference streams one materialization to
    # two consumers; Spark reuses the exchange, .cache() makes it explicit.
    revenue = revenue.cache()
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    return (
        c.dim("supplier")
        .join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(max_rev, F.col("total_revenue") == F.col("m"))
        .select("s_suppkey", "s_name", unscale(F.col("total_revenue"), 4).alias("total_revenue"))
    )


# --------------------------------------------------------------------------
# Q16 — supplier count by part attrs (adapted via lineitem; no partsupp).
# COUNT(DISTINCT) → 2-stage DQA (reference CXformSplitDQA.cpp).
# --------------------------------------------------------------------------
@suite.add(
    "q16_parts_supplier_cnt",
    oracle="""
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20, 25)
    GROUP BY p_brand, p_type, p_size
    """,
    doc="DQA: distinct-qualified aggregate (cdbgroup.c *_DQA_2STAGE).",
    tags=("agg", "dqa"),
)
def q16_parts_supplier_cnt(spark, sf_dir):
    c = cat(spark, sf_dir)
    p = c.table("part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    return (
        p.join(c.table("lineitem"), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# Q17 — small-quantity order revenue; correlated scalar AVG subquery.
# Decorrelated into a join against the per-part aggregate (the rewrite
# ORCA's CSubqueryHandler would apply).  Predicate multiplied through by
# COUNT to stay in exact integer/decimal algebra (see common.py rule 4):
#   qty < 0.2 * SUM/CNT   ⟺   5 * qty * CNT < SUM
# --------------------------------------------------------------------------
@suite.add(
    "q17_small_qty_revenue",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey AS agg_pk,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN per_part ON agg_pk = l_partkey
    WHERE p_brand = 'Brand#3'
      AND 5 * CAST(l_quantity AS DECIMAL(12,2)) * cnt < sum_qty
    """,
    doc="correlated scalar subquery, decorrelated (CSubqueryHandler).",
    tags=("subquery", "join", "agg"),
)
def q17_small_qty_revenue(spark, sf_dir):
    c = cat(spark, sf_dir)
    l = c.table("lineitem")
    per_part = l.groupBy(F.col("l_partkey").alias("agg_pk")).agg(
        usum(cents("l_quantity")).alias("sum_qty"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        l.join(c.table("part").filter(F.col("p_brand") == "Brand#3"),
               F.col("p_partkey") == F.col("l_partkey"))
        .join(per_part, F.col("agg_pk") == F.col("l_partkey"))
        .filter(F.lit(5) * cents("l_quantity") * F.col("cnt") < F.col("sum_qty"))
        .agg((fsum(cents("l_extendedprice"), 2) / F.lit(7.0)).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# Q18 — large-volume customers: IN over GROUP BY ... HAVING subquery.
# --------------------------------------------------------------------------
@suite.add(
    "q18_large_volume_customer",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    doc="IN (grouped HAVING subquery) → semi join; top-k.",
    tags=("subquery", "semi", "having", "topk"),
)
def q18_large_volume_customer(spark, sf_dir):
    c = cat(spark, sf_dir)
    # r15: the HAVING pre-aggregate ALREADY computes each qualifying
    # order's quantity sum, and the output groups on o_orderkey — so the
    # projected total_qty IS the pre-aggregate's sum.  The r14 shape
    # semi-joined the keys and then re-joined ALL lineitem rows of the
    # qualifying orders to re-sum the same quantity (one extra fact-probe
    # join + a second corpus-scale aggregation, mitigated by AQE exchange
    # reuse).  Joining the aggregate INNER and projecting its sum is
    # result-identical (group keys contain o_orderkey, so one row per
    # qualifying order either way) and scans/aggregates lineitem exactly
    # once with no probe join.  Interleaved A/B at sf0.1: 0.59x, faster
    # on all 7 reps, rows byte-identical.  isnotnull(l_orderkey) is
    # oracle-exact: NULL never joins and never matches IN.
    l = (
        c.table("lineitem")
        .select("l_orderkey", "l_quantity")
        .filter(F.col("l_orderkey").isNotNull())
    )
    big = (
        l.groupBy("l_orderkey")
        .agg(usum(cents("l_quantity")).alias("sq"))
        .filter(F.col("sq") > 15000)
    )
    return (
        c.table("customer")
        .join(c.table("orders"), F.col("c_custkey") == F.col("o_custkey"))
        .join(big, F.col("o_orderkey") == big.l_orderkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            unscale(F.col("sq"), 2).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q19 — discounted revenue: disjunction of conjunctive predicates across
# join inputs (reference: BitmapOr-style predicate combination).
# --------------------------------------------------------------------------
@suite.add(
    "q19_discounted_revenue",
    oracle=f"""
    SELECT CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="OR-of-AND predicates (BitmapAnd/BitmapOr semantics → filter).",
    tags=("join", "predicate"),
)
def q19_discounted_revenue(spark, sf_dir):
    c = cat(spark, sf_dir)
    j = c.table("lineitem").join(c.table("part"), F.col("p_partkey") == F.col("l_partkey"))
    p = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(p).agg(fsum(disc_price_e4(), 4).alias("revenue"))


# --------------------------------------------------------------------------
# Q20 — suppliers with excess volume (adapted; semi join on aggregated
# subquery).
# --------------------------------------------------------------------------
@suite.add(
    "q20_excess_suppliers",
    oracle="""
    SELECT s_name, s_nationkey
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
      GROUP BY l_suppkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 100
    )
    """,
    doc="TPC-H Q20 shape; IN over aggregated join subquery.",
    tags=("subquery", "semi", "having"),
)
def q20_excess_suppliers(spark, sf_dir):
    c = cat(spark, sf_dir)
    sub = (
        c.table("lineitem")
        .join(c.table("part").filter(F.col("p_type") == "PROMO"),
              F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(usum(cents("l_quantity")).alias("sq"))
        .filter(F.col("sq") > 10000)
        .select("l_suppkey")
    )
    return (
        c.table("supplier")
        .join(sub, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_nationkey")
    )


# --------------------------------------------------------------------------
# Q21 — waiting suppliers (adapted to shipdate): EXISTS + NOT EXISTS with
# inequality correlation — semi AND anti join on the same relation.
# --------------------------------------------------------------------------
@suite.add(
    "q21_waiting_supplier",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    doc="correlated EXISTS + NOT EXISTS (semi + anti on same table).",
    tags=("semi", "anti", "subquery", "topk"),
)
def q21_waiting_supplier(spark, sf_dir):
    # The EXISTS (another supplier in the order) and NOT EXISTS (another
    # supplier shipped later) subqueries are classically two extra
    # lineitem self-joins — at 100 TB, two extra shuffles of the biggest
    # table.  Instead, pre-aggregate lineitem once into per-order supplier
    # stats: per (orderkey, suppkey) max shipdate (map-side combine), then
    # per orderkey the supplier count and the top-2 (shipdate, suppkey)
    # per-supplier maxima.  A row's "max shipdate among OTHER suppliers"
    # is top1 when top1 is another supplier, else top2 — so
    #   EXISTS      ≡ nsupp >= 2
    #   NOT EXISTS  ≡ other_max IS NULL OR other_max <= own shipdate.
    # Suppliers per order are bounded (≤7 in TPC-H), so the collected
    # top-2 array is O(1) per order at any scale.
    c = cat(spark, sf_dir)
    # One shared lineitem subtree for BOTH consumers (the stats pre-agg
    # and the l1 probe side).  The explicit isnotnull filters replicate
    # what the join sides infer anyway, so the two subtrees canonicalize
    # identically and ReuseExchange ships lineitem through ONE scan +
    # ONE shuffle instead of two (guide §2.4; r13 plan showed two full
    # scan+exchange chains differing only by an inferred IsNotNull).
    # Semantics are oracle-exact: a NULL l_suppkey can never satisfy
    # `l2.l_suppkey <> l1.l_suppkey`, and NULL l_orderkey never joins.
    l = (
        c.table("lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .filter(F.col("l_suppkey").isNotNull() & F.col("l_orderkey").isNotNull())
    )
    per_supp = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supp_max_sd")
    )
    # Top-2 per order WITHOUT collect_list (r15).  The old shape —
    # sort_array(collect_list(struct))[1:2] — is a TypedImperativeAggregate
    # (ObjectHashAggregate): past 128 distinct keys per task it ALWAYS
    # falls back to sort-based aggregation with a per-group
    # serialize/deserialize of the ArrayBuffer buffer
    # (SortBasedAggregator.findNextSortedGroup) — an interpretive,
    # allocation-heavy path outside whole-stage codegen.  Thread dumps of
    # a loaded long-lived session (the bench) showed all 32 task threads
    # pinned in exactly that fallback while q21 ran 8-25x its isolated
    # time: the object churn amplifies GC/CPU pressure that codegen
    # stages shrug off.  row_number + count over per-order windows keep
    # the whole chain in codegen (the windows and the conditional-max
    # pivot ride the existing hashpartitioning(l_orderkey) — zero new
    # exchanges, one in-partition sort of the per-(order,supp) stream).
    # Result-identical: sort_array desc orders struct(sd, sk) by sd DESC
    # then sk DESC — exactly w_rank's ordering; per_supp has one row per
    # (order, supp), so row_number is deterministic; single-supplier
    # orders get sd2 = NULL from the conditional max over no rk=2 row,
    # matching try_element_at(top2, 2) on a 1-element array.
    w_rank = Window.partitionBy("l_orderkey").orderBy(
        F.desc("supp_max_sd"), F.desc("l_suppkey")
    )
    w_all = Window.partitionBy("l_orderkey")
    ranked = per_supp.select(
        "l_orderkey",
        "l_suppkey",
        "supp_max_sd",
        F.row_number().over(w_rank).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("nsupp"),
    )
    stats = (
        ranked.filter(F.col("rk") <= 2)
        .groupBy("l_orderkey")
        .agg(
            F.max("nsupp").alias("nsupp"),
            F.max(F.when(F.col("rk") == 1, F.col("supp_max_sd"))).alias("sd1"),
            F.max(F.when(F.col("rk") == 1, F.col("l_suppkey"))).alias("sk1"),
            F.max(F.when(F.col("rk") == 2, F.col("supp_max_sd"))).alias("sd2"),
        )
        .select(F.col("l_orderkey").alias("st_orderkey"), "nsupp", "sd1", "sk1", "sd2")
    )
    l1 = l.select(
        F.col("l_orderkey").alias("k1_orderkey"),
        F.col("l_suppkey").alias("k1_suppkey"),
        F.col("l_shipdate").alias("k1_shipdate"),
    )
    base = (
        c.dim("supplier")
        .join(l1, F.col("s_suppkey") == F.col("k1_suppkey"))
        .join(
            c.table("orders").filter(F.col("o_orderstatus") == "F"),
            F.col("o_orderkey") == F.col("k1_orderkey"),
        )
        .join(stats, F.col("st_orderkey") == F.col("k1_orderkey"))
    )
    other_max = F.when(F.col("sk1") != F.col("k1_suppkey"), F.col("sd1")).otherwise(
        F.col("sd2")
    )
    not_latest = base.filter(
        (F.col("nsupp") >= 2)
        & (other_max.isNull() | (other_max <= F.col("k1_shipdate")))
    )
    return (
        not_latest.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q22 — inactive high-balance customers (adapted: nationkey buckets instead
# of phone prefixes).  Uncorrelated scalar AVG rewritten to exact algebra:
#   bal > SUM_pos/CNT_pos  ⟺  bal * CNT_pos > SUM_pos   (CNT_pos > 0)
# plus NOT EXISTS anti join.
# --------------------------------------------------------------------------
@suite.add(
    "q22_inactive_customers",
    oracle="""
    WITH pos AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS sum_bal, COUNT(*) AS cnt_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer, pos
    WHERE CAST(c_acctbal AS DECIMAL(12,2)) * cnt_bal > sum_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
    doc="TPC-H Q22 shape; scalar agg subquery + NOT EXISTS anti join.",
    tags=("anti", "subquery", "agg"),
)
def q22_inactive_customers(spark, sf_dir):
    c = cat(spark, sf_dir)
    cust = c.table("customer")
    pos = cust.filter(F.col("c_acctbal") > 0.0).agg(
        usum(cents("c_acctbal")).alias("sum_bal"), F.count(F.lit(1)).alias("cnt_bal")
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(cents("c_acctbal") * F.col("cnt_bal") > F.col("sum_bal"))
        .join(
            c.table("orders").filter(F.col("o_orderdate") >= ts("2000-01-01")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            fsum(cents("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# Q2 / Q11 — the two queries that need partsupp, which the driver testdata
# lacks.  We derive the same relation from lineitem: one row per
# (partkey, suppkey) with ps_supplycost := MIN(l_extendedprice in cents)
# — keeping both operator shapes intact: Q2's correlated scalar-MIN
# subquery (reference: ORCA CSubqueryHandler/CDecorrelator unnests it to a
# join, gporca/libgpopt/src/xforms/CXformInnerApply2InnerJoin.cpp) and
# Q11's HAVING-vs-global-total scalar subquery.
# --------------------------------------------------------------------------
_SQL_PS = """
    ps AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS ps_supplycost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
"""


def _derived_partsupp(c):
    l = c.table("lineitem")
    return l.groupBy(
        l.l_partkey.alias("ps_partkey"), l.l_suppkey.alias("ps_suppkey")
    ).agg(F.min(cents("l_extendedprice")).alias("ps_supplycost"))


@suite.add(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH {_SQL_PS},
    eu AS (
      SELECT ps_partkey, ps_suppkey, ps_supplycost,
             s_name, s_acctbal, n_name
      FROM ps
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      JOIN region   ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE'
    ),
    best AS (SELECT ps_partkey, MIN(ps_supplycost) AS min_cost FROM eu GROUP BY ps_partkey)
    SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
           p_partkey, p_brand
    FROM part
    JOIN eu   ON eu.ps_partkey = p_partkey
    JOIN best ON best.ps_partkey = p_partkey AND eu.ps_supplycost = best.min_cost
    WHERE p_size = 5 AND p_type = 'LARGE'
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    doc="TPC-H Q2 shape over a lineitem-derived partsupp; correlated "
        "scalar-MIN subquery hand-decorrelated into a per-part min join "
        "(what ORCA's CDecorrelator produces).",
    tags=("join", "subquery", "topk"),
)
def q2_min_cost_supplier(spark, sf_dir):
    c = cat(spark, sf_dir)
    # r15: the old shape evaluated the eu subtree TWICE — once joined to
    # part and once under the per-part min aggregation — and eu embeds
    # the partsupp derivation, i.e. a full lineitem scan + a fact-wide
    # (partkey, suppkey) shuffle per evaluation (column pruning makes
    # the two subtrees differ, so AQE cannot reuse the exchange).  Now:
    # (1) the selective part filter joins INTO eu first (min cost per
    # part is untouched by filtering on part attributes), and (2) the
    # per-part minimum rides a window over the single eu evaluation —
    # keeping cost ties, which an argmin aggregate would drop.  One
    # lineitem derivation instead of two; the window partitions on
    # p_partkey (suppliers per part are bounded, so no skewed window
    # task at any scale).  Interleaved A/B at sf0.1: 0.80x on all 7
    # reps, rows identical; oracle-exact sf0.01 + sf0.001.
    ps = _derived_partsupp(c)
    part = c.table("part").filter((F.col("p_size") == 5) & (F.col("p_type") == "LARGE"))
    eu = (
        ps.join(part, F.col("ps_partkey") == F.col("p_partkey"))
        .join(c.dim("supplier"), ps.ps_suppkey == F.col("s_suppkey"))
        .join(c.dim("nation"), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(
            c.dim("region").filter(F.col("r_name") == "EUROPE"),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select(
            "p_partkey", "p_brand", "ps_supplycost", "s_name", "s_acctbal", "n_name"
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        eu.withColumn("min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@suite.add(
    "q11_important_stock",
    oracle=f"""
    WITH {_SQL_PS},
    nat AS (
      SELECT ps_partkey,
             SUM(ps_supplycost * CAST(s_suppkey % 7 + 1 AS DECIMAL(4,0))) AS part_value
      FROM ps JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
      GROUP BY ps_partkey
    ),
    tot AS (SELECT SUM(part_value) AS total FROM nat)
    SELECT ps_partkey, CAST(part_value AS DOUBLE) AS part_value
    FROM nat, tot
    WHERE part_value * 1000 > total
    """,
    doc="TPC-H Q11 shape over derived partsupp (availqty := suppkey%7+1, "
        "deterministic); HAVING vs global-total scalar subquery, exact "
        "decimal algebra (value*1000 > total avoids float boundaries).",
    tags=("agg", "subquery"),
)
def q11_important_stock(spark, sf_dir):
    c = cat(spark, sf_dir)
    ps = _derived_partsupp(c)
    nat = (
        ps.join(c.dim("supplier"), ps.ps_suppkey == F.col("s_suppkey"))
        .join(
            c.dim("nation").filter(
                F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11")
            ),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .groupBy("ps_partkey")
        .agg(
            usum(F.col("ps_supplycost") * (F.col("s_suppkey") % 7 + 1)).alias("part_value")
        )
    )
    tot = nat.agg(F.sum("part_value").alias("total"))
    return (
        nat.crossJoin(F.broadcast(tot))
        .filter(F.col("part_value") * 1000 > F.col("total"))
        .select("ps_partkey", unscale(F.col("part_value"), 2).alias("part_value"))
    )
