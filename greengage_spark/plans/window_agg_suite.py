"""Window-function and aggregate-family queries (SURVEY §2.4/§2.5).

Covers the reference's WindowAgg node (nodeWindowAgg.c: all 16 window
pg_proc entries, ROWS/RANGE frames), grouping extensions
(plangroupext.c: GROUPING SETS/ROLLUP/CUBE + grouping()), statistic
aggregates, ordered-set aggregates (orderedsetaggs.c) and pivot (pivot.c).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from greengage_spark.operators.aggregate import (
    hypothetical_dense_rank,
    hypothetical_rank,
    median,
    mode_det,
    percentile_cont,
    percentile_disc,
)
from greengage_spark.plans.common import SQL_MONEY, Suite, cat, cents, fsum, ts, unscale, usum

suite = Suite("window_agg")

# a small deterministic lineitem slice so window outputs stay ~1k rows
_SLICE = "l_shipdate >= TIMESTAMP '1997-06-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-06-08 00:00:00'"


def _slice(spark, sf_dir):
    return (
        cat(spark, sf_dir)
        .table("lineitem")
        .filter(
            (F.col("l_shipdate") >= ts("1997-06-01")) & (F.col("l_shipdate") < ts("1997-06-08"))
        )
    )


# ===================== WINDOW FUNCTIONS (§2.5) =====================

@suite.add(
    "window_ranking",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           ROW_NUMBER()   OVER w AS rn,
           RANK()         OVER w AS rnk,
           DENSE_RANK()   OVER w AS drnk,
           PERCENT_RANK() OVER w AS prnk,
           CUME_DIST()    OVER w AS cd,
           NTILE(4)       OVER w AS nt
    FROM lineitem
    WHERE {_SLICE}
    WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity DESC, l_orderkey, l_linenumber)
    """,
    doc="all ranking window functions (pg_proc.h:4874-4902).",
    tags=("window",),
)
def window_ranking(spark, sf_dir):
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_quantity"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return _slice(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(4).over(w).alias("nt"),
    )


@suite.add(
    "window_offset",
    oracle="""
    SELECT event_id, user_id,
           LAG(value)          OVER w AS prev_value,
           LEAD(value)         OVER w AS next_value,
           FIRST_VALUE(value)  OVER w AS first_val,
           LAST_VALUE(value)   OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_val,
           NTH_VALUE(value, 2) OVER w AS second_val
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="offset window functions: lag/lead/first/last/nth_value.",
    tags=("window",),
)
def window_offset(spark, sf_dir):
    ev = cat(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w_full).alias("last_val"),
        F.nth_value("value", 2).over(w).alias("second_val"),
    )


@suite.add(
    "window_frames_rows",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)))
                OVER (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum,
           CAST(MIN(CAST(l_quantity AS DECIMAL(12,2)))
                OVER (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber
                      ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS local_min
    FROM lineitem WHERE {_SLICE}
    """,
    doc="ROWS frames (FRAMEOPTION_*, parsenodes.h:495-516).",
    tags=("window", "frames"),
)
def window_frames_rows(spark, sf_dir):
    base = Window.partitionBy("l_returnflag").orderBy(F.asc("l_orderkey"), F.asc("l_linenumber"))
    return _slice(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        unscale(usum(cents("l_quantity")).over(base.rowsBetween(-2, 0)), 2).alias("moving_sum"),
        unscale(F.min(cents("l_quantity")).over(base.rowsBetween(-1, 1)), 2).alias("local_min"),
    )


@suite.add(
    "window_frames_range",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_quantity,
           COUNT(*) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
                          RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS cnt_range
    FROM lineitem WHERE {_SLICE}
    """,
    doc="value-based RANGE frame (FRAMEOPTION_RANGE).",
    tags=("window", "frames"),
)
def window_frames_range(spark, sf_dir):
    w = Window.partitionBy("l_returnflag").orderBy(F.col("l_quantity")).rangeBetween(-5, 0)
    return _slice(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.count(F.lit(1)).over(w).alias("cnt_range"),
    )


@suite.add(
    "window_running_total",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
    FROM orders
    """,
    doc="cumulative aggregate-over-window (eval_windowaggregates).",
    tags=("window",),
)
def window_running_total(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    return cat(spark, sf_dir).table("orders").select(
        "o_orderkey",
        "o_custkey",
        unscale(usum(cents("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2)
        .alias("running_total"),
        F.row_number().over(w).alias("order_seq"),
    )


# ================= GROUPING EXTENSIONS (§2.4) =================

_GSET_AGG = "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)"


@suite.add(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, {_GSET_AGG} AS sum_qty, COUNT(*) AS cnt,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="GROUPING SETS + grouping() (plangroupext.c:406, nodeRepeat.c).",
    tags=("agg", "groupingsets"),
)
def agg_grouping_sets(spark, sf_dir):
    l = cat(spark, sf_dir).table("lineitem")
    return (
        l.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            fsum(cents("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
            F.grouping_id().alias("gid"),
        )
    )


@suite.add(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, {_GSET_AGG} AS sum_qty,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP (canonical rollup, plangroupext.c:45-77).",
    tags=("agg", "groupingsets"),
)
def agg_rollup(spark, sf_dir):
    l = cat(spark, sf_dir).table("lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        fsum(cents("l_quantity"), 2).alias("sum_qty"),
        F.grouping_id().alias("gid"),
    )


@suite.add(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, {_GSET_AGG} AS sum_qty,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE over two dims.",
    tags=("agg", "groupingsets"),
)
def agg_cube(spark, sf_dir):
    l = cat(spark, sf_dir).table("lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        fsum(cents("l_quantity"), 2).alias("sum_qty"),
        F.grouping_id().alias("gid"),
    )


_GROUP_ID_PG = f"""
    SELECT l_returnflag, l_linestatus, GROUP_ID() AS gid2,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gmask,
           {_GSET_AGG} AS sum_qty
    FROM lineitem
    GROUP BY CUBE((l_returnflag), (l_returnflag, l_linestatus)),
             ROLLUP((l_returnflag))
    """


def _group_id_oracle() -> str:
    # the DuckDB twin of the same statement — duck_grouping_sql lowers
    # GROUP_ID() (duplicate-set numbering, plangroupext.c:45-77) into the
    # gid-table join DuckDB can run; computed from the PG text so the two
    # sides can never drift
    from greengage_spark.dialect.transpiler import duck_grouping_sql

    return duck_grouping_sql(_GROUP_ID_PG)


@suite.add(
    "agg_group_id_dup_sets",
    oracle=_group_id_oracle(),
    doc="GROUP_ID() + duplicate grouping sets from concatenated CUBE×ROLLUP "
    "cross products (plangroupext.c:45-77 canonical representation; "
    "multi-arg GROUPING() bitmask, parse_agg.c).  Duplicate sets expand as "
    "deduplicated GROUPING SETS × a broadcast gid join, so the Expand "
    "factor stays at the distinct-set count at any scale.",
    tags=("agg", "groupingsets"),
)
def agg_group_id_dup_sets(spark, sf_dir):
    from greengage_spark.plans.functions_suite import _pg

    return _pg(spark, sf_dir, _GROUP_ID_PG, ["lineitem"])


@suite.add(
    "agg_pivot",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(SUM({SQL_MONEY.format(c='o_totalprice')}) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS F,
           CAST(SUM({SQL_MONEY.format(c='o_totalprice')}) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS O,
           CAST(SUM({SQL_MONEY.format(c='o_totalprice')}) FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS P
    FROM orders GROUP BY o_orderpriority
    """,
    doc="pivot (reference pivot.c accumulators → df.groupBy().pivot()).",
    tags=("agg", "pivot"),
)
def agg_pivot(spark, sf_dir):
    o = cat(spark, sf_dir).table("orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(fsum(cents("o_totalprice"), 2))
    )


# ================= AGGREGATE FUNCTIONS (§2.4/§2.8) =================

@suite.add(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(VAR_SAMP(l_quantity), 6)  AS var_s,
           ROUND(VAR_POP(l_quantity), 6)   AS var_p,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS std_s,
           ROUND(STDDEV_POP(l_quantity), 6)  AS std_p,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qp,
           ROUND(COVAR_POP(l_quantity, l_discount), 6) AS covar_qd
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="statistic aggregates (pg_aggregate.h:230-260, regr_* family). "
        "Rounded to 1e-6: values are O(10), cross-engine float error is "
        "O(1e-12), so rounding is three orders of magnitude safe.",
    tags=("agg", "stats"),
)
def agg_stats(spark, sf_dir):
    l = cat(spark, sf_dir).table("lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.var_samp("l_quantity"), 6).alias("var_s"),
        F.round(F.var_pop("l_quantity"), 6).alias("var_p"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("std_s"),
        F.round(F.stddev_pop("l_quantity"), 6).alias("std_p"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        F.round(F.covar_pop("l_quantity", "l_discount"), 6).alias("covar_qd"),
    )


@suite.add(
    "agg_bool_bit",
    oracle="""
    SELECT p_brand,
           BOOL_AND(p_size > 2)  AS all_big,
           BOOL_OR(p_size > 45)  AS any_huge,
           CAST(BIT_AND(p_size) AS BIGINT) AS band,
           CAST(BIT_OR(p_size)  AS BIGINT) AS bor,
           CAST(BIT_XOR(p_size) AS BIGINT) AS bxor
    FROM part GROUP BY p_brand
    """,
    doc="bool_and/or + bit_and/or/xor aggregates (pg_aggregate.h).",
    tags=("agg",),
)
def agg_bool_bit(spark, sf_dir):
    p = cat(spark, sf_dir).table("part")
    return p.groupBy("p_brand").agg(
        F.bool_and(F.col("p_size") > 2).alias("all_big"),
        F.bool_or(F.col("p_size") > 45).alias("any_huge"),
        F.bit_and(F.col("p_size").cast("long")).alias("band"),
        F.bit_or(F.col("p_size").cast("long")).alias("bor"),
        F.bit_xor(F.col("p_size").cast("long")).alias("bxor"),
    )


@suite.add(
    "agg_string_agg",
    oracle="""
    SELECT l_returnflag,
           STRING_AGG(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="string_agg with deterministic ordering (varlena.c string_agg).",
    tags=("agg", "string"),
)
def agg_string_agg(spark, sf_dir):
    l = cat(spark, sf_dir).table("lineitem")
    return l.groupBy("l_returnflag").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("l_linestatus"))).alias("statuses")
    )


@suite.add(
    "agg_array_agg",
    oracle="""
    SELECT c_mktsegment,
           to_json(list_sort(list(DISTINCT c_nationkey))) AS nations
    FROM customer GROUP BY c_mktsegment
    """,
    doc="array_agg → collect_set/list; compared as canonical JSON.",
    tags=("agg", "array"),
)
def agg_array_agg(spark, sf_dir):
    c = cat(spark, sf_dir).table("customer")
    return c.groupBy("c_mktsegment").agg(
        F.to_json(F.array_sort(F.collect_set("c_nationkey"))).alias("nations")
    )


@suite.add(
    "agg_count_variants",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS cnt_star,
           COUNT(DISTINCT o_custkey) AS cnt_cust,
           COUNT(DISTINCT o_orderpriority) AS cnt_prio
    FROM orders GROUP BY o_orderstatus
    """,
    doc="count(*) + multiple DISTINCT aggregates (multi-DQA, Expand).",
    tags=("agg", "dqa"),
)
def agg_count_variants(spark, sf_dir):
    o = cat(spark, sf_dir).table("orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt_star"),
        F.countDistinct("o_custkey").alias("cnt_cust"),
        F.countDistinct("o_orderpriority").alias("cnt_prio"),
    )


@suite.add(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS parts_within_5pct,
           TRUE AS orders_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="approx_count_distinct (reference: HLL in analyze.c:62).  HLL "
    "sketches differ across engines, so the oracle checks the sketch's "
    "CONTRACT: the approximate count must land within the configured "
    "relative error (5%, rsd 0.05 → ~3σ) of the exact count, reported "
    "as a boolean the hash compare pins to TRUE.",
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark, sf_dir):
    l = cat(spark, sf_dir).table("lineitem")
    eps = 0.05
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.approx_count_distinct("l_partkey", rsd=0.017).alias("ap"),
            F.approx_count_distinct("l_orderkey", rsd=0.017).alias("ao"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            "exact_orders",
            (
                F.abs(F.col("ap") - F.col("exact_parts"))
                <= eps * F.col("exact_parts")
            ).alias("parts_within_5pct"),
            (
                F.abs(F.col("ao") - F.col("exact_orders"))
                <= eps * F.col("exact_orders")
            ).alias("orders_within_5pct"),
        )
    )


@suite.add(
    "agg_ordered_set",
    oracle="""
    SELECT l_returnflag,
           CAST(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS DOUBLE) AS p25,
           CAST(percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS DOUBLE) AS p50,
           CAST(percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity) AS DOUBLE) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="percentile_cont WITHIN GROUP (orderedsetaggs.c:542) + median.",
    tags=("agg", "ordered_set"),
)
def agg_ordered_set(spark, sf_dir):
    l = cat(spark, sf_dir).table("lineitem")
    return l.groupBy("l_returnflag").agg(
        percentile_cont("l_quantity", 0.25).alias("p25"),
        median("l_quantity").alias("p50"),
        percentile_cont("l_quantity", 0.75).alias("p75"),
    )


@suite.add(
    "agg_percentile_disc",
    oracle="""
    SELECT l_returnflag,
           CAST(percentile_disc(0.3) WITHIN GROUP (ORDER BY l_quantity) AS DOUBLE) AS p30
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="percentile_disc (orderedsetaggs.c:404): min value with cume_dist>=p.",
    tags=("agg", "ordered_set"),
)
def agg_percentile_disc(spark, sf_dir):
    l = cat(spark, sf_dir).table("lineitem")
    out = percentile_disc(l, ["l_returnflag"], "l_quantity", 0.3, "p30")
    return out.select("l_returnflag", F.col("p30").cast("double").alias("p30"))


@suite.add(
    "agg_mode",
    oracle="""
    SELECT l_returnflag, CAST(v AS DOUBLE) AS mode_qty FROM (
      SELECT l_returnflag, l_quantity AS v, COUNT(*) AS c
      FROM lineitem GROUP BY 1, 2
      QUALIFY c = MAX(c) OVER (PARTITION BY l_returnflag)
    ) QUALIFY v = MIN(v) OVER (PARTITION BY l_returnflag)
    """,
    doc="mode() ordered-set agg, deterministic tie-break on smallest value.",
    tags=("agg", "ordered_set"),
)
def agg_mode(spark, sf_dir):
    l = cat(spark, sf_dir).table("lineitem")
    out = mode_det(l, ["l_returnflag"], "l_quantity", "mode_qty")
    return out.select("l_returnflag", F.col("mode_qty").cast("double").alias("mode_qty"))


@suite.add(
    "agg_hypothetical_rank",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_quantity < 25) + 1 AS hrank,
           COUNT(DISTINCT CASE WHEN l_quantity < 25 THEN l_quantity END) + 1 AS hdense
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="hypothetical-set rank/dense_rank WITHIN GROUP (orderedsetaggs.c:155).",
    tags=("agg", "ordered_set"),
)
def agg_hypothetical_rank(spark, sf_dir):
    l = cat(spark, sf_dir).table("lineitem")
    r = hypothetical_rank(l, ["l_returnflag"], "l_quantity", 25, "hrank")
    d = hypothetical_dense_rank(l, ["l_returnflag"], "l_quantity", 25, "hdense")
    return r.join(d, "l_returnflag")


@suite.add(
    "agg_regr_family",
    oracle="""
    SELECT l_returnflag,
           regr_count(l_extendedprice, l_quantity) AS r_n,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4)     AS r_slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS r_icept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6)        AS r_r2,
           ROUND(regr_avgx(l_extendedprice, l_quantity), 4)      AS r_avgx,
           ROUND(regr_avgy(l_extendedprice, l_quantity), 4)      AS r_avgy
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="regr_* linear-regression aggregate family (pg_aggregate.h regr_ "
        "entries, utils/adt/float.c) — built-in since Spark 3.4.",
    tags=("agg",),
)
def agg_regr_family(spark, sf_dir):
    l = cat(spark, sf_dir).table("lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return l.groupBy("l_returnflag").agg(
        F.regr_count(y, x).alias("r_n"),
        F.round(F.regr_slope(y, x), 4).alias("r_slope"),
        F.round(F.regr_intercept(y, x), 4).alias("r_icept"),
        F.round(F.regr_r2(y, x), 6).alias("r_r2"),
        F.round(F.regr_avgx(y, x), 4).alias("r_avgx"),
        F.round(F.regr_avgy(y, x), 4).alias("r_avgy"),
    )


@suite.add(
    "agg_json_objects",
    oracle="""
    SELECT o_orderpriority,
           to_json(list(struct_pack(k := o_orderkey, s := o_orderstatus)
                        ORDER BY o_orderkey)) AS orders_json
    FROM orders
    WHERE o_orderkey < 200
    GROUP BY o_orderpriority
    """,
    doc="json_agg / row_to_json (utils/adt/json.c): array-of-objects per "
        "group; deterministic via array_sort before serialization.",
    tags=("agg", "json"),
)
def agg_json_objects(spark, sf_dir):
    o = cat(spark, sf_dir).table("orders").filter(F.col("o_orderkey") < 200)
    return o.groupBy("o_orderpriority").agg(
        F.to_json(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("s"))
                )
            )
        ).alias("orders_json")
    )
