"""Scan-family, sort/limit, recursive CTE, table-function and external-table
queries (SURVEY §2.1/§2.6/§2.7 RecursiveUnion/§2.11).
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from greengage_spark.operators.aggregate import linear_interpolate
from greengage_spark.operators.recursive import recursive_cte
from greengage_spark.operators.tablefunc import grouped_table_function, table_function
from greengage_spark.plans.common import Suite, cat, cents, ts, unscale, usum
from greengage_spark.sources.external import ExternalTable, copy_to

suite = Suite("scan_misc")


# ========================= SCANS (§2.1) =========================

@suite.add(
    "scan_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2001-10-01 00:00:00' AND l_returnflag = 'A'
    """,
    doc="SeqScan + qual + projection (nodeSeqscan.c / ExecQual); filter and "
        "column pruning reach the parquet reader.",
    tags=("scan", "pushdown"),
)
def scan_filter_project(spark, sf_dir):
    l = cat(spark, sf_dir).table("lineitem")
    return l.filter(
        (F.col("l_shipdate") >= ts("2001-10-01")) & (F.col("l_returnflag") == "A")
    ).select("l_orderkey", "l_linenumber", "l_quantity")


@suite.add(
    "values_scan",
    oracle="""
    SELECT v.code, v.factor, r_name
    FROM (VALUES (0, 1.5), (1, 2.0), (2, 2.5), (3, 3.0), (4, 3.5)) v(code, factor)
    JOIN region ON r_regionkey = v.code
    """,
    doc="VALUES literal rows (nodeValuesscan.c) joined to a table.",
    tags=("scan", "values"),
)
def values_scan(spark, sf_dir):
    c = cat(spark, sf_dir)
    v = spark.createDataFrame(
        [(0, 1.5), (1, 2.0), (2, 2.5), (3, 3.0), (4, 3.5)], "code int, factor double"
    )
    return v.join(c.dim("region"), F.col("r_regionkey") == F.col("code")).select(
        "code", "factor", "r_name"
    )


@suite.add(
    "function_scan_series",
    oracle="""
    SELECT g AS n, g * g AS n_sq, g % 7 AS n_mod
    FROM generate_series(1, 1000) t(g)
    """,
    doc="set-returning function in FROM (generate_series, nodeFunctionscan.c).",
    tags=("scan", "function"),
)
def function_scan_series(spark, sf_dir):
    return spark.range(1, 1001).select(
        F.col("id").alias("n"),
        (F.col("id") * F.col("id")).alias("n_sq"),
        (F.col("id") % 7).alias("n_mod"),
    )


@suite.add(
    "unnest_explode",
    oracle="""
    SELECT token, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')[1:5]) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    """,
    doc="unnest/explode of a computed array (arrayfuncs.c unnest → explode).",
    tags=("scan", "array"),
)
def unnest_explode(spark, sf_dir):
    d = cat(spark, sf_dir).table("documents")
    return (
        d.select(F.explode(F.slice(F.split(F.col("text"), " "), 1, 5)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@suite.add(
    "external_csv_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_regionkey IN (0, 2)
    """,
    doc="writable+readable external table (fileam.c / copy.c): unload to "
        "CSV, read back through the SREH-capable reader.",
    tags=("scan", "external"),
)
def external_csv_roundtrip(spark, sf_dir):
    c = cat(spark, sf_dir)
    loc = os.path.join(tempfile.gettempdir(), "gg_ext_nation_csv")
    src = c.table("nation").filter(F.col("n_regionkey").isin(0, 2)).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    copy_to(src, loc, fmt="csv", header=False)
    ext = ExternalTable(
        location=loc,
        schema="n_nationkey int, n_name string, n_regionkey int",
        fmt="csv",
        reject_limit=0,
    )
    return ext.read(spark)


@suite.add(
    "foreign_scan_jdbc",
    oracle="""
    SELECT n_regionkey,
           COUNT(*) AS n_nations,
           MIN(n_name) AS first_name
    FROM nation GROUP BY n_regionkey
    """,
    doc="ForeignScan (nodeForeignscan.c / contrib/postgres_fdw): foreign "
        "table over JDBC — write nation into an embedded Derby database, "
        "read it back as a range-partitioned parallel JDBC scan (the "
        "per-segment-cursor analog), aggregate.  Filters and column "
        "pruning push into the remote query (JDBCScan PushedFilters, "
        "asserted in tests/test_foreign.py).",
    tags=("scan", "foreign"),
)
def foreign_scan_jdbc(spark, sf_dir):
    from greengage_spark.sources.foreign import (
        derby_server,
        read_foreign_table,
        write_foreign_table,
    )

    c = cat(spark, sf_dir)
    loc = os.path.join(tempfile.gettempdir(), "gg_fdw_derby")
    srv = derby_server(loc)
    write_foreign_table(c.table("nation"), srv, "nation")
    remote = read_foreign_table(
        spark, srv, "nation",
        partition_column="n_nationkey",
        lower_bound=0, upper_bound=25, num_partitions=4,
    )
    return remote.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_name"),
    )


@suite.add(
    "foreign_dblink_query",
    oracle="""
    SELECT CAST(n_regionkey AS INTEGER) AS rk,
           CAST(count(*) AS BIGINT) AS n, MIN(n_name) AS first_name
    FROM nation GROUP BY n_regionkey ORDER BY rk
    """,
    doc="contrib/dblink (dblink.c:652-654) over the JDBC foreign layer: "
        "dblink_connect names a remote, dblink() ships the WHOLE query "
        "text to it (the remote aggregates; only 5 rows come back — "
        "dblink's contract, vs the foreign-table path's qual pushdown), "
        "the column definition list types the result. Remote is the "
        "embedded Derby the foreign layer already exercises. A dblink "
        "call is one remote cursor by design — bulk reads belong to the "
        "range-partitioned foreign-table scan.",
    tags=("scan", "foreign", "contrib"),
)
def foreign_dblink_query(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine
    from greengage_spark.sources.foreign import derby_server, write_foreign_table

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_dblq_"))
    loc = os.path.join(tempfile.gettempdir(), "gg_dblink_derby_reg")
    srv = derby_server(loc)
    write_foreign_table(cat(spark, sf_dir).table("nation"), srv, "nation")
    eng.execute(f"SELECT dblink_connect('reg', '{srv.url}')")
    try:
        # Derby uppercases unquoted names and the JDBC layer re-selects
        # by name, so the shipped text quotes identifiers and aliases
        # every expression — the dblink contract is unchanged (the
        # remote runs this text verbatim)
        return eng.execute(
            'SELECT * FROM dblink(\'reg\', '
            "'SELECT \"n_regionkey\" AS rk, COUNT(*) AS n, "
            "MIN(CAST(\"n_name\" AS VARCHAR(64))) AS first_name FROM nation "
            "GROUP BY \"n_regionkey\"') "
            "AS t(rk int4, n int8, first_name text) ORDER BY rk"
        )
    finally:
        eng.execute("SELECT dblink_disconnect('reg')")


@suite.add(
    "foreign_dblink_async",
    oracle="""
    SELECT CAST(r_regionkey AS INTEGER) AS rk, r_name,
           CAST(1 AS INTEGER) AS sent, CAST(0 AS INTEGER) AS busy_after
    FROM region ORDER BY rk
    """,
    doc="contrib/dblink async surface (dblink.c:659-688 "
        "dblink_send_query / dblink_is_busy / dblink_get_result): the "
        "query ships to the remote and runs on a driver-side executor "
        "slot (one in-flight per named connection, libpq's rule); "
        "get_result blocks like PQgetResult and the column definition "
        "list types the rows. sent/busy_after pin the protocol ints "
        "(send accepted = 1; settled busy flag = 0).",
    tags=("scan", "foreign", "contrib"),
)
def foreign_dblink_async(spark, sf_dir):
    import time

    from greengage_spark.engine import GreengageEngine
    from greengage_spark.sources.foreign import derby_server, write_foreign_table

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_dbla_"))
    loc = os.path.join(tempfile.gettempdir(), "gg_dblink_derby_async")
    srv = derby_server(loc)
    write_foreign_table(cat(spark, sf_dir).table("region"), srv, "region")
    eng.execute(f"SELECT dblink_connect('areg', '{srv.url}')")
    try:
        sent = eng.execute(
            "SELECT dblink_send_query('areg', "
            "'SELECT \"r_regionkey\" AS rk, "
            "CAST(\"r_name\" AS VARCHAR(32)) AS r_name FROM region')"
        ).collect()[0][0]
        for _ in range(200):
            if (
                eng.execute("SELECT dblink_is_busy('areg')").collect()[0][0]
                == 0
            ):
                break
            time.sleep(0.05)
        busy = eng.execute("SELECT dblink_is_busy('areg')").collect()[0][0]
        return eng.execute(
            "SELECT rk, r_name, "
            f"{int(sent)}::int4 AS sent, {int(busy)}::int4 AS busy_after "
            "FROM dblink_get_result('areg') AS t(rk int4, r_name text) "
            "ORDER BY rk"
        )
    finally:
        eng.execute("SELECT dblink_disconnect('areg')")


# ==================== SORT / LIMIT (§2.6) ====================

@suite.add(
    "sort_nulls_ordering",
    oracle="""
    SELECT o_orderkey, CASE WHEN o_orderstatus = 'P' THEN NULL
                            ELSE CAST(o_totalprice AS DOUBLE) END AS price_or_null
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2001-07-01 00:00:00'
    ORDER BY price_or_null ASC NULLS FIRST, o_orderkey
    LIMIT 50
    """,
    doc="explicit NULLS FIRST/LAST ordering (PG default differs from "
        "Spark's — always explicit, SURVEY §7 M4).",
    tags=("sort", "nulls"),
)
def sort_nulls_ordering(spark, sf_dir):
    o = cat(spark, sf_dir).table("orders").filter(F.col("o_orderdate") >= ts("2001-07-01"))
    price_or_null = (
        F.when(F.col("o_orderstatus") == "P", F.lit(None).cast("double"))
        .otherwise(F.col("o_totalprice").cast("double"))
        .alias("price_or_null")
    )
    return (
        o.select("o_orderkey", price_or_null)
        .orderBy(F.col("price_or_null").asc_nulls_first(), F.col("o_orderkey").asc())
        .limit(50)
    )


@suite.add(
    "topk_offset",
    oracle="""
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 15 OFFSET 5
    """,
    doc="LIMIT + OFFSET (nodeLimit.c) → df.offset().limit().",
    tags=("sort", "topk"),
)
def topk_offset(spark, sf_dir):
    o = cat(spark, sf_dir).table("orders")
    return (
        o.select("o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(5)
        .limit(15)
    )


@suite.add(
    "distinct_projection",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS ship_year
    FROM lineitem
    """,
    doc="DISTINCT (nodeUnique.c / dedup HashAgg).",
    tags=("distinct",),
)
def distinct_projection(spark, sf_dir):
    l = cat(spark, sf_dir).table("lineitem")
    return l.select(
        "l_returnflag", "l_linestatus", F.year("l_shipdate").cast("int").alias("ship_year")
    ).distinct()


# ================= RECURSIVE CTE (§2.7) =================

@suite.add(
    "recursive_series",
    oracle="""
    WITH RECURSIVE r(n) AS (
      SELECT 1
      UNION ALL
      SELECT n + 1 FROM r WHERE n < 60
    )
    SELECT n, n * n AS n_sq FROM r
    """,
    doc="WITH RECURSIVE UNION ALL (nodeRecursiveunion.c) — driver fixpoint.",
    tags=("recursive",),
)
def recursive_series(spark, sf_dir):
    seed = spark.createDataFrame([(1,)], "n int")
    out = recursive_cte(
        seed,
        lambda f: f.filter(F.col("n") < 60).select((F.col("n") + 1).alias("n")),
        union_all=True,
        max_iterations=70,
    )
    return out.select("n", (F.col("n") * F.col("n")).alias("n_sq"))


_RECURSIVE_SQL = """
    WITH RECURSIVE chain(nationkey, hop) AS (
      SELECT n_nationkey, 0 FROM nation WHERE n_nationkey = 0
      UNION ALL
      SELECT n.n_nationkey, c.hop + 1 FROM nation n, chain c
      WHERE n.n_nationkey = c.nationkey + 5 AND c.hop < 10
    )
    SELECT nationkey, hop FROM chain
    """


@suite.add(
    "recursive_sql_cte",
    oracle=_RECURSIVE_SQL,
    doc="WITH RECURSIVE through the SQL front-end (dialect.recursive_sql: "
        "parse → seed/step split → fixpoint; gp_recursive_cte.sql surface).",
    tags=("recursive", "dialect"),
)
def recursive_sql_cte(spark, sf_dir):
    from greengage_spark.catalog import register_tables
    from greengage_spark.dialect import pg_sql

    register_tables(spark, sf_dir, ["nation"])
    return pg_sql(spark, _RECURSIVE_SQL)


@suite.add(
    "recursive_graph_closure",
    oracle="""
    WITH RECURSIVE reach(key) AS (
      SELECT 24
      UNION
      SELECT e.dst FROM reach JOIN
        (SELECT n_nationkey AS src, n_nationkey // 2 AS dst FROM nation WHERE n_nationkey > 0) e
        ON e.src = reach.key
    )
    SELECT key FROM reach
    """,
    doc="transitive closure over a derived edge table (gp_recursive_cte.sql "
        "pattern) with UNION-distinct termination.",
    tags=("recursive", "join"),
)
def recursive_graph_closure(spark, sf_dir):
    c = cat(spark, sf_dir)
    edges = (
        c.dim("nation")
        .filter(F.col("n_nationkey") > 0)
        .select(
            F.col("n_nationkey").alias("src"),
            (F.col("n_nationkey") / 2).cast("int").alias("dst"),
        )
    )
    seed = spark.createDataFrame([(24,)], "key int")
    return recursive_cte(
        seed,
        lambda f: f.join(edges, f["key"] == edges["src"]).select(F.col("dst").alias("key")),
        union_all=False,
    )


# ================ TABLE FUNCTIONS (§2.11) ================

@suite.add(
    "tablefunc_scatter_by",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND("value" * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
    doc="TableFunction over ANYTABLE SCATTER BY user_id "
        "(nodeTableFunction.c:54) → repartition + mapInPandas; per-key math "
        "in integer cents so pandas-side order can't matter.",
    tags=("tablefunc", "udf"),
)
def tablefunc_scatter_by(spark, sf_dir):
    ev = cat(spark, sf_dir).table("events")

    def per_user_stats(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = (pdf["value"] * 100).round().astype("int64")
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "sum_cents": [int(cents.sum())],
                "first_ts": [pdf["ts"].min()],
                "last_ts": [pdf["ts"].max()],
            }
        )

    return grouped_table_function(
        ev,
        ["user_id"],
        per_user_stats,
        "user_id long, n_events long, sum_cents long, first_ts timestamp_ntz, last_ts timestamp_ntz",
    )


@suite.add(
    "tablefunc_mapinpandas",
    oracle="""
    SELECT event_id, user_id,
           CAST(ROUND("value" * 100) AS BIGINT) AS cents,
           UPPER(event_type) AS event_type_uc
    FROM events WHERE event_type IN ('purchase', 'signup')
    """,
    doc="row-stream table function (mapInPandas, Arrow-batched) — the "
        "per-partition path with no scatter (ON ANY).",
    tags=("tablefunc", "udf"),
)
def tablefunc_mapinpandas(spark, sf_dir):
    ev = cat(spark, sf_dir).table("events").filter(F.col("event_type").isin("purchase", "signup"))

    def transform(batches):
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "user_id": pdf["user_id"],
                    "cents": (pdf["value"] * 100).round().astype("int64"),
                    "event_type_uc": pdf["event_type"].str.upper(),
                }
            )
            yield out

    return table_function(
        ev, transform, "event_id long, user_id long, cents long, event_type_uc string"
    )


# ================ INTERPOLATION (interpolate.c) ================

@suite.add(
    "linear_interpolate_gaps",
    oracle="""
    WITH seq AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'error' THEN NULL ELSE "value" END AS v,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), marked AS (
      SELECT *,
             MAX(CASE WHEN v IS NOT NULL THEN rn END) OVER
               (PARTITION BY user_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_rn,
             MIN(CASE WHEN v IS NOT NULL THEN rn END) OVER
               (PARTITION BY user_id ORDER BY rn ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_rn
      FROM seq
    ), endpoints AS (
      SELECT m.*,
             pv.v AS prev_v, nx.v AS next_v
      FROM marked m
      LEFT JOIN seq pv ON pv.user_id = m.user_id AND pv.rn = m.prev_rn
      LEFT JOIN seq nx ON nx.user_id = m.user_id AND nx.rn = m.next_rn
    )
    SELECT event_id, user_id,
           ROUND(CASE WHEN v IS NOT NULL THEN v
                WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                THEN prev_v + (next_v - prev_v) * (rn - prev_rn) / (next_rn - prev_rn)
                END, 6) AS v_filled
    FROM endpoints
    """,
    doc="linear_interpolate (interpolate.c:234): fill NULL runs between "
        "non-null neighbors; endpoints stay NULL.",
    tags=("window", "interpolate"),
)
def linear_interpolate_gaps(spark, sf_dir):
    ev = cat(spark, sf_dir).table("events")
    seq = ev.select(
        "event_id",
        "user_id",
        F.when(F.col("event_type") == "error", F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id")))
        .alias("rn"),
    )
    filled = linear_interpolate(seq, ["user_id"], "rn", "v", "v_filled")
    return filled.select("event_id", "user_id", F.round(F.col("v_filled"), 6).alias("v_filled"))


@suite.add(
    "dml_update_delete",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 250000.0 THEN '0-URGENT'
                ELSE o_orderpriority END AS o_orderpriority,
           o_orderstatus,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    WHERE o_orderkey < 2000 AND o_orderstatus <> 'F'
    """,
    doc="UPDATE + DELETE via copy-on-write version rewrite (ModifyTable "
        "nodeModifyTable.c / SplitUpdate nodeSplitUpdate.c → operators."
        "dml.WritableTable); runs real parquet writes in a temp table.",
    tags=("dml",),
)
def dml_update_delete(spark, sf_dir):
    from greengage_spark.operators.dml import WritableTable

    base = cat(spark, sf_dir).table("orders").filter(F.col("o_orderkey") < 2000)
    t = WritableTable(
        spark, tempfile.mkdtemp(prefix="gg_dml_"), dist_keys=("o_orderkey",)
    ).create(base)
    t.update(
        {"o_orderpriority": F.lit("0-URGENT")}, F.col("o_totalprice") > 250000.0
    )
    t.delete(F.col("o_orderstatus") == "F")
    return t.df().select(
        "o_orderkey",
        "o_orderpriority",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


@suite.add(
    "cte_shared_materialize",
    oracle="""
    WITH hot AS (
      SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
      FROM lineitem GROUP BY l_partkey HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 100
    ),
    stats AS (SELECT AVG(CAST(qty AS DOUBLE)) AS avg_qty FROM hot)
    SELECT h.l_partkey, CAST(h.qty AS DOUBLE) AS qty,
           CASE WHEN CAST(h.qty AS DOUBLE) > s.avg_qty THEN 'above' ELSE 'at_or_below' END AS band
    FROM hot h, stats s
    """,
    doc="shared CTE consumed twice (rows + its own aggregate): persisted "
        "once, the ShareInputScan role (nodeShareInputScan.c:284-325 — "
        "cross-slice materialization ≈ .persist + ReuseExchange).",
    tags=("cte", "scan"),
)
def cte_shared_materialize(spark, sf_dir):
    from pyspark import StorageLevel

    l = cat(spark, sf_dir).table("lineitem")
    hot = (
        l.groupBy("l_partkey")
        .agg(usum(cents("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 10000)
        .select("l_partkey", unscale(F.col("qty"), 2).alias("qty"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stats = hot.agg(F.avg("qty").alias("avg_qty"))
    return hot.crossJoin(F.broadcast(stats)).select(
        "l_partkey",
        "qty",
        F.when(F.col("qty") > F.col("avg_qty"), "above")
        .otherwise("at_or_below")
        .alias("band"),
    )


@suite.add(
    "sequence_nextval",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS seq_id
    FROM orders WHERE o_orderkey < 500
    """,
    doc="CREATE SEQUENCE + per-row nextval over a FROM query (sequence.c "
        "DefineSequence:336 / nextval_internal:632 → operators.sequence; "
        "engine lowers nextval to a reserved range + row_number window). "
        "Values are unique and contiguous 1..N; the row pairing is "
        "arbitrary as in PG, so the query projects the id set only.",
    tags=("sequence", "engine"),
)
def sequence_nextval(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_seq_"))
    cat(spark, sf_dir).table("orders").filter(
        F.col("o_orderkey") < 500
    ).createOrReplaceTempView("seq_src_orders")
    eng.execute("CREATE SEQUENCE order_ids")
    return eng.execute("SELECT nextval('order_ids') AS seq_id FROM seq_src_orders")


@suite.add(
    "create_function_sql",
    oracle="""
    SELECT o_orderkey, CAST(o_totalprice * 1.07 AS DOUBLE) AS taxed
    FROM orders WHERE o_orderkey < 200
    """,
    doc="CREATE FUNCTION ... LANGUAGE sql (pg_proc SQL functions; regress "
        "create_function_*.sql) lowered to a Spark SQL-defined function "
        "(CREATE TEMPORARY FUNCTION ... RETURN expr) — the call inlines "
        "into Catalyst and stays inside whole-stage codegen.",
    tags=("udf", "engine"),
)
def create_function_sql(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_fn_"))
    cat(spark, sf_dir).table("orders").filter(
        F.col("o_orderkey") < 200
    ).createOrReplaceTempView("fn_src_orders")
    eng.execute(
        "CREATE OR REPLACE FUNCTION with_tax(p float8) RETURNS float8 "
        "AS 'SELECT $1 * 1.07' LANGUAGE sql"
    )
    return eng.execute(
        "SELECT o_orderkey, with_tax(o_totalprice::float8) AS taxed "
        "FROM fn_src_orders"
    )


@suite.add(
    "create_function_plforeign",
    oracle="""
    SELECT c_custkey,
           reverse(c_name) AS rev_name,
           CAST(c_custkey * 2 + length(c_name) AS BIGINT) AS tcl_calc
    FROM customer WHERE c_custkey < 60 ORDER BY c_custkey
    """,
    doc="CREATE FUNCTION ... LANGUAGE plperl / pltcl (src/pl/plperl/"
        "plperl.c; src/pl/tcl/pltcl.c): the REAL system interpreter runs "
        "as a per-worker coprocess (the libperl/libtcl-embedding "
        "analog), the body compiles once at spawn (compile errors "
        "surface at CREATE like the reference's validators), rows "
        "stream over a pipe — perl takes @_/undef-NULL/JSON lines, tcl "
        "takes $1..$n positional args over base64 framing. Row-at-a-time "
        "by design, the same tier as the reference's per-call PL "
        "dispatch; hot paths belong in LANGUAGE sql.",
    tags=("udf", "engine"),
)
def create_function_plforeign(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_plf_"))
    cat(spark, sf_dir).table("customer").filter(
        F.col("c_custkey") < 60
    ).createOrReplaceTempView("plf_src_customer")
    eng.execute(
        "CREATE OR REPLACE FUNCTION perl_rev(text) RETURNS text AS "
        "$$ return scalar reverse shift; $$ LANGUAGE plperl"
    )
    eng.execute(
        "CREATE OR REPLACE FUNCTION tcl_calc(k int8, s text) RETURNS int8 "
        "AS 'return [expr {$1 * 2 + [string length $2]}]' LANGUAGE pltcl"
    )
    return eng.execute(
        "SELECT c_custkey, perl_rev(c_name) AS rev_name, "
        "tcl_calc(c_custkey, c_name) AS tcl_calc "
        "FROM plf_src_customer ORDER BY c_custkey"
    )


@suite.add(
    "stat_statements",
    oracle="""
    SELECT * FROM (VALUES
      ('SELECT c_custkey FROM stat_src WHERE c_custkey > $1', CAST(3 AS BIGINT)),
      ('SELECT count(*) AS n FROM stat_src', CAST(1 AS BIGINT)),
      ('SELECT upper($1) AS u', CAST(2 AS BIGINT))
    ) AS t(query, calls) ORDER BY query
    """,
    doc="contrib/pg_stat_statements (pg_stat_statements.c): per-statement "
        "execution statistics — literal normalization to $n placeholders "
        "(strings and numerics; digits of placed placeholders and "
        "identifiers are protected), track=top semantics (nested "
        "engine-internal executes guarded out by a reentrancy flag), "
        "calls/total/min/max/mean timing columns, and "
        "pg_stat_statements_reset(). The view materializes lazily from "
        "the driver-side stats dict only when queried — zero cost on the "
        "data path.",
    tags=("engine", "introspection"),
)
def stat_statements(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_pss_"))
    cat(spark, sf_dir).table("customer").limit(50).createOrReplaceTempView(
        "stat_src"
    )
    for v in (5, 10, 20):
        eng.execute(f"SELECT c_custkey FROM stat_src WHERE c_custkey > {v}")
    eng.execute("SELECT count(*) AS n FROM stat_src")
    eng.execute("SELECT upper('a') AS u")
    eng.execute("SELECT upper('b') AS u")
    return eng.execute(
        "SELECT query, calls FROM pg_stat_statements ORDER BY query"
    )


@suite.add(
    "pgstattuple_vacuum",
    oracle="""
    SELECT * FROM (VALUES
      ('fresh',        CAST(60 AS BIGINT), CAST(0  AS BIGINT), CAST(100.0 AS DOUBLE)),
      ('deleted',      CAST(30 AS BIGINT), CAST(60 AS BIGINT), NULL),
      ('vacuum_full',  CAST(30 AS BIGINT), CAST(0  AS BIGINT), CAST(100.0 AS DOUBLE))
    ) AS t(phase, tuple_count, dead_tuple_count, tuple_percent)
    ORDER BY phase
    """,
    doc="contrib/pgstattuple (pgstattuple.c) + VACUUM FULL reclamation "
        "(vacuum.c full_vacuum_rel): tuple statistics over the COW "
        "manifest — live = the current manifest's parquet files, dead = "
        "superseded data files still on disk; VACUUM FULL rewrites live "
        "rows into fresh files and deletes every superseded file and "
        "old manifest version (refused inside a transaction block, PG's "
        "error verbatim). The oracle pins the three-phase lifecycle: "
        "fresh table all-live, post-DELETE dead files visible, "
        "post-VACUUM-FULL reclaimed.",
    tags=("engine", "introspection"),
)
def pgstattuple_vacuum(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_pstt_"))
    eng.execute("CREATE TABLE pstt (x int8, v text)")
    eng.execute(
        "INSERT INTO pstt SELECT g, 'v' || g FROM generate_series(1, 60) g"
    )

    def snap(phase):
        r = eng.execute("SELECT * FROM pgstattuple('pstt')").collect()[0]
        return (
            phase, r.tuple_count, r.dead_tuple_count,
            r.tuple_percent if r.dead_tuple_count == 0 else None,
        )

    rows = [snap("fresh")]
    eng.execute("DELETE FROM pstt WHERE x <= 30")
    rows.append(snap("deleted"))
    eng.execute("VACUUM FULL pstt")
    rows.append(snap("vacuum_full"))
    return spark.createDataFrame(
        rows,
        "phase string, tuple_count bigint, dead_tuple_count bigint, "
        "tuple_percent double",
    ).orderBy("phase")


@suite.add(
    "create_aggregate_ddl",
    oracle="""
    SELECT o_custkey, CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders WHERE o_orderkey < 2000 GROUP BY o_custkey
    """,
    doc="CREATE AGGREGATE (aggregatecmds.c; create_aggregate.sql) with a "
        "built-in transition function, lowered to an Arrow-batched pandas "
        "GROUPED_AGG UDAF folding SFUNC over each group (strict "
        "transition: nulls skipped, advance_transition_function).",
    tags=("udaf", "engine"),
)
def create_aggregate_ddl(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_agg_"))
    cat(spark, sf_dir).table("orders").filter(
        F.col("o_orderkey") < 2000
    ).createOrReplaceTempView("agg_src_orders")
    eng.execute(
        "CREATE OR REPLACE AGGREGATE my_total (int8) "
        "(sfunc = int8pl, stype = int8, initcond = '0')"
    )
    # cents-integer fold: exact, order-independent (common.py rule 4)
    return eng.execute(
        "SELECT o_custkey, my_total(round(o_totalprice * 100)::int8) AS total_cents "
        "FROM agg_src_orders GROUP BY o_custkey"
    )


@suite.add(
    "ddl_alter_table",
    oracle="""
    SELECT p_partkey, p_name AS part_name,
           CAST(p_retailprice AS DOUBLE) AS p_retailprice, 'mid' AS band
    FROM part WHERE p_partkey <= 200
    UNION ALL
    SELECT p_partkey, p_name AS part_name,
           CAST(p_retailprice AS DOUBLE) AS p_retailprice, 'new' AS band
    FROM part WHERE p_partkey > 200 AND p_partkey <= 250
    """,
    doc="ALTER TABLE surface (tablecmds.c ATExecAddColumn/ATExecDropColumn/"
        "renameatt/ATPrepAlterColumnType; alter_distribution_policy.sql "
        "MPP-5500): ADD COLUMN DEFAULT + RENAME COLUMN + ALTER TYPE + DROP "
        "COLUMN as METADATA-ONLY manifest commits — pre-ALTER parquet files "
        "are never rewritten; the schema-evolution log maps each file era "
        "to the current schema at read.  Mixed-era scan (pre-ALTER backfill "
        "rows + post-ALTER inserted rows) must match the oracle.",
    tags=("ddl", "engine", "alter"),
)
def ddl_alter_table(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_alter_"))
    cat(spark, sf_dir).table("part").createOrReplaceTempView("part")
    eng.execute(
        "CREATE TABLE alter_t AS SELECT p_partkey, p_name, p_brand, "
        "p_retailprice FROM part WHERE p_partkey <= 200 DISTRIBUTED BY (p_partkey)"
    )
    eng.execute("ALTER TABLE alter_t ADD COLUMN band text DEFAULT 'mid'")
    eng.execute("ALTER TABLE alter_t RENAME COLUMN p_name TO part_name")
    eng.execute("ALTER TABLE alter_t ALTER COLUMN p_retailprice TYPE float8")
    eng.execute("ALTER TABLE alter_t DROP COLUMN p_brand")
    eng.execute(
        "INSERT INTO alter_t SELECT p_partkey, p_name, p_retailprice, 'new' "
        "FROM part WHERE p_partkey > 200 AND p_partkey <= 250"
    )
    return eng.execute(
        "SELECT p_partkey, part_name, p_retailprice, band FROM alter_t"
    )


@suite.add(
    "ddl_truncate",
    oracle="""
    SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 2
    """,
    doc="TRUNCATE (tablecmds.c ExecuteTruncate; truncate.sql): O(1) "
        "empty-manifest commit — no data file read, written, or deleted "
        "(old versions stay for time travel).  Table refills normally "
        "afterwards.",
    tags=("ddl", "engine", "truncate"),
)
def ddl_truncate(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_trunc_"))
    cat(spark, sf_dir).table("nation").createOrReplaceTempView("nation")
    eng.execute(
        "CREATE TABLE trunc_t AS SELECT n_nationkey, n_name FROM nation "
        "DISTRIBUTED BY (n_nationkey)"
    )
    eng.execute("TRUNCATE TABLE trunc_t")
    eng.execute(
        "INSERT INTO trunc_t SELECT n_nationkey, n_name FROM nation "
        "WHERE n_regionkey = 2"
    )
    return eng.execute("SELECT n_nationkey, n_name FROM trunc_t")


@suite.add(
    "create_function_plpgsql",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000.0 THEN 'high'
                WHEN o_totalprice > 100000.0 THEN 'mid'
                ELSE 'low' END AS band,
           CAST(o_totalprice * 0.06 AS DOUBLE) AS tax
    FROM orders WHERE o_orderkey < 500
    """,
    doc="CREATE FUNCTION ... LANGUAGE plpgsql restricted subset "
        "(src/pl/plpgsql/ exec_stmt_return/exec_stmt_if; qp_functions.sql "
        "shapes): BEGIN RETURN expr; END and IF/ELSIF/ELSE chains of "
        "RETURNs lower to SQL-defined functions that inline into Catalyst "
        "(zero Python in the plan).",
    tags=("udf", "engine", "plpgsql"),
)
def create_function_plpgsql(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_plpg_"))
    cat(spark, sf_dir).table("orders").filter(
        F.col("o_orderkey") < 500
    ).createOrReplaceTempView("plpg_src_orders")
    eng.execute(
        "CREATE OR REPLACE FUNCTION price_band(p float8) RETURNS text AS $$\n"
        "BEGIN\n"
        "  IF p > 300000.0 THEN RETURN 'high';\n"
        "  ELSIF p > 100000.0 THEN RETURN 'mid';\n"
        "  ELSE RETURN 'low';\n"
        "  END IF;\n"
        "END;\n$$ LANGUAGE plpgsql"
    )
    eng.execute(
        "CREATE OR REPLACE FUNCTION sales_tax(subtotal float8) RETURNS float8 "
        "AS $$ BEGIN RETURN subtotal * 0.06; END; $$ LANGUAGE plpgsql"
    )
    return eng.execute(
        "SELECT o_orderkey, price_band(o_totalprice::float8) AS band, "
        "sales_tax(o_totalprice::float8) AS tax FROM plpg_src_orders"
    )


@suite.add(
    "create_function_plpgsql_vars",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice * (1 + 0.07) AS DOUBLE)
                - CAST(o_totalprice * 0.02 AS DOUBLE) AS DOUBLE) AS net,
           CASE WHEN o_totalprice > 200000.0 THEN 'over' ELSE 'under' END
             AS flag
    FROM orders WHERE o_orderkey < 400
    """,
    doc="plpgsql declared variables + := assignment chains "
        "(src/pl/plpgsql/ exec_stmt_assign): straight-line variable code "
        "folds to one Catalyst expression via bind-time substitution with "
        "assignment casts — still zero Python in the plan.",
    tags=("udf", "engine", "plpgsql"),
)
def create_function_plpgsql_vars(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_plpgv_"))
    cat(spark, sf_dir).table("orders").filter(
        F.col("o_orderkey") < 400
    ).createOrReplaceTempView("plpgv_src_orders")
    eng.execute(
        "CREATE OR REPLACE FUNCTION net_price(p float8) RETURNS float8 AS $$\n"
        "DECLARE rate float8 := 0.07;\n"
        "  total float8;\n"
        "  discount float8;\n"
        "BEGIN\n"
        "  total := p * (1 + rate);\n"
        "  discount := p * 0.02;\n"
        "  RETURN total - discount;\n"
        "END;\n$$ LANGUAGE plpgsql"
    )
    eng.execute(
        "CREATE OR REPLACE FUNCTION over_under(p float8) RETURNS text AS $$\n"
        "DECLARE pivot float8 := 200000.0;\n"
        "BEGIN\n"
        "  IF p > pivot THEN RETURN 'over';\n"
        "  ELSE RETURN 'under';\n"
        "  END IF;\n"
        "END;\n$$ LANGUAGE plpgsql"
    )
    return eng.execute(
        "SELECT o_orderkey, net_price(o_totalprice::float8) AS net, "
        "over_under(o_totalprice::float8) AS flag FROM plpgv_src_orders"
    )


@suite.add(
    "function_crosstab_pivot",
    oracle="""
    WITH r AS (
      SELECT n_regionkey, n_name,
             row_number() OVER (PARTITION BY n_regionkey
                                ORDER BY n_nationkey) AS ord
      FROM nation
    )
    SELECT CAST(n_regionkey AS INTEGER) AS region,
           MAX(CASE WHEN ord = 1 THEN n_name END) AS n1,
           MAX(CASE WHEN ord = 2 THEN n_name END) AS n2,
           MAX(CASE WHEN ord = 3 THEN n_name END) AS n3,
           MAX(CASE WHEN ord = 4 THEN n_name END) AS n4,
           MAX(CASE WHEN ord = 5 THEN n_name END) AS n5
    FROM r GROUP BY n_regionkey ORDER BY region
    """,
    doc="contrib/tablefunc crosstab() (tablefunc.c): FROM-position pivot "
        "with a column definition list. The source stays a distributed "
        "DataFrame; the pivot is Spark's two-phase groupBy().pivot() "
        "(partial maps per partition, one shuffle on the row key) — "
        "nothing is collected in the 1-form. Oracle re-derives with a "
        "ranked conditional aggregation.",
    tags=("engine", "function", "pivot"),
)
def function_crosstab_pivot(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_ctab_"))
    cat(spark, sf_dir).table("nation").createOrReplaceTempView("ctab_nation")
    return eng.execute(
        "SELECT * FROM crosstab("
        "'select n_regionkey, n_nationkey, n_name from ctab_nation "
        "order by 1,2') "
        "AS x(region int4, n1 text, n2 text, n3 text, n4 text, n5 text) "
        "ORDER BY region"
    )


@suite.add(
    "script_do_block_loop",
    oracle="""
    SELECT CAST(g AS BIGINT) AS k, CAST(g * g AS BIGINT) AS sq
    FROM generate_series(1, 10) t(g) ORDER BY k
    """,
    doc="DO $$ ... $$ anonymous blocks through the full plpgsql "
        "interpreter driver-side (functioncmds.c ExecuteDoStmt; "
        "plpgsql_interp.run_block): FOR-range loop whose body INSERTs "
        "through the engine with variable interpolation — procedural "
        "migration-script shapes end-to-end. Oracle recomputes the "
        "squares in closed form.",
    tags=("engine", "plpgsql", "script"),
)
def script_do_block_loop(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_dob_"))
    eng.execute("CREATE TABLE squares (k int8, sq int8)")
    eng.execute(
        "DO $$\nDECLARE i int8;\nBEGIN\n"
        "  FOR i IN 1 .. 10 LOOP\n"
        "    INSERT INTO squares VALUES (i, i * i);\n"
        "  END LOOP;\nEND $$"
    )
    return eng.execute("SELECT k, sq FROM squares ORDER BY k")


@suite.add(
    "external_fixedwidth",
    oracle="""
    SELECT * FROM (VALUES
      ('ann', 12, 'london'), ('bob', 3, 'paris'),
      (NULL, 7, NULL)
    ) AS t(name, qty, city) ORDER BY qty
    """,
    doc="contrib/formatter_fixedwidth (fixedwidth.c extract_field): "
        "FORMAT 'CUSTOM' (formatter='fixedwidth_in', col='width'...) "
        "external tables — fields are fixed byte slices per line, "
        "trailing blanks strip unless preserve_blanks, the null option "
        "compares blank-padded. The whole read lowers to JVM substring/"
        "rtrim column expressions over spark.read.text (plan-pinned: no "
        "Python eval in tests/test_fixedwidth.py), so it scales like "
        "any text scan; fixedwidth_out (writable) rejects loudly.",
    tags=("scan", "external"),
)
def external_fixedwidth(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    wh = tempfile.mkdtemp(prefix="gg_fw_")
    path = os.path.join(wh, "fixed.dat")

    def line(name, qty, city):
        return name.ljust(12) + str(qty).rjust(3) + city.ljust(10)

    with open(path, "w") as fh:
        fh.write("\n".join([
            line("ann", 12, "london"), line("bob", 3, "paris"),
            line("NULL", 7, "NULL"),
        ]) + "\n")
    eng = GreengageEngine(spark, wh)
    eng.execute(
        f"CREATE READABLE EXTERNAL TABLE fw_reg (name text, qty int4, "
        f"city text) LOCATION ('file://{path}') "
        f"FORMAT 'CUSTOM' (formatter='fixedwidth_in', name='12', "
        f"qty='3', city='10', null='NULL')"
    )
    return eng.execute("SELECT name, qty, city FROM fw_reg ORDER BY qty")


@suite.add(
    "foreign_file_fdw",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'ann', 10), (2, 'bob', 20), (3, NULL, 30)
    ) AS t(id, name, amt) ORDER BY id
    """,
    doc="contrib/file_fdw (file_fdw.c fileGetOptions/fileBeginForeignScan"
        "): CREATE SERVER ... FOREIGN DATA WRAPPER file_fdw + CREATE "
        "FOREIGN TABLE ... OPTIONS (filename, format, header, delimiter, "
        "null) lowered onto the external-table reader — the same "
        "COPY-family CSV/TEXT parser, so SREH/pushdown behavior is "
        "shared; the foreign table joins/projects like any relation. "
        "postgres_fdw DDL points at the JDBC surface.",
    tags=("scan", "foreign"),
)
def foreign_file_fdw(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    wh = tempfile.mkdtemp(prefix="gg_ffdw_")
    path = os.path.join(wh, "people.csv")
    with open(path, "w") as fh:
        fh.write("id,name,amt\n1,ann,10\n2,bob,20\n3,,30\n")
    eng = GreengageEngine(spark, wh)
    eng.execute("CREATE SERVER files FOREIGN DATA WRAPPER file_fdw")
    eng.execute(
        f"CREATE FOREIGN TABLE ffdw_people (id int4, name text, amt int4) "
        f"SERVER files OPTIONS (filename '{path}', format 'csv', "
        f"header 'true', delimiter ',', null '')"
    )
    return eng.execute(
        "SELECT id, name, amt FROM ffdw_people ORDER BY id"
    )


@suite.add(
    "gp_parallel_retrieve_cursor",
    oracle="""
    SELECT n_nationkey, n_name, CAST(TRUE AS BOOLEAN) AS finished
    FROM nation ORDER BY n_nationkey
    """,
    doc="DECLARE ... PARALLEL RETRIEVE CURSOR + RETRIEVE FROM ENDPOINT "
        "(gram.y:11946 CURSOR_OPT_PARALLEL_RETRIEVE, gram.y:12004 "
        "RetrieveStmt; gpcontrib/gp_parallel_retrieve_cursor views). "
        "Each result PARTITION is an endpoint; RETRIEVE drains exactly "
        "one partition via sparkContext.runJob on that partition alone "
        "(never a full collect) — the reference's per-segment endpoint "
        "retrieval mapped onto Spark's partitioning. The query drains "
        "every endpoint listed by gp_endpoints, unions the slices, and "
        "pins gp_wait_parallel_retrieve_cursor flipping to finished. "
        "Oracle is the underlying query itself.",
    tags=("engine", "cursor"),
)
def gp_parallel_retrieve_cursor(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_prc_"))
    cat(spark, sf_dir).table("nation").createOrReplaceTempView("prc_nation")
    eng.execute(
        "DECLARE prcq PARALLEL RETRIEVE CURSOR FOR "
        "SELECT n_nationkey, n_name FROM prc_nation"
    )
    eps = eng.execute(
        "SELECT endpointname FROM gp_endpoints WHERE cursorname = 'prcq' "
        "ORDER BY gp_segment_id"
    ).collect()
    parts = []
    for ep in eps:
        df = eng.execute(f"RETRIEVE ALL FROM ENDPOINT {ep.endpointname}")
        if df is not None:
            parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    fin = eng.execute(
        "SELECT * FROM gp_wait_parallel_retrieve_cursor('prcq', 10)"
    ).collect()[0].finished
    return out.selectExpr(
        "CAST(n_nationkey AS INT) AS n_nationkey", "n_name",
        f"CAST({'TRUE' if fin else 'FALSE'} AS BOOLEAN) AS finished",
    ).orderBy("n_nationkey")


@suite.add(
    "cursor_scroll_fetch",
    oracle="""
    SELECT * FROM (VALUES
      (1, 0), (2, 1), (3, 2), (4, 3), (5, 4), (6, 5), (7, 6), (8, 7),
      (9, 8), (10, 9),
      (11, 8), (12, 7), (13, 6),
      (14, 14),
      (15, 12),
      (16, 24),
      (17, 0), (18, 1),
      (19, 2), (20, 3), (21, 4), (22, 5)
    ) AS t(seq, n_nationkey)
    """,
    doc="SCROLL cursor portal (portalcmds.c PerformPortalFetch): FETCH "
        "FORWARD streams via toLocalIterator; BACKWARD/ABSOLUTE/RELATIVE/"
        "LAST replay the retained fetched extent (PG materializes "
        "scrollable portals in a tuplestore; ours keeps the scanned "
        "prefix — bounded by scan depth, not corpus size). Steps 17-22 "
        "are a WITH HOLD portal (portalcmds.c:424 PersistHoldablePortal): "
        "declared and half-fetched inside BEGIN, materialized at COMMIT "
        "with its position kept, drained after. The oracle is the "
        "hand-computed portal walk over nation ORDER BY n_nationkey.",
    tags=("engine", "cursor"),
)
def cursor_scroll_fetch(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_cur_"))
    cat(spark, sf_dir).table("nation").createOrReplaceTempView("cur_nation")
    eng.execute(
        "DECLARE sc SCROLL CURSOR FOR "
        "SELECT n_nationkey FROM cur_nation ORDER BY n_nationkey"
    )
    steps = [
        "FETCH 10 FROM sc",
        "FETCH BACKWARD 3 FROM sc",
        "FETCH ABSOLUTE 15 FROM sc",
        "FETCH RELATIVE -2 FROM sc",
        "FETCH LAST FROM sc",
    ]
    rows = []
    seq = 0
    for s in steps:
        for r in eng.execute(s).collect():
            seq += 1
            rows.append((seq, int(r[0])))
    # WITH HOLD: survive COMMIT with position kept (PersistHoldablePortal)
    eng.execute("BEGIN")
    eng.execute(
        "DECLARE hc CURSOR WITH HOLD FOR SELECT n_nationkey "
        "FROM cur_nation WHERE n_nationkey < 6 ORDER BY n_nationkey"
    )
    for s in ["FETCH 2 FROM hc", "COMMIT", "FETCH ALL FROM hc"]:
        df = eng.execute(s)
        if df is None:
            continue
        for r in df.collect():
            seq += 1
            rows.append((seq, int(r[0])))
    return spark.createDataFrame(rows, "seq int, n_nationkey int")


@suite.add(
    "dialect_citext",
    oracle="""
    WITH cu AS (
      SELECT n_nationkey AS id, n_name AS nick FROM nation
      UNION ALL
      SELECT n_nationkey + 100, lower(n_name) FROM nation
      WHERE n_nationkey < 10
    )
    SELECT 'eq' AS part, CAST(id AS BIGINT) AS k, nick FROM cu
    WHERE lower(nick) = 'algeria'
    UNION ALL
    SELECT 'grp', CAST(count(*) AS BIGINT), min(nick) FROM cu
    GROUP BY lower(nick) HAVING count(*) > 1
    UNION ALL
    SELECT 'dst', CAST(0 AS BIGINT), min(nick) FROM cu
    WHERE lower(nick) < lower('c') GROUP BY lower(nick)
    ORDER BY part, k, nick
    """,
    doc="contrib/citext (citext.c citext_eq/citextcmp): a column "
        "declared citext keeps its stored case but compares, joins, and "
        "groups case-insensitively — the engine folds comparisons and "
        "GROUP BY items through lower() at statement level "
        "(operators/citext.py), so the fold stays a codegen'd JVM "
        "filter in the scan stage (a function-of-column predicate "
        "cannot reach parquet PushedFilters, but no UDF barrier and no "
        "extra stage appear). "
        "GROUP BY returns min() as the deterministic case "
        "representative (PG's is arbitrary); SELECT DISTINCT rewrites "
        "to the same grouped fold (one row per lower(value), min() "
        "representative). Oracle applies the same lower() folds "
        "explicitly.",
    tags=("dialect", "contrib", "engine"),
)
def dialect_citext(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_cit_"))
    cat(spark, sf_dir).table("nation").createOrReplaceTempView("cit_nation")
    eng.execute("CREATE TABLE cit_users (id int8, nick citext)")
    eng.execute(
        "INSERT INTO cit_users SELECT n_nationkey, n_name FROM cit_nation"
    )
    eng.execute(
        "INSERT INTO cit_users SELECT n_nationkey + 100, lower(n_name) "
        "FROM cit_nation WHERE n_nationkey < 10"
    )
    return eng.execute(
        "SELECT 'eq' AS part, id::int8 AS k, nick FROM cit_users "
        "WHERE nick = 'aLgErIa' "
        "UNION ALL "
        "SELECT 'grp' AS part, count(*)::int8 AS k, min(nick) AS nick "
        "FROM cit_users GROUP BY nick HAVING count(*) > 1 "
        "UNION ALL "
        "SELECT 'dst' AS part, 0::int8 AS k, nick FROM "
        "(SELECT DISTINCT nick FROM cit_users WHERE nick < 'c') d "
        "ORDER BY part, k, nick"
    )


@suite.add(
    "function_connectby_tree",
    oracle="""
    WITH RECURSIVE t AS (
      SELECT 'root' AS keyid, CAST(NULL AS VARCHAR) AS parent_keyid,
             0 AS level, 'root' AS branch
      UNION ALL
      SELECT c.keyid, c.parent_keyid, t.level + 1,
             t.branch || '/' || c.keyid
      FROM (SELECT 'R' || r_regionkey AS keyid, 'root' AS parent_keyid
            FROM region
            UNION ALL
            SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation) c
      JOIN t ON c.parent_keyid = t.keyid
    )
    SELECT keyid, parent_keyid, CAST(level AS INTEGER) AS level, branch
    FROM t ORDER BY keyid
    """,
    doc="contrib/tablefunc connectby() (tablefunc.c:59 "
        "build_tuplestore_recursively): hierarchy walk emitting keyid/"
        "parent_keyid/level/branch, executed as a level-synchronous "
        "distributed BFS — one broadcast hash join per level against "
        "the edge table, element-wise cycle detection on the path array "
        "(substring checks falsely fire on '1' vs '11', the regress "
        "trap). Row ORDER differs from PG's depth-first walk; the SET "
        "is identical. Oracle is DuckDB's recursive CTE over the same "
        "region→nation tree.",
    tags=("engine", "function", "recursive"),
)
def function_connectby_tree(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_cby_"))
    cat(spark, sf_dir).table("region").createOrReplaceTempView("cby_region")
    cat(spark, sf_dir).table("nation").createOrReplaceTempView("cby_nation")
    eng.execute("CREATE TABLE cby_tree (keyid text, parent_keyid text)")
    eng.execute("INSERT INTO cby_tree VALUES ('root', NULL)")
    eng.execute(
        "INSERT INTO cby_tree SELECT 'R' || r_regionkey, 'root' "
        "FROM cby_region"
    )
    eng.execute(
        "INSERT INTO cby_tree SELECT 'N' || n_nationkey, "
        "'R' || n_regionkey FROM cby_nation"
    )
    return eng.execute(
        "SELECT * FROM connectby('cby_tree', 'keyid', 'parent_keyid', "
        "'root', 0, '/') "
        "AS t(keyid text, parent_keyid text, level int, branch text) "
        "ORDER BY keyid"
    )


@suite.add(
    "create_function_plpgsql_cursor",
    oracle="""
    SELECT CAST(seq AS BIGINT) AS seq,
           CAST(n_nationkey AS BIGINT) AS nkey, n_name
    FROM (
      SELECT row_number() OVER (ORDER BY n_nationkey) AS seq,
             n_nationkey, n_name
      FROM nation WHERE n_nationkey > 10
    ) t WHERE seq <= 5
    UNION ALL
    SELECT 99, (SELECT count(*) FROM nation WHERE n_regionkey = 2),
           'rowcount'
    ORDER BY seq
    """,
    doc="PL/pgSQL cursor statements (pl_exec.c:127-129 exec_stmt_open/"
        "exec_stmt_fetch/exec_stmt_close; regress plpgsql.sql:1950-2019 "
        "parameter-binding shapes) + GET DIAGNOSTICS ROW_COUNT "
        "(pl_exec.c:109): a bound cursor with an argument is OPENed, "
        "FETCHed in a LOOP guarded by EXIT WHEN NOT FOUND, and CLOSEd; "
        "the portal streams through the retained-extent Cursor "
        "(operators/prepared.py, toLocalIterator — bounded driver "
        "memory). Oracle recomputes the walk with row_number and the "
        "diagnostics count in closed form.",
    tags=("udf", "engine", "plpgsql", "cursor"),
)
def create_function_plpgsql_cursor(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_plcur_"))
    cat(spark, sf_dir).table("nation").createOrReplaceTempView("plcur_nation")
    eng.execute("CREATE TABLE plcur_out (seq int8, nkey int8, n_name text)")
    eng.execute(
        "DO $$\n"
        "DECLARE\n"
        "  c CURSOR (lo int8) FOR SELECT n_nationkey, n_name "
        "FROM plcur_nation WHERE n_nationkey > lo ORDER BY n_nationkey;\n"
        "  r record;\n  i int8 := 0;\n  n int8;\n"
        "BEGIN\n"
        "  OPEN c(10);\n"
        "  LOOP\n"
        "    FETCH c INTO r;\n"
        "    EXIT WHEN NOT found;\n"
        "    i := i + 1;\n"
        "    EXIT WHEN i > 5;\n"
        "    INSERT INTO plcur_out VALUES (i, r.n_nationkey, r.n_name);\n"
        "  END LOOP;\n"
        "  CLOSE c;\n"
        "  PERFORM n_nationkey FROM plcur_nation WHERE n_regionkey = 2;\n"
        "  GET DIAGNOSTICS n = ROW_COUNT;\n"
        "  INSERT INTO plcur_out VALUES (99, n, 'rowcount');\n"
        "END $$"
    )
    return eng.execute(
        "SELECT seq, nkey, n_name FROM plcur_out ORDER BY seq"
    )


@suite.add(
    "create_function_plpgsql_loop",
    oracle="""
    SELECT o_orderkey,
           CAST((o_orderkey % 20) * ((o_orderkey % 20) + 1) / 2 AS BIGINT)
             AS tri_sum,
           CAST(power(2, o_orderkey % 10) AS BIGINT) AS pow2
    FROM orders WHERE o_orderkey < 300
    """,
    doc="plpgsql loops (pl_exec.c:117-125): the bounded FOR-range body "
        "folds to a JVM-side aggregate(sequence()) accumulator — zero "
        "Python, stays in codegen — while the WHILE body takes the "
        "row-at-a-time interpreter slow path (plpgsql_interp.py), the "
        "reference's own execution model for procedural bodies. Oracle "
        "uses the closed forms.",
    tags=("udf", "engine", "plpgsql"),
)
def create_function_plpgsql_loop(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_plpgl_"))
    cat(spark, sf_dir).table("orders").filter(
        F.col("o_orderkey") < 300
    ).createOrReplaceTempView("plpgl_src_orders")
    eng.execute(
        "CREATE OR REPLACE FUNCTION tri(n int8) RETURNS int8 AS $$\n"
        "DECLARE s int8 := 0;\nBEGIN\n"
        "  FOR i IN 1 .. n LOOP\n    s := s + i;\n  END LOOP;\n"
        "  RETURN s;\nEND;\n$$ LANGUAGE plpgsql"
    )
    eng.execute(
        "CREATE OR REPLACE FUNCTION pow2(e int8) RETURNS int8 AS $$\n"
        "DECLARE r int8 := 1;\n  k int8 := 0;\nBEGIN\n"
        "  WHILE k < e LOOP\n    r := r * 2;\n    k := k + 1;\n"
        "  END LOOP;\n  RETURN r;\nEND;\n$$ LANGUAGE plpgsql"
    )
    return eng.execute(
        "SELECT o_orderkey, tri(o_orderkey % 20) AS tri_sum, "
        "pow2(o_orderkey % 10) AS pow2 FROM plpgl_src_orders"
    )


@suite.add(
    "create_function_plpgsql_exception",
    oracle="""
    SELECT o_orderkey,
           CAST(CASE WHEN o_orderkey % 5 = 0 THEN -1
                     ELSE 100 // (o_orderkey % 5) END AS INTEGER) AS sd
    FROM orders WHERE o_orderkey < 300
    """,
    doc="plpgsql EXCEPTION blocks (exec_stmt_block:3245): a handler list "
        "catches by condition name — division_by_zero here — with the "
        "interpreter slow path (plpgsql_interp.py), the reference's own "
        "execution model. Oracle re-derives the guarded division with a "
        "CASE (PG int division truncates; all operands positive so // "
        "matches).",
    tags=("udf", "engine", "plpgsql"),
)
def create_function_plpgsql_exception(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_plpge_"))
    cat(spark, sf_dir).table("orders").filter(
        F.col("o_orderkey") < 300
    ).createOrReplaceTempView("plpge_src_orders")
    eng.execute(
        "CREATE OR REPLACE FUNCTION safe_div(a int4, b int4) RETURNS int4 "
        "AS $$\nBEGIN\n  RETURN a / b;\n"
        "EXCEPTION WHEN division_by_zero THEN\n  RETURN -1;\nEND;\n"
        "$$ LANGUAGE plpgsql"
    )
    return eng.execute(
        "SELECT o_orderkey, safe_div(100, (o_orderkey % 5)::int4) AS sd "
        "FROM plpge_src_orders"
    )


@suite.add(
    "create_function_plpgsql_rowtier",
    oracle="""
    SELECT o_orderkey,
           CAST(6 * (3 * (o_orderkey % 7) + 1)
                + CASE WHEN o_orderkey % 3 = 0 THEN -5
                       ELSE 100 // (o_orderkey % 3) END
                + (o_orderkey % 10) AS BIGINT) AS q
    FROM orders WHERE o_orderkey < 300
    """,
    doc="plpgsql per-ROW tier (pl_exec.c exec_eval_simple_expr / "
        "exec_stmt_block): an interpreted body running as a Python UDF "
        "on executors with (a) FROM-less SELECT ... INTO — the "
        "simple-expression fast path PG itself uses, (b) a call into "
        "another CREATE FUNCTION resolved at call time through the "
        "row-tier registry (SPI-at-execution analog), (c) FOREACH over "
        "an array literal, (d) an EXCEPTION division_by_zero handler, "
        "(e) a FROM-less scalar subquery. Oracle re-derives the closed "
        "form with PG truncating integer division (all operands "
        "positive, so DuckDB // matches).",
    tags=("udf", "engine", "plpgsql"),
)
def create_function_plpgsql_rowtier(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_plrow_"))
    cat(spark, sf_dir).table("orders").filter(
        F.col("o_orderkey") < 300
    ).createOrReplaceTempView("plrow_src_orders")
    eng.execute(
        "CREATE OR REPLACE FUNCTION triple(t int8) RETURNS int8 AS "
        "$$ SELECT t * 3 $$ LANGUAGE sql"
    )
    eng.execute(
        "CREATE OR REPLACE FUNCTION quirk(n int8) RETURNS int8 AS $$\n"
        "DECLARE v int8; total int8 := 0; x int8;\n"
        "BEGIN\n"
        "  SELECT triple(n % 7) + 1 INTO v;\n"
        "  FOREACH x IN ARRAY array[1, 2, 3] LOOP\n"
        "    total := total + x * v;\n"
        "  END LOOP;\n"
        "  BEGIN\n"
        "    total := total + 100 / (n % 3);\n"
        "  EXCEPTION WHEN division_by_zero THEN\n"
        "    total := total - 5;\n"
        "  END;\n"
        "  RETURN total + (SELECT n % 10);\n"
        "END;\n$$ LANGUAGE plpgsql"
    )
    return eng.execute(
        "SELECT o_orderkey, quirk(o_orderkey) AS q FROM plrow_src_orders"
    )


@suite.add(
    "create_function_setof",
    oracle="""
    SELECT t.n_name, t.n_regionkey
    FROM (SELECT n_name, n_regionkey FROM nation WHERE n_regionkey = 1
          UNION ALL
          SELECT n_name, n_regionkey FROM nation WHERE n_regionkey = 3) t
    ORDER BY t.n_regionkey, t.n_name
    """,
    doc="RETURNS SETOF / RETURN QUERY table functions expanded inline at "
        "the call site (optimizer/util/clauses.c "
        "inline_set_returning_function; pl_exec.c exec_stmt_return_query "
        "appends result sets) — the FunctionScan becomes a plain subquery "
        "Catalyst optimizes through.",
    tags=("udf", "engine", "plpgsql"),
)
def create_function_setof(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_setof_"))
    cat(spark, sf_dir).table("nation").createOrReplaceTempView("nation")
    eng.execute(
        "CREATE OR REPLACE FUNCTION nations_in(r1 int4, r2 int4) "
        "RETURNS SETOF record AS $$\nBEGIN\n"
        "  RETURN QUERY SELECT n_name, n_regionkey FROM nation "
        "WHERE n_regionkey = r1;\n"
        "  RETURN QUERY SELECT n_name, n_regionkey FROM nation "
        "WHERE n_regionkey = r2;\n  RETURN;\nEND;\n$$ LANGUAGE plpgsql"
    )
    return eng.execute(
        "SELECT t.n_name, t.n_regionkey FROM nations_in(1, 3) t "
        "ORDER BY t.n_regionkey, t.n_name"
    )


@suite.add(
    "function_setof_lateral",
    oracle="""
    SELECT n.n_nationkey,
           CAST(g * g AS BIGINT) AS sq,
           CAST(w AS BIGINT) AS walk
    FROM nation n,
         UNNEST(range(1, CAST(n.n_regionkey + 2 AS BIGINT))) AS t(g),
         UNNEST(CASE n.n_nationkey % 3
                WHEN 0 THEN [8, 4, 2, 1]
                WHEN 1 THEN [1]
                ELSE [2, 1] END) AS s(w)
    ORDER BY n_nationkey, sq, walk
    """,
    doc="SETOF functions with PER-ROW (lateral) arguments — PG's "
        "function-in-FROM is implicitly LATERAL "
        "(parse_clause.c transformRangeFunction). Two lanes, both in "
        "one query: squares(n_regionkey+1) has an inline-lowerable "
        "body → a correlated Catalyst subquery with the LATERAL "
        "keyword (zero Python); halving(n_nationkey%3) has a WHILE "
        "loop with state (outside the inline subset) → "
        "compile_plpgsql(setof=True) runs it per row on executors as "
        "an array UDF exploded laterally. Oracle re-derives both with "
        "generate_series / unnest.",
    tags=("udf", "engine", "plpgsql"),
)
def function_setof_lateral(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_setofl_"))
    cat(spark, sf_dir).table("nation").createOrReplaceTempView("nation")
    eng.execute(
        "CREATE OR REPLACE FUNCTION squares(n int8) RETURNS SETOF int8 "
        "AS $$\nDECLARE i int8;\nBEGIN\n  FOR i IN 1..n LOOP\n"
        "    RETURN NEXT i * i;\n  END LOOP;\n  RETURN;\nEND;\n"
        "$$ LANGUAGE plpgsql"
    )
    eng.execute(
        # halving chain 8 -> 4 -> 2 -> 1 keyed on n % 3: 0 -> start 8,
        # 1 -> start 1, 2 -> start 2 (deterministic small sets)
        "CREATE OR REPLACE FUNCTION halving(k int8) RETURNS SETOF int8 "
        "AS $$\nDECLARE v int8;\nBEGIN\n"
        "  IF k = 0 THEN v := 8; ELSIF k = 1 THEN v := 1; "
        "ELSE v := 2; END IF;\n"
        "  WHILE v >= 1 LOOP\n    RETURN NEXT v;\n    v := v / 2;\n"
        "    EXIT WHEN v < 1;\n  END LOOP;\nEND;\n$$ LANGUAGE plpgsql"
    )
    return eng.execute(
        "SELECT n.n_nationkey, sq, walk "
        "FROM nation n, squares(n.n_regionkey + 1) AS s(sq), "
        "halving(n.n_nationkey % 3) AS h(walk) "
        "ORDER BY n_nationkey, sq, walk"
    )


@suite.add(
    "txn_rollback_dml",
    oracle="""
    SELECT n_nationkey, n_name,
           CASE WHEN n_regionkey = 0 THEN 'AFR' ELSE n_name END AS tagged
    FROM nation
    """,
    doc="BEGIN/ROLLBACK/COMMIT over copy-on-write manifests (xact.c; "
        "truncate.sql BEGIN/TRUNCATE/ROLLBACK flow): a rolled-back "
        "UPDATE+DELETE leaves the table byte-identical (O(1) manifest "
        "re-commit, no data I/O), a committed UPDATE sticks.",
    tags=("engine", "txn"),
)
def txn_rollback_dml(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_txn_"))
    cat(spark, sf_dir).table("nation").createOrReplaceTempView("nation")
    eng.execute(
        "CREATE TABLE nat_t AS SELECT n_nationkey, n_name, n_name AS tagged "
        "FROM nation DISTRIBUTED BY (n_nationkey)"
    )
    eng.execute("BEGIN")
    eng.execute("UPDATE nat_t SET tagged = 'GONE'")
    eng.execute("DELETE FROM nat_t WHERE n_nationkey >= 0")
    eng.execute("ROLLBACK")
    eng.execute("BEGIN")
    eng.execute("UPDATE nat_t SET tagged = 'AFR' WHERE n_nationkey IN "
                "(SELECT n_nationkey FROM nation WHERE n_regionkey = 0)")
    eng.execute("COMMIT")
    return eng.execute("SELECT n_nationkey, n_name, tagged FROM nat_t")


@suite.add(
    "script_set_index_analyze",
    oracle="""
    SELECT n_regionkey,
           COUNT(*) AS n_nations,
           MIN(n_name) AS first_name
    FROM nation WHERE n_nationkey <> 0
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
    doc="pg_dump-preamble end-to-end script (gram.y:2069 VariableSetStmt, "
        ":8719 IndexStmt, :11284/11386 Vacuum/AnalyzeStmt): SET GUC soup → "
        "CREATE TABLE AS → CREATE INDEX (metadata no-op; parquet min/max + "
        "pushdown subsume btree access paths) → DML → VACUUM ANALYZE "
        "(stats: one map-side-combined agg pass) → query. ANALYZE stats "
        "land in the engine catalog (pg_statistic analog).",
    tags=("engine", "guc", "ddl"),
)
def script_set_index_analyze(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_guc_"))
    cat(spark, sf_dir).table("nation").createOrReplaceTempView("nation")
    script = [
        # pg_dump preamble + regress-style planner knobs
        "SET statement_timeout = 0",
        "SET client_encoding = 'UTF8'",
        "SET standard_conforming_strings = on",
        "SET search_path = public, pg_catalog",
        "SET optimizer = off",
        "SET gp_autostats_mode = none",
        "SET datestyle TO 'ISO, MDY'",
        "CREATE TABLE nat_s AS SELECT n_nationkey, n_name, n_regionkey "
        "FROM nation DISTRIBUTED BY (n_nationkey)",
        "CREATE INDEX nat_s_rk_idx ON nat_s USING bitmap (n_regionkey)",
        "CREATE UNIQUE INDEX ON nat_s (n_nationkey)",
        "DELETE FROM nat_s WHERE n_nationkey = 0",
        "VACUUM ANALYZE nat_s",
        "REINDEX TABLE nat_s",
        "RESET optimizer",
        "SHOW datestyle",
    ]
    for stmt in script:
        eng.execute(stmt)
    assert eng.stats["nat_s"].row_count > 0  # ANALYZE populated catalog stats
    assert "nat_s_rk_idx" in eng.indexes
    return eng.execute(
        "SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_name "
        "FROM nat_s GROUP BY n_regionkey ORDER BY n_regionkey"
    )


@suite.add(
    "txn_savepoint_dml",
    oracle="""
    SELECT n_nationkey, n_name,
           CASE WHEN n_regionkey = 1 THEN 'AME' ELSE n_name END AS tagged
    FROM nation
    """,
    doc="SAVEPOINT / ROLLBACK TO / RELEASE (xact.c subtransaction stack): "
        "per-savepoint manifest snapshots give O(1) partial rollback — a "
        "rolled-back-to-savepoint UPDATE vanishes, work before the "
        "savepoint and after RELEASE commits.",
    tags=("engine", "txn"),
)
def txn_savepoint_dml(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_sp_"))
    cat(spark, sf_dir).table("nation").createOrReplaceTempView("nation")
    eng.execute(
        "CREATE TABLE nat_sp AS SELECT n_nationkey, n_name, n_name AS tagged "
        "FROM nation DISTRIBUTED BY (n_nationkey)"
    )
    eng.execute("BEGIN")
    eng.execute("UPDATE nat_sp SET tagged = 'AME' WHERE n_nationkey IN "
                "(SELECT n_nationkey FROM nation WHERE n_regionkey = 1)")
    eng.execute("SAVEPOINT s1")
    eng.execute("UPDATE nat_sp SET tagged = 'WRONG'")
    eng.execute("DELETE FROM nat_sp WHERE n_nationkey > 10")
    eng.execute("ROLLBACK TO SAVEPOINT s1")
    eng.execute("RELEASE SAVEPOINT s1")
    eng.execute("COMMIT")
    return eng.execute("SELECT n_nationkey, n_name, tagged FROM nat_sp")


@suite.add(
    "external_execute_scan",
    oracle="""
    SELECT CAST(g AS BIGINT) AS n FROM generate_series(1, 20) t(g) ORDER BY n
    """,
    doc="EXECUTE-protocol external table (gram.y:5442; url_execute.c): the "
        "command runs once per declared segment ON THE EXECUTORS inside "
        "mapInPandas with the reference env contract (GP_SEGMENT_ID/"
        "GP_SEGMENT_COUNT); each segment emits its own slice and TEXT "
        "parsing is JVM-side from_csv. Fan-out ∝ segments, driver never "
        "touches the data path.",
    tags=("engine", "external", "scan"),
)
def external_execute_scan(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_exec_"))
    eng.execute("SET greengage.enable_external_execute = on")
    eng.execute(
        "CREATE EXTERNAL WEB TABLE seg_slices (n int8) EXECUTE "
        "'seq $((GP_SEGMENT_ID * 5 + 1)) $((GP_SEGMENT_ID * 5 + 5))' "
        "ON 4 FORMAT 'TEXT'"
    )
    return eng.execute("SELECT n FROM seg_slices ORDER BY n")


@suite.add(
    "external_gpfdist_scan",
    oracle="""
    SELECT CAST(g AS BIGINT) AS k, 'row-' || g AS v
    FROM generate_series(0, 59) t(g) ORDER BY k
    """,
    doc="gpfdist:// wire protocol (gpfdist.c; url_curl.c): each declared "
        "segment opens its own HTTP connection ON THE EXECUTORS with the "
        "X-GP-SEGMENT-ID/COUNT header contract and parses the PROTO-1 "
        "block framing (type + network-order length, zero-length 'D' "
        "terminator). The serving side here is the bundled "
        "gpfdist-compatible daemon (sources/gpfdist.serve_directory) over "
        "a generated file; fan-out ∝ segments, driver off the data path.",
    tags=("engine", "external", "scan"),
)
def external_gpfdist_scan(spark, sf_dir):
    import os

    from greengage_spark.engine import GreengageEngine
    from greengage_spark.sources.gpfdist import serve_directory

    root = tempfile.mkdtemp(prefix="gg_gpfd_")
    with open(os.path.join(root, "rows.txt"), "w") as fh:
        fh.write("".join(f"{i}\trow-{i}\n" for i in range(60)))
    srv, port = serve_directory(root)
    try:
        eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_gpfw_"))
        eng.execute(
            f"CREATE EXTERNAL TABLE gpfd_rows (k int8, v text) LOCATION "
            f"('gpfdist://127.0.0.1:{port}/rows.txt') FORMAT 'TEXT'"
        )
        # materialize before the server shuts down (the view is lazy)
        rows = eng.execute("SELECT k, v FROM gpfd_rows ORDER BY k").collect()
    finally:
        srv.shutdown()
    return spark.createDataFrame(rows, "k bigint, v string")


@suite.add(
    "external_gpfdist_unload",
    oracle="""
    SELECT n_nationkey AS k, n_name AS v FROM nation ORDER BY k
    """,
    doc="WRITABLE gpfdist:// external table — parallel unload "
        "(gram.y:5432-5501 WRITABLE; url_curl.c forwrite POST with "
        "X-GP-PROTO 0 / X-GP-SEQ / X-GP-DONE; gpfdist.c "
        "handle_post_request; fileam.c external_insert): INSERT INTO the "
        "external table streams each input partition out through its own "
        "POST session to the daemon (chunked ~64 KB, duplicate-sequence "
        "retries dropped server-side), then the result reads back through "
        "the READABLE gpfdist path — a full daemon round trip. The driver "
        "never touches the data; its only result is one count row per "
        "partition.",
    tags=("engine", "external", "unload"),
)
def external_gpfdist_unload(spark, sf_dir):
    import os

    from greengage_spark.engine import GreengageEngine
    from greengage_spark.sources.gpfdist import serve_directory

    root = tempfile.mkdtemp(prefix="gg_gpfd_w_")
    srv, port = serve_directory(root)
    try:
        eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_gpfw2_"))
        nation = cat(spark, sf_dir).table("nation").select(
            F.col("n_nationkey").cast("long"), "n_name"
        )
        nation.createOrReplaceTempView("nation_src")
        eng.execute(
            f"CREATE WRITABLE EXTERNAL TABLE nation_out (k int8, v text) "
            f"LOCATION ('gpfdist://127.0.0.1:{port}/nation.txt') "
            f"FORMAT 'TEXT' DISTRIBUTED BY (k)"
        )
        eng.execute("INSERT INTO nation_out SELECT * FROM nation_src")
        eng.execute(
            f"CREATE EXTERNAL TABLE nation_back (k int8, v text) LOCATION "
            f"('gpfdist://127.0.0.1:{port}/nation.txt') FORMAT 'TEXT'"
        )
        # materialize before the server shuts down (the view is lazy)
        rows = eng.execute(
            "SELECT k, v FROM nation_back ORDER BY k"
        ).collect()
    finally:
        srv.shutdown()
    return spark.createDataFrame(rows, "k bigint, v string")


@suite.add(
    "external_s3_unload",
    oracle="""
    SELECT n_nationkey AS k, n_name AS v FROM nation ORDER BY k
    """,
    doc="WRITABLE s3:// external table — parallel unload to S3 "
        "(gpcontrib/gpcloud gpwriter.cpp; s3interface.cpp multipart "
        "call sequence; s3conf.cpp INI config): INSERT INTO the external "
        "table streams each input partition out as its own object "
        "<prefix><segid><8hex>.csv.gz (genUniqueKeyName naming, "
        "autocompress gzip default) through a SigV4-signed multipart "
        "upload (POST ?uploads / PUT ?partNumber / POST ?uploadId), then "
        "reads back through the READABLE s3 path (key listing fanned "
        "across tasks, one GET per object — s3bucket_reader.cpp's model). "
        "The serving side is the bundled S3-compatible fixture daemon "
        "(sources/s3_rest.serve_s3), which RECOMPUTES every request's "
        "SigV4 signature against the configured secret. The driver never "
        "touches data; its only results are the count row and the "
        "metadata-only key listing.",
    tags=("engine", "external", "unload"),
)
def external_s3_unload(spark, sf_dir):
    import os

    from greengage_spark.engine import GreengageEngine
    from greengage_spark.sources.s3_rest import serve_s3

    root = tempfile.mkdtemp(prefix="gg_s3_unload_")
    os.makedirs(os.path.join(root, "bkt"))
    srv, port = serve_s3(root)
    try:
        confpath = os.path.join(root, "s3.conf")
        with open(confpath, "w") as fh:
            fh.write(
                "[default]\naccessid=test_access\nsecret=test_secret\n"
                "encryption=false\n"
            )
        eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_s3u_"))
        nation = cat(spark, sf_dir).table("nation").select(
            F.col("n_nationkey").cast("long"), "n_name"
        )
        nation.createOrReplaceTempView("nation_s3_src")
        eng.execute(
            f"CREATE WRITABLE EXTERNAL TABLE nation_s3_out (k int8, v text) "
            f"LOCATION ('s3://127.0.0.1:{port}/bkt/nation/ config={confpath}') "
            f"FORMAT 'CSV'"
        )
        eng.execute("INSERT INTO nation_s3_out SELECT * FROM nation_s3_src")
        eng.execute(
            f"CREATE EXTERNAL TABLE nation_s3_back (k int8, v text) LOCATION "
            f"('s3://127.0.0.1:{port}/bkt/nation/ config={confpath}') "
            f"FORMAT 'CSV'"
        )
        # materialize before the server shuts down (the view is lazy)
        rows = eng.execute(
            "SELECT k, v FROM nation_s3_back ORDER BY k"
        ).collect()
    finally:
        srv.shutdown()
    return spark.createDataFrame(rows, "k bigint, v string")


@suite.add(
    "external_gpfdists_scan",
    oracle="""
    SELECT CAST(g AS BIGINT) AS k, 'tls-' || g AS v
    FROM generate_series(0, 29) t(g) ORDER BY k
    """,
    doc="gpfdists:// mutual-TLS gpfdist (url_curl.c CURLOPT_SSLCERT/"
        "SSLKEY/CAINFO client-certificate path; gpfdist --ssl): the "
        "client certificate material rides session configuration (SET "
        "greengage.gpfdists.cert/key/ca — the reference's per-segment "
        "$PGDATA/gpfdists/ directory analog) and executors rebuild the "
        "SSL context from the configured paths; the bundled daemon "
        "REQUIRES a CA-signed client certificate (mutual TLS). Certs are "
        "openssl-generated per run; the data path is otherwise the "
        "standard PROTO-1 block framing on executors.",
    tags=("engine", "external", "scan"),
)
def external_gpfdists_scan(spark, sf_dir):
    import os
    import subprocess

    from greengage_spark.engine import GreengageEngine
    from greengage_spark.sources.gpfdist import serve_directory

    certs = tempfile.mkdtemp(prefix="gg_tls_")

    def ossl(*args):
        p = subprocess.run(["openssl", *args], capture_output=True)
        if p.returncode != 0:
            raise RuntimeError(p.stderr.decode())

    ossl("req", "-x509", "-newkey", "rsa:2048",
         "-keyout", f"{certs}/ca.key", "-out", f"{certs}/ca.crt",
         "-days", "2", "-nodes", "-subj", "/CN=gg-ca")
    with open(f"{certs}/ext", "w") as fh:
        fh.write("subjectAltName=IP:127.0.0.1\n")
    for name, cn, ext in (("server", "127.0.0.1", f"{certs}/ext"),
                          ("client", "gg-client", None)):
        ossl("req", "-newkey", "rsa:2048", "-keyout", f"{certs}/{name}.key",
             "-out", f"{certs}/{name}.csr", "-nodes", "-subj", f"/CN={cn}")
        args = ["x509", "-req", "-in", f"{certs}/{name}.csr",
                "-CA", f"{certs}/ca.crt", "-CAkey", f"{certs}/ca.key",
                "-CAcreateserial", "-out", f"{certs}/{name}.crt",
                "-days", "2"]
        if ext:
            args += ["-extfile", ext]
        ossl(*args)

    root = tempfile.mkdtemp(prefix="gg_tlsd_")
    with open(os.path.join(root, "rows.txt"), "w") as fh:
        fh.write("".join(f"{i}\ttls-{i}\n" for i in range(30)))
    srv, port = serve_directory(root, tls={
        "certfile": f"{certs}/server.crt",
        "keyfile": f"{certs}/server.key",
        "cafile": f"{certs}/ca.crt",
    })
    try:
        eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_tlsw_"))
        eng.execute(f"SET greengage.gpfdists.cert = '{certs}/client.crt'")
        eng.execute(f"SET greengage.gpfdists.key = '{certs}/client.key'")
        eng.execute(f"SET greengage.gpfdists.ca = '{certs}/ca.crt'")
        eng.execute(
            f"CREATE EXTERNAL TABLE tls_rows (k int8, v text) LOCATION "
            f"('gpfdists://127.0.0.1:{port}/rows.txt') FORMAT 'TEXT'"
        )
        # materialize before the server shuts down (the view is lazy)
        rows = eng.execute("SELECT k, v FROM tls_rows ORDER BY k").collect()
    finally:
        srv.shutdown()
    return spark.createDataFrame(rows, "k bigint, v string")


@suite.add(
    "external_http_scan",
    oracle="""
    SELECT CAST(g AS BIGINT) AS k, 'row-' || g AS v
    FROM generate_series(0, 59) t(g) ORDER BY k
    """,
    doc="http:// external table (url_curl.c; createplan.c:1437 '1 URI : "
        "1 segdb' mapping): each LOCATION URI is fetched WHOLE by exactly "
        "one executor task with the X-GP request-header contract; the "
        "plain web server (sources/http_ext.serve_files) ignores them and "
        "answers a raw proto-0 body. HEADER skips each uri's first line; "
        "one deliberately corrupt line per file exercises SREH "
        "(SEGMENT REJECT LIMIT) through the distributed corrupt-record "
        "count. Parsing is JVM-side from_csv; the driver never touches "
        "the data path.",
    tags=("engine", "external", "scan"),
)
def external_http_scan(spark, sf_dir):
    import os

    from greengage_spark.engine import GreengageEngine
    from greengage_spark.sources.http_ext import serve_files

    root = tempfile.mkdtemp(prefix="gg_http_")
    half = 30
    for fname, lo in (("a.csv", 0), ("b.csv", half)):
        with open(os.path.join(root, fname), "w") as fh:
            fh.write("k,v\n")  # HEADER line
            fh.write("".join(f"{i},row-{i}\n" for i in range(lo, lo + half)))
            fh.write("notanint,bad-row\n")  # SREH-rejected
    srv, port = serve_files(root)
    try:
        eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_httpw_"))
        eng.execute(
            f"CREATE EXTERNAL WEB TABLE http_rows (k int8, v text) LOCATION "
            f"('http://127.0.0.1:{port}/a.csv', "
            f"'http://127.0.0.1:{port}/b.csv') "
            f"FORMAT 'CSV' (HEADER) SEGMENT REJECT LIMIT 2 ROWS"
        )
        # materialize before the server shuts down (the view is lazy)
        rows = eng.execute("SELECT k, v FROM http_rows ORDER BY k").collect()
    finally:
        srv.shutdown()
    return spark.createDataFrame(rows, "k bigint, v string")


@suite.add(
    "script_dump_restore_acl",
    oracle="""
    SELECT n_regionkey,
           COUNT(*) AS n_nations,
           MIN(n_name) AS first_name
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
    doc="Full pg_dump restore script with ACL preamble (gram.y "
        "CreateRoleStmt/GrantStmt/CommentStmt/CreateSchemaStmt; "
        "commands/user.c, aclchk.c, comment.c): roles + resource queue + "
        "schema + schema-qualified DDL/DML + GRANT/COMMENT/OWNER all "
        "execute as recorded metadata (operators/acl.py), the data "
        "round-trips, and pg_roles/pg_tables introspection reflects the "
        "recorded catalog.",
    tags=("engine", "acl"),
)
def script_dump_restore_acl(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_acl_"))
    cat(spark, sf_dir).table("nation").createOrReplaceTempView("nation")
    script = [
        "SET statement_timeout = 0",
        "SET client_encoding = 'UTF8'",
        "SET standard_conforming_strings = on",
        "SET search_path = public, pg_catalog",
        "CREATE ROLE gpadmin SUPERUSER LOGIN",
        "CREATE ROLE etl_writer LOGIN",
        "CREATE RESOURCE QUEUE etl_q WITH (ACTIVE_STATEMENTS=10)",
        "ALTER ROLE etl_writer RESOURCE QUEUE etl_q",
        "CREATE SCHEMA analytics AUTHORIZATION gpadmin",
        "CREATE TABLE public.nat_acl AS SELECT n_nationkey, n_name, "
        "n_regionkey FROM nation DISTRIBUTED BY (n_nationkey)",
        "ALTER TABLE public.nat_acl OWNER TO gpadmin",
        "GRANT SELECT ON TABLE public.nat_acl TO etl_writer",
        "GRANT ALL ON TABLE public.nat_acl TO gpadmin",
        "REVOKE ALL ON public.nat_acl FROM PUBLIC",
        "COMMENT ON TABLE public.nat_acl IS 'nation snapshot'",
    ]
    for stmt in script:
        eng.execute(stmt)
    owner = eng.execute(
        "SELECT tableowner FROM pg_tables WHERE tablename = 'nat_acl'"
    ).collect()
    assert owner and owner[0].tableowner == "gpadmin"
    assert eng.acl.grants[("nat_acl", "etl_writer")] == {"select"}
    assert eng.acl.comments[("table", "nat_acl")] == "nation snapshot"
    return eng.execute(
        "SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_name "
        "FROM public.nat_acl GROUP BY n_regionkey ORDER BY n_regionkey"
    )


@suite.add(
    "ddl_matview_refresh",
    oracle="""
    SELECT n_regionkey,
           COUNT(*) AS n_nations,
           MIN(n_name) AS first_name
    FROM nation WHERE n_nationkey <> 3
    GROUP BY n_regionkey
    """,
    doc="Materialized views (gram.y CreateMatViewStmt; matview.c): CREATE "
        "snapshots the defining query into a versioned storage table; the "
        "snapshot is STALE after base DML until REFRESH re-runs the query "
        "and swaps storage in one manifest commit; WITH NO DATA is "
        "unscannable until populated.  pg_matviews reflects the catalog.",
    tags=("engine", "ddl"),
)
def ddl_matview_refresh(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_mv_"))
    cat(spark, sf_dir).table("nation").createOrReplaceTempView("nation")
    eng.execute(
        "CREATE TABLE nat_mv_base AS SELECT n_nationkey, n_name, n_regionkey "
        "FROM nation DISTRIBUTED BY (n_nationkey)"
    )
    eng.execute(
        "CREATE MATERIALIZED VIEW nat_mv AS "
        "SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_name "
        "FROM nat_mv_base GROUP BY n_regionkey"
    )
    # base DML must not show through until REFRESH (snapshot semantics)
    eng.execute("DELETE FROM nat_mv_base WHERE n_nationkey = 3")
    stale = eng.execute("SELECT SUM(n_nations) AS s FROM nat_mv").collect()[0].s
    eng.execute("REFRESH MATERIALIZED VIEW nat_mv")
    fresh = eng.execute("SELECT SUM(n_nations) AS s FROM nat_mv").collect()[0].s
    assert stale == fresh + 1, (stale, fresh)
    return eng.execute(
        "SELECT n_regionkey, n_nations, first_name FROM nat_mv"
    )


@suite.add(
    "script_domain_cluster",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_regionkey >= 0
    ORDER BY n_nationkey
    """,
    doc="CREATE DOMAIN (typecmds.c: base-type resolution + CHECK "
        "enforcement in the INSERT projection) and CLUSTER (cluster.c -> "
        "range-repartition + sort so parquet min/max skips files on key "
        "predicates), driven through the engine script path with "
        "extension/language no-ops in the preamble.",
    tags=("engine", "ddl"),
)
def script_domain_cluster(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_dom_"))
    cat(spark, sf_dir).table("nation").createOrReplaceTempView("nation")
    script = [
        "CREATE EXTENSION IF NOT EXISTS plpgsql",
        "CREATE LANGUAGE plpythonu",
        "CREATE DOMAIN regionkey_t AS int8 CHECK (VALUE >= 0)",
        "CREATE TABLE nat_dom (n_nationkey int8, n_name text, "
        "n_regionkey regionkey_t) DISTRIBUTED BY (n_nationkey)",
        "INSERT INTO nat_dom SELECT n_nationkey, n_name, n_regionkey "
        "FROM nation",
        "CREATE INDEX nat_dom_k ON nat_dom (n_nationkey)",
        "CLUSTER nat_dom USING nat_dom_k",
        "LOCK TABLE nat_dom IN SHARE MODE",
    ]
    for stmt in script:
        eng.execute(stmt)
    # domain CHECK must reject a violating row
    try:
        eng.execute("INSERT INTO nat_dom VALUES (999, 'bad', -1)")
        raise AssertionError("domain CHECK did not fire")
    except AssertionError:
        raise
    except Exception:
        pass
    return eng.execute(
        "SELECT n_nationkey, n_name, n_regionkey FROM nat_dom "
        "ORDER BY n_nationkey"
    )


@suite.add(
    "script_serial_defaults",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY n_nationkey) AS BIGINT) AS id,
           n_name,
           CAST(100 + row_number() OVER (ORDER BY n_nationkey) - 1 AS BIGINT)
             AS batch_id
    FROM nation
    """,
    doc="serial pseudo-type + DEFAULT nextval (transformColumnDefinition; "
        "sequence.c): sequence-backed defaults surface into the INSERT "
        "before lowering, so per-row values flow through the per-"
        "partition span machinery (dense, duplicate-free, no global "
        "window).  Values are dense 1..N here because the INSERT SELECT "
        "arrives ordered by the sequence assignment order.",
    tags=("engine", "sequence"),
)
def script_serial_defaults(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_ser_"))
    cat(spark, sf_dir).table("nation").createOrReplaceTempView("nation")
    eng.run_script(
        """
        CREATE SEQUENCE batch_seq START 100;
        CREATE TABLE nat_ser (
            id serial,
            n_name text,
            batch_id int8 DEFAULT nextval('batch_seq')
        );
        INSERT INTO nat_ser (n_name)
        SELECT n_name FROM (SELECT * FROM nation ORDER BY n_nationkey) q
        """
    )
    # ids must be dense and unique regardless of partitioning
    return eng.execute(
        "SELECT id, n_name, batch_id FROM nat_ser"
    )


@suite.add(
    "wcte_move_rows",
    oracle="""
    SELECT k, s FROM (SELECT n_nationkey AS k, n_name AS s FROM nation
                      WHERE n_regionkey = 2) t
    ORDER BY k
    """,
    doc="Data-modifying CTEs (PG 9.1 wCTE, rewriteHandler.c): "
        "DELETE ... RETURNING feeding an INSERT in one statement — the "
        "archive-move idiom; DML bodies execute exactly once in "
        "statement order.",
    tags=("engine", "dml"),
)
def wcte_move_rows(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_wcte_"))
    cat(spark, sf_dir).table("nation").createOrReplaceTempView("nation")
    eng.execute(
        "CREATE TABLE wcte_src AS SELECT n_nationkey AS k, n_name AS s, "
        "n_regionkey AS r FROM nation DISTRIBUTED BY (k)"
    )
    eng.execute("CREATE TABLE wcte_arch AS SELECT k, s FROM wcte_src WITH NO DATA")
    eng.execute(
        "WITH moved AS (DELETE FROM wcte_src WHERE r = 2 RETURNING k, s) "
        "INSERT INTO wcte_arch SELECT k, s FROM moved"
    )
    return eng.execute("SELECT k, s FROM wcte_arch ORDER BY k")


@suite.add(
    "script_copy_stdin",
    oracle="""
    SELECT id, dname, headcount FROM (VALUES
      (10, 'engineering', 40), (20, 'operations', 15), (30, 'sales', 25)
    ) t(id, dname, headcount)
    ORDER BY id
    """,
    doc="pg_dump data sections: COPY ... FROM stdin consumes inline rows "
        "to the \\. terminator (copy.c text format — tab delimiter, \\N "
        "null, backslash escapes) inside run_script, so a full plain-"
        "format dump restores end-to-end.",
    tags=("engine", "copy"),
)
def script_copy_stdin(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_stdin_"))
    eng.run_script(
        "CREATE TABLE depts (id int4, dname text, headcount int4) "
        "DISTRIBUTED BY (id);\n"
        "COPY depts (id, dname, headcount) FROM stdin;\n"
        "10\tengineering\t40\n"
        "20\toperations\t15\n"
        "30\tsales\t25\n"
        "\\.\n"
    )
    return eng.execute("SELECT id, dname, headcount FROM depts ORDER BY id")


@suite.add(
    "gpmapreduce_wordcount",
    oracle=r"""
    WITH words AS (
      SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                                x -> x <> '')) AS key
      FROM documents WHERE doc_id < 200
    )
    SELECT key, CAST(COUNT(*) AS BIGINT) AS value
    FROM words GROUP BY key HAVING COUNT(*) >= 5 ORDER BY key
    """,
    doc="Greenplum MapReduce YAML jobs (gpcontrib/gpmapreduce; demo/"
        "2_wordcount.yml shape): VERSION/DEFINE/EXECUTE specs run as "
        "DataFrame stages — INPUT QUERY through the engine, the python "
        "MAP generator compiled once per executor and streamed through "
        "mapInPandas (rows never visit the driver), built-in REDUCE SUM "
        "as a native 2-stage groupBy aggregate. The oracle re-derives "
        "the wordcount with DuckDB list functions over the same "
        "whitespace tokenization.",
    tags=("engine", "pipeline", "udf"),
)
def gpmapreduce_wordcount(spark, sf_dir):
    from greengage_spark.engine import GreengageEngine
    from greengage_spark.operators.gpmapreduce import run_mapreduce

    eng = GreengageEngine(spark, tempfile.mkdtemp(prefix="gg_mr_"))
    cat(spark, sf_dir).table("documents").filter(
        F.col("doc_id") < 200
    ).select("text").createOrReplaceTempView("mr_documents")
    spec = """
VERSION: 1.0.0.1
DEFINE:
  - INPUT:
      NAME: docs_in
      QUERY: SELECT text FROM mr_documents
  - MAP:
      NAME: wordsplit
      LANGUAGE: python
      PARAMETERS: text text
      RETURNS:
        - key text
        - value integer
      FUNCTION: |
        for word in text.split():
          yield [word, 1]
EXECUTE:
  - RUN:
      SOURCE: docs_in
      MAP: wordsplit
      REDUCE: SUM
"""
    df = run_mapreduce(eng, spec)  # REDUCE SUM already aggregated
    return (
        df.select("key", F.col("value").cast("long").alias("value"))
        .filter(F.col("value") >= 5)
        .orderBy("key")
    )
