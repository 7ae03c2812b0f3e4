"""Greenplum CREATE TABLE DDL front-end: parse, types, execution, pruning."""

import pyspark.sql.functions as F
import pytest

from greengage_spark.dialect.ddl import (
    DDLCatalog,
    map_pg_type,
    parse_create_table,
)

DDL_SALES = """
CREATE TABLE sales (
    id bigserial,
    cust_id int8 NOT NULL,
    amount numeric(12,2),
    tags text[],
    note varchar(80),
    sold_at timestamp without time zone,
    PRIMARY KEY (id)
)
WITH (appendonly=true, orientation=column, compresstype=zstd)
DISTRIBUTED BY (cust_id)
PARTITION BY RANGE (sold_at)
( START ('2024-01-01') END ('2025-01-01') EVERY (INTERVAL '1 month') );
"""


class TestTypeMap:
    @pytest.mark.parametrize(
        "pg,spark",
        [
            ("int4", "int"),
            ("bigint", "long"),
            ("double precision", "double"),
            ("numeric(10,2)", "decimal(10,2)"),
            ("numeric", "decimal(38,18)"),
            ("varchar(40)", "string"),
            ("char(2)", "string"),
            ("bytea", "binary"),
            ("timestamp", "timestamp_ntz"),
            ("timestamptz", "timestamp"),
            ("timestamp with time zone", "timestamp"),
            ("int4[]", "array<int>"),
            ("jsonb", "string"),
            ("float", "double"),
            ("float(1)", "float"),
            ("float(24)", "float"),
            ("float(25)", "double"),
            ("float(53)", "double"),
        ],
    )
    def test_map(self, pg, spark):
        assert map_pg_type(pg) == spark

    def test_numeric_over_cap_raises(self):
        with pytest.raises(ValueError):
            map_pg_type("numeric(45,10)")

    def test_float_precision_over_53_raises(self):
        with pytest.raises(ValueError, match="precision for type float"):
            map_pg_type("float(54)")

    def test_unknown_raises(self):
        with pytest.raises(ValueError):
            map_pg_type("tsvector")


class TestParse:
    def test_full_ddl(self):
        td = parse_create_table(DDL_SALES)
        assert td.name == "sales"
        assert [c.name for c in td.columns] == [
            "id", "cust_id", "amount", "tags", "note", "sold_at",
        ]
        assert td.columns[1].not_null
        assert td.columns[2].spark_type == "decimal(12,2)"
        assert td.columns[3].spark_type == "array<string>"
        assert td.distribution == "hash" and td.dist_keys == ("cust_id",)
        assert td.partition_kind == "range" and td.partition_col == "sold_at"
        assert "EVERY" in td.partition_spec_raw
        assert td.storage_options == {
            "appendonly": "true", "orientation": "column", "compresstype": "zstd",
        }

    def test_distributed_randomly(self):
        td = parse_create_table("CREATE TABLE t (a int) DISTRIBUTED RANDOMLY")
        assert td.distribution == "random" and td.dist_keys == ()

    def test_distributed_replicated(self):
        td = parse_create_table("CREATE TABLE dim (a int, b text) DISTRIBUTED REPLICATED")
        assert td.distribution == "replicated"

    def test_multi_key_distribution(self):
        td = parse_create_table("CREATE TABLE t (a int, b int) DISTRIBUTED BY (a, b)")
        assert td.dist_keys == ("a", "b")

    def test_list_partition(self):
        td = parse_create_table(
            "CREATE TABLE t (a int, r text) PARTITION BY LIST (r) "
            "(PARTITION eu VALUES ('eu'), PARTITION us VALUES ('us'))"
        )
        assert td.partition_kind == "list" and td.partition_col == "r"

    def test_not_create_table_raises(self):
        with pytest.raises(ValueError):
            parse_create_table("SELECT 1")


class TestExecution:
    @pytest.fixture()
    def ddlcat(self, spark, tmp_path):
        return DDLCatalog(spark, str(tmp_path))

    def test_create_insert_read(self, spark, ddlcat):
        ddlcat.create_table(
            "CREATE TABLE t (id int8, v numeric(10,2)) DISTRIBUTED BY (id)"
        )
        ddlcat.insert(
            "t", spark.createDataFrame([(1, 1.5), (2, 2.5)], "id long, v double")
        )
        got = sorted((r.id, float(r.v)) for r in ddlcat.table("t").collect())
        assert got == [(1, 1.5), (2, 2.5)]
        # schema respects the declared decimal type
        assert dict(ddlcat.table("t").dtypes)["v"] == "decimal(10,2)"

    def test_duplicate_create_raises(self, ddlcat):
        ddlcat.create_table("CREATE TABLE t (a int)")
        with pytest.raises(ValueError):
            ddlcat.create_table("CREATE TABLE t (a int)")

    def test_replicated_table_broadcasts(self, spark, ddlcat):
        ddlcat.create_table("CREATE TABLE dim (k int8, label text) DISTRIBUTED REPLICATED")
        ddlcat.insert("dim", spark.createDataFrame([(1, "x")], "k long, label string"))
        fact = spark.range(10).withColumnRenamed("id", "k")
        plan = fact.join(ddlcat.table("dim"), "k")._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_range_partitioned_write_prunes(self, spark, ddlcat, tmp_path):
        ddlcat.create_table(
            "CREATE TABLE ev (id int8, sold_at timestamp) "
            "DISTRIBUTED BY (id) PARTITION BY RANGE (sold_at)"
        )
        df = spark.createDataFrame(
            [(1, "2024-01-05 00:00:00"), (2, "2024-02-10 00:00:00"), (3, "2024-03-15 00:00:00")],
            "id long, sold_at string",
        ).withColumn("sold_at", F.col("sold_at").cast("timestamp_ntz"))
        out = str(tmp_path / "ev_data")
        ddlcat.write_partitioned("ev", df, out)

        back = spark.read.parquet(out)
        pruned = back.filter(F.col("__part") == "2024-02")
        assert [r.id for r in pruned.collect()] == [2]
        # partition pruning must reach the scan, not run as a post-filter
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(__part" in plan
