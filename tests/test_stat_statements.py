"""contrib/pg_stat_statements (pg_stat_statements.c): per-statement
execution statistics with literal normalization ($n placeholders),
track=top semantics (nested engine-internal executes are not counted),
and pg_stat_statements_reset()."""

import pytest

from greengage_spark.engine import GreengageEngine


@pytest.fixture()
def eng(spark, tmp_path):
    return GreengageEngine(spark, str(tmp_path / "wh"))


class TestStatStatements:
    def test_literal_normalization_groups_calls(self, eng):
        eng.execute("CREATE TABLE s1 (x int8)")
        eng.execute("INSERT INTO s1 VALUES (1), (2), (3)")
        for v in (1, 2, 3):
            eng.execute(f"SELECT x FROM s1 WHERE x > {v}").collect()
        rows = {
            r.query: r.calls
            for r in eng.execute(
                "SELECT query, calls FROM pg_stat_statements"
            ).collect()
        }
        assert rows["SELECT x FROM s1 WHERE x > $1"] == 3
        assert rows["INSERT INTO s1 VALUES ($1), ($2), ($3)"] == 1

    def test_string_literals_normalized(self, eng):
        eng.execute("SELECT upper('abc') AS v").collect()
        eng.execute("SELECT upper('xyz') AS v").collect()
        rows = {
            r.query: r.calls
            for r in eng.execute(
                "SELECT query, calls FROM pg_stat_statements"
            ).collect()
        }
        assert rows["SELECT upper($1) AS v"] == 2

    def test_placeholders_numbered_by_position(self, eng):
        # PG numbers constants left to right, whatever their type
        eng.execute("CREATE TABLE s4 (x int8, y text)")
        eng.execute("INSERT INTO s4 VALUES (1,'x')")
        qs = [
            r.query
            for r in eng.execute("SELECT query FROM pg_stat_statements").collect()
        ]
        assert "INSERT INTO s4 VALUES ($1,$2)" in qs

    def test_timing_columns_populated(self, eng):
        eng.execute("SELECT 1 AS one").collect()
        r = eng.execute(
            "SELECT calls, total_exec_time, min_exec_time, max_exec_time, "
            "mean_exec_time FROM pg_stat_statements "
            "WHERE query = 'SELECT $1 AS one'"
        ).collect()[0]
        assert r.calls == 1
        assert r.total_exec_time > 0
        assert r.min_exec_time <= r.mean_exec_time <= r.max_exec_time

    def test_top_level_only(self, eng):
        # an INSERT ... SELECT runs inner executes; only the top-level
        # statement may appear (pg_stat_statements.track = top)
        eng.execute("CREATE TABLE s2 (x int8)")
        eng.execute("CREATE TABLE s3 (x int8)")
        eng.execute("INSERT INTO s2 VALUES (1)")
        eng.execute("INSERT INTO s3 SELECT x FROM s2")
        qs = [
            r.query
            for r in eng.execute(
                "SELECT query FROM pg_stat_statements"
            ).collect()
        ]
        assert "INSERT INTO s3 SELECT x FROM s2" in qs
        # the inner SELECT the INSERT ran must not be its own row
        assert "SELECT x FROM s2" not in qs

    def test_reset(self, eng):
        eng.execute("SELECT 42 AS v").collect()
        eng.execute("SELECT pg_stat_statements_reset()")
        n = eng.execute(
            "SELECT count(*) AS n FROM pg_stat_statements"
        ).collect()[0].n
        assert n == 0

    def test_queryid_stable(self, eng):
        eng.execute("SELECT 7 AS v").collect()
        eng.execute("SELECT 8 AS v").collect()
        rows = eng.execute(
            "SELECT queryid, calls FROM pg_stat_statements "
            "WHERE query = 'SELECT $1 AS v'"
        ).collect()
        assert len(rows) == 1 and rows[0].calls == 2
