"""WritableTable (copy-on-write DML) semantics — ModifyTable/SplitUpdate."""

import os

import pyspark.sql.functions as F
import pytest

from greengage_spark.operators.dml import WritableTable


@pytest.fixture()
def table(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", None)],
        "id long, name string, val double",
    )
    return WritableTable(spark, str(tmp_path / "t"), dist_keys=("id",)).create(df)


def rows(t):
    return sorted((r.id, r.name, r.val) for r in t.df().collect())


class TestDML:
    def test_create_and_read(self, table):
        assert rows(table) == [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", None)]
        assert table.version == 0

    def test_insert_appends(self, spark, table):
        table.insert(spark.createDataFrame([(5, "e", 50.0)], "id long, name string, val double"))
        assert (5, "e", 50.0) in rows(table)
        assert table.version == 1

    def test_delete_keeps_complement(self, table):
        table.delete(F.col("val") > 15.0)
        assert [r[0] for r in rows(table)] == [1, 4]

    def test_delete_null_cond_keeps_row(self, table):
        # PG: WHERE NULL deletes nothing — row 4 (val NULL) must survive.
        table.delete(F.col("val") > 0.0)
        assert [r[0] for r in rows(table)] == [4]

    def test_update_where(self, table):
        table.update({"name": F.lit("X")}, F.col("id") >= 3)
        assert rows(table) == [(1, "a", 10.0), (2, "b", 20.0), (3, "X", 30.0), (4, "X", None)]

    def test_update_all_rows_when_no_cond(self, table):
        table.update({"val": F.lit(0.0)})
        assert all(r[2] == 0.0 for r in rows(table))

    def test_split_update_moves_dist_key(self, table):
        # UPDATE of the distribution key (SplitUpdate case): row re-homes
        # to a new hash partition and no rows are lost or duplicated.
        table.update({"id": F.col("id") + 100}, F.col("id") == 2)
        assert [r[0] for r in rows(table)] == [1, 3, 4, 102]

    def test_insert_appends_files_not_rewrite(self, spark, table):
        # INSERT must be a pure file append: every pre-existing data file
        # is carried into the new manifest byte-identical (same inode,
        # mtime, size) — at 100 TB a 1-row INSERT writes one small file.
        before = {f: os.stat(f) for f in table.files()}
        table.insert(spark.createDataFrame([(5, "e", 50.0)], "id long, name string, val double"))
        after = set(table.files())
        assert set(before) <= after, "INSERT dropped pre-existing files"
        for f, st in before.items():
            st2 = os.stat(f)
            assert (st.st_ino, st.st_mtime_ns, st.st_size) == (
                st2.st_ino, st2.st_mtime_ns, st2.st_size,
            ), f"INSERT rewrote {f}"
        assert len(after) > len(before)

    def test_update_rewrites_only_touched_files(self, spark, tmp_path):
        # An UPDATE keyed to one value must leave files that cannot hold
        # matching rows untouched on disk (copy-on-write at file
        # granularity, the Delta/Iceberg strategy).
        df = spark.createDataFrame(
            [(i, f"n{i}", float(i)) for i in range(100)],
            "id long, name string, val double",
        )
        t = WritableTable(
            spark, str(tmp_path / "t"), dist_keys=("id",), num_partitions=8
        ).create(df)
        before = {f: os.stat(f) for f in t.files()}
        t.update({"name": F.lit("X")}, F.col("id") == 7)
        carried = [f for f in t.files() if f in before]
        assert carried, "UPDATE rewrote every file — not partition-pruned"
        for f in carried:
            st, st2 = before[f], os.stat(f)
            assert (st.st_ino, st.st_mtime_ns, st.st_size) == (
                st2.st_ino, st2.st_mtime_ns, st2.st_size,
            ), f"UPDATE modified untouched file {f}"
        # correctness untouched by the pruning
        got = sorted((r.id, r.name) for r in t.df().collect())
        assert (7, "X") in got and len(got) == 100
        assert sum(1 for _, n in got if n == "X") == 1

    def test_delete_rewrites_only_touched_files(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(i, f"n{i}", float(i)) for i in range(100)],
            "id long, name string, val double",
        )
        t = WritableTable(
            spark, str(tmp_path / "t"), dist_keys=("id",), num_partitions=8
        ).create(df)
        before = {f: os.stat(f) for f in t.files()}
        t.delete(F.col("id") == 42)
        carried = [f for f in t.files() if f in before]
        assert carried, "DELETE rewrote every file"
        for f in carried:
            st, st2 = before[f], os.stat(f)
            assert (st.st_ino, st.st_mtime_ns, st.st_size) == (
                st2.st_ino, st2.st_mtime_ns, st2.st_size,
            )
        assert sorted(r.id for r in t.df().collect()) == [
            i for i in range(100) if i != 42
        ]

    def test_delete_all_rows_keeps_schema(self, table):
        table.delete(F.lit(True))
        assert table.df().count() == 0
        assert [f.name for f in table.df().schema.fields] == ["id", "name", "val"]

    def test_version_chain_is_linear(self, table):
        table.delete(F.col("id") == 1)
        table.update({"name": F.lit("z")}, None)
        table.insert(
            table.spark.createDataFrame([(9, "i", 9.0)], "id long, name string, val double")
        )
        assert table.version == 3
        # reopening the root sees the latest version
        reopened = WritableTable(table.spark, table.root, dist_keys=("id",))
        assert reopened.version == 3
        assert sorted(r.id for r in reopened.df().collect()) == [2, 3, 4, 9]


class TestEngineSubqueryDMLPruning:
    """UPDATE ... FROM and subquery UPDATE/DELETE through the engine must
    be file-pruned copy-on-write too — a predicate touching one hash
    bucket leaves every other file byte-identical on disk."""

    def _eng(self, spark, tmp_path):
        from greengage_spark.engine import GreengageEngine

        eng = GreengageEngine(spark, str(tmp_path / "wh"))
        eng.execute("CREATE TABLE big (id int8, name text) DISTRIBUTED BY (id)")
        eng.execute(
            "INSERT INTO big SELECT id, 'n' || id::text FROM "
            "(SELECT explode(sequence(0, 99)) AS id)"
        )
        eng.execute("CREATE TABLE ref (id int8, tag text) DISTRIBUTED BY (id)")
        eng.execute("INSERT INTO ref VALUES (7, 'HIT')")
        return eng

    def _stat_map(self, st):
        return {f: os.stat(f) for f in st.files()}

    def _assert_carried(self, before, st, what):
        carried = [f for f in st.files() if f in before]
        assert carried, f"{what} rewrote every file — not file-pruned"
        for f in carried:
            s, s2 = before[f], os.stat(f)
            assert (s.st_ino, s.st_mtime_ns, s.st_size) == (
                s2.st_ino, s2.st_mtime_ns, s2.st_size,
            ), f"{what} modified untouched file {f}"

    def test_update_from_prunes_files(self, spark, tmp_path):
        eng = self._eng(spark, tmp_path)
        st = eng._storage("big")
        before = self._stat_map(st)
        eng.execute("UPDATE big SET name = ref.tag FROM ref WHERE big.id = ref.id")
        self._assert_carried(before, st, "UPDATE ... FROM")
        got = sorted((r.id, r.name) for r in eng.execute("SELECT * FROM big").collect())
        assert (7, "HIT") in got and len(got) == 100
        assert sum(1 for _, n in got if n == "HIT") == 1

    def test_subquery_update_prunes_files(self, spark, tmp_path):
        eng = self._eng(spark, tmp_path)
        st = eng._storage("big")
        before = self._stat_map(st)
        eng.execute(
            "UPDATE big SET name = (SELECT tag FROM ref WHERE ref.id = big.id) "
            "WHERE id IN (SELECT id FROM ref)"
        )
        self._assert_carried(before, st, "subquery UPDATE")
        got = sorted((r.id, r.name) for r in eng.execute("SELECT * FROM big").collect())
        assert (7, "HIT") in got and len(got) == 100

    def test_subquery_delete_prunes_files(self, spark, tmp_path):
        eng = self._eng(spark, tmp_path)
        st = eng._storage("big")
        before = self._stat_map(st)
        eng.execute("DELETE FROM big WHERE id IN (SELECT id FROM ref)")
        self._assert_carried(before, st, "subquery DELETE")
        ids = sorted(r.id for r in eng.execute("SELECT id FROM big").collect())
        assert ids == [i for i in range(100) if i != 7]


class TestDeleteReturningSelectInto:
    """DELETE ... RETURNING (ExecDelete → ExecProcessReturning projects
    the OLD rows) and SELECT ... INTO (transformIntoClause ≡ CTAS)."""

    @pytest.fixture()
    def eng(self, spark, tmp_path):
        from greengage_spark.engine import GreengageEngine

        eng = GreengageEngine(spark, str(tmp_path / "wh"))
        eng.execute(
            "CREATE TABLE drt AS SELECT * FROM "
            "(VALUES (1,'a'),(2,'b'),(3,'c')) v(k, s) DISTRIBUTED BY (k)"
        )
        return eng

    def test_delete_returning_old_rows(self, eng):
        got = eng.execute("DELETE FROM drt WHERE k >= 2 RETURNING k, s").collect()
        assert sorted((r.k, r.s) for r in got) == [(2, "b"), (3, "c")]
        left = eng.execute("SELECT k FROM drt").collect()
        assert [r.k for r in left] == [1]

    def test_delete_all_returning(self, eng):
        got = eng.execute("DELETE FROM drt RETURNING k").collect()
        assert sorted(r.k for r in got) == [1, 2, 3]
        assert eng.execute("SELECT count(*) AS c FROM drt").collect()[0].c == 0

    def test_delete_returning_expression(self, eng):
        got = eng.execute(
            "DELETE FROM drt WHERE k = 2 RETURNING k * 10 AS kk, upper(s) AS up"
        ).collect()
        assert [(r.kk, r.up) for r in got] == [(20, "B")]

    def test_select_into(self, eng):
        eng.execute("SELECT k, s INTO drt2 FROM drt WHERE k <= 2")
        got = eng.execute("SELECT * FROM drt2 ORDER BY k").collect()
        assert [(r.k, r.s) for r in got] == [(1, "a"), (2, "b")]

    def test_select_into_temp_with_exprs(self, eng):
        eng.execute("SELECT k * 10 AS kk INTO TEMP TABLE drt3 FROM drt")
        got = eng.execute("SELECT kk FROM drt3 ORDER BY kk").collect()
        assert [r.kk for r in got] == [10, 20, 30]
        # INTO target participates in later DML like any table
        eng.execute("DELETE FROM drt3 WHERE kk = 20")
        assert eng.execute("SELECT count(*) AS c FROM drt3").collect()[0].c == 2


class TestDataModifyingCTE:
    """wCTE (PG 9.1, rewriteHandler.c): DML CTE bodies run exactly once,
    RETURNING sets feed the CTE; CTAS WITH [NO] DATA (createas.c)."""

    @pytest.fixture()
    def eng(self, spark, tmp_path):
        from greengage_spark.engine import GreengageEngine

        eng = GreengageEngine(spark, str(tmp_path / "wh"))
        eng.execute(
            "CREATE TABLE wt AS SELECT * FROM "
            "(VALUES (1,'a'),(2,'b'),(3,'c')) v(k, s) DISTRIBUTED BY (k)"
        )
        return eng

    def test_ctas_with_no_data(self, eng):
        eng.execute("CREATE TABLE wt_nd AS SELECT * FROM wt WITH NO DATA")
        assert eng.execute("SELECT count(*) AS c FROM wt_nd").collect()[0].c == 0
        eng.execute("CREATE TABLE wt_wd AS SELECT * FROM wt WITH DATA")
        assert eng.execute("SELECT count(*) AS c FROM wt_wd").collect()[0].c == 3

    def test_wcte_delete_feeding_select(self, eng):
        got = eng.execute(
            "WITH moved AS (DELETE FROM wt WHERE k = 2 RETURNING *) "
            "SELECT count(*) AS c FROM moved"
        ).collect()
        assert got[0].c == 1
        assert sorted(
            r.k for r in eng.execute("SELECT k FROM wt").collect()
        ) == [1, 3]

    def test_wcte_move_rows_between_tables(self, eng):
        eng.execute("CREATE TABLE wt_arch AS SELECT * FROM wt WITH NO DATA")
        eng.execute(
            "WITH moved AS (DELETE FROM wt WHERE k >= 2 RETURNING *) "
            "INSERT INTO wt_arch SELECT * FROM moved"
        )
        assert sorted(
            r.k for r in eng.execute("SELECT k FROM wt_arch").collect()
        ) == [2, 3]
        assert sorted(
            r.k for r in eng.execute("SELECT k FROM wt").collect()
        ) == [1]

    def test_wcte_mixed_plain_and_dml(self, eng):
        got = eng.execute(
            "WITH del AS (DELETE FROM wt WHERE k = 99 RETURNING k), "
            "keep AS (SELECT k FROM wt) SELECT count(*) AS c FROM keep"
        ).collect()
        assert got[0].c == 3

    def test_plain_with_unaffected(self, eng):
        got = eng.execute("WITH x AS (SELECT 1 AS a) SELECT a FROM x").collect()
        assert got[0].a == 1


class TestSerialInsertReturning:
    """Multi-row INSERT with a serial column AND a RETURNING clause:
    the per-row sequence default must append to EVERY row (the trailing
    RETURNING used to corrupt the row split)."""

    def test_multirow_returning(self, spark, tmp_path):
        from greengage_spark.engine import GreengageEngine

        eng = GreengageEngine(spark, str(tmp_path / "wh_sret"))
        eng.execute("CREATE TABLE sret (id serial, name text)")
        r = eng.execute(
            "INSERT INTO sret (name) VALUES ('a'), ('b') "
            "RETURNING id, name"
        )
        assert sorted(map(tuple, r.collect())) == [(1, "a"), (2, "b")]
        rows = eng.execute(
            "SELECT id, name FROM sret ORDER BY id"
        ).collect()
        assert [tuple(x) for x in rows] == [(1, "a"), (2, "b")]


class TestStatementLexing:
    """The engine finds a statement's clauses with the front end's lexer,
    so comments and quoted identifiers hide their brackets and keywords
    the way PostgreSQL's scanner (scan.l) does."""

    @pytest.fixture()
    def eng(self, spark, tmp_path):
        from greengage_spark.engine import GreengageEngine

        eng = GreengageEngine(spark, str(tmp_path / "wh"))
        eng.execute(
            "CREATE TABLE lx AS SELECT * FROM "
            "(VALUES (1, 10), (2, 20), (3, 30)) v(id, v) DISTRIBUTED BY (id)"
        )
        return eng

    def test_update_where_after_comment_with_paren(self, eng):
        eng.execute("UPDATE lx SET v = 0 -- reset (one row\n WHERE id = 1")
        got = sorted(tuple(r) for r in eng.execute("SELECT id, v FROM lx").collect())
        assert got == [(1, 0), (2, 20), (3, 30)]

    def test_delete_where_after_quoted_ident_with_paren(self, eng):
        eng.execute("CREATE TABLE lk AS SELECT * FROM (VALUES (2)) v(id)")
        eng.execute('DELETE FROM lx USING lk AS "k(" WHERE lx.id = "k(".id')
        got = sorted(r.id for r in eng.execute("SELECT id FROM lx").collect())
        assert got == [1, 3]

    @pytest.mark.parametrize(
        "stmts, query, want",
        [
            (
                ["CREATE TABLE tt (v text)",
                 "DO $$ BEGIN INSERT INTO tt VALUES ('a /* b */ c'); END $$"],
                "SELECT v FROM tt",
                (["v"], [("a /* b */ c",)]),
            ),
            (
                ["CREATE TABLE tt (v text)", "INSERT INTO tt VALUES ('a'), ('b')",
                 "DO $$ BEGIN DELETE FROM tt WHERE v ~ 'a'; END $$"],
                "SELECT v FROM tt",
                (["v"], [("b",)]),
            ),
            (
                ["CREATE FUNCTION cost(a int) RETURNS text AS "
                 "$$ SELECT 'cost $1: ' || $1::text $$ LANGUAGE sql"],
                "SELECT cost(5) AS c",
                (["c"], [("cost $1: 5",)]),
            ),
            ([], 'SELECT 1 AS "public.x"', (["public.x"], [(1,)])),
            ([], "SELECT $$it's$$ AS s", (["s"], [("it's",)])),
            ([], "SELECT café FROM (SELECT 1 AS café) s", (["café"], [(1,)])),
        ],
        ids=[
            "do_comment_inside_literal", "do_regex_operator",
            "sql_function_param_inside_literal", "public_inside_quoted_ident",
            "dollar_string", "non_ascii_identifier",
        ],
    )
    def test_literals_and_identifiers_lex_as_scan_l(self, eng, stmts, query, want):
        for stmt in stmts:
            eng.execute(stmt)
        df = eng.execute(query)
        assert (df.columns, [tuple(r) for r in df.collect()]) == want
