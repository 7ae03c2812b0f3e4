"""End-to-end engine façade: a Greenplum user's session, statement by
statement (CREATE / INSERT / UPDATE / DELETE / COPY / SELECT)."""

import pytest

from greengage_spark.engine import GreengageEngine


@pytest.fixture()
def eng(spark, tmp_path):
    return GreengageEngine(spark, str(tmp_path / "wh"))


def rows(df):
    return sorted(map(tuple, df.collect()))


class TestEngine:
    def test_full_session(self, eng):
        eng.execute(
            "CREATE TABLE emp (id int8, name text, sal numeric(10,2)) DISTRIBUTED BY (id);"
        )
        eng.execute("INSERT INTO emp VALUES (1, 'ada', 100.00), (2, 'bob', 200.00), (3, 'cyn', 300.00)")
        eng.execute("UPDATE emp SET sal = sal * 1.10 WHERE id <> 2")
        eng.execute("DELETE FROM emp WHERE name = 'bob'")
        out = eng.execute("SELECT id, upper(name) || '!' AS tag, sal::float8 AS sal FROM emp")
        assert rows(out) == [(1, "ADA!", 110.0), (3, "CYN!", 330.0)]

    def test_insert_select_between_tables(self, eng):
        eng.execute("CREATE TABLE src (a int8, b text) DISTRIBUTED BY (a)")
        eng.execute("CREATE TABLE dst (a int8, b text) DISTRIBUTED BY (a)")
        eng.execute("INSERT INTO src VALUES (1,'x'), (2,'y'), (3,'z')")
        eng.execute("INSERT INTO dst SELECT a, b FROM src WHERE a >= 2")
        assert rows(eng.execute("SELECT a, b FROM dst")) == [(2, "y"), (3, "z")]

    def test_insert_partial_columns_fills_null(self, eng):
        eng.execute("CREATE TABLE t (a int8, b text, c float8)")
        eng.execute("INSERT INTO t (a, c) VALUES (7, 1.5)")
        assert rows(eng.execute("SELECT a, b, c FROM t")) == [(7, None, 1.5)]

    def test_copy_roundtrip(self, eng, tmp_path):
        eng.execute("CREATE TABLE t (a int8, b text)")
        eng.execute("INSERT INTO t VALUES (1,'x'), (2,'y')")
        out = str(tmp_path / "unload")
        eng.execute(f"COPY t TO '{out}'")
        eng.execute("CREATE TABLE t2 (a int8, b text)")
        eng.execute(f"COPY t2 FROM '{out}'")
        assert rows(eng.execute("SELECT a, b FROM t2")) == [(1, "x"), (2, "y")]

    def test_delete_without_where_empties(self, eng):
        eng.execute("CREATE TABLE t (a int8)")
        eng.execute("INSERT INTO t VALUES (1), (2)")
        eng.execute("DELETE FROM t")
        assert eng.execute("SELECT a FROM t").count() == 0

    def test_drop_table(self, eng):
        eng.execute("CREATE TABLE t (a int8)")
        eng.execute("DROP TABLE t")
        with pytest.raises(ValueError):
            eng.execute("INSERT INTO t VALUES (1)")
        eng.execute("DROP TABLE IF EXISTS t")  # no-op, no raise

    def test_pg_dialect_reaches_select(self, eng):
        eng.execute("CREATE TABLE t (a int8, s text)")
        eng.execute("INSERT INTO t VALUES (1, 'a,b,c')")
        out = eng.execute(
            "SELECT a, split_part(s, ',', 2) AS p, s ~ 'b' AS rx, a::text AS at FROM t"
        )
        assert rows(out) == [(1, "b", True, "1")]

    def test_unknown_statement_raises(self, eng):
        # CREATE RULE is query-rewrite machinery (rewriteDefine.c) — out
        # of scope, must reject loudly rather than silently no-op
        with pytest.raises(NotImplementedError):
            eng.execute(
                "CREATE RULE r AS ON INSERT TO t DO INSTEAD NOTHING"
            )

    def test_distributed_by_respected(self, eng):
        eng.execute("CREATE TABLE big (k int8, v int8) DISTRIBUTED BY (k)")
        eng.execute("INSERT INTO big SELECT explode(sequence(1, 1000)) AS k, 1 AS v")
        df = eng.execute("SELECT count(*) AS n FROM big")
        assert df.collect()[0].n == 1000


class TestStatementRouting:
    """A statement reaches its handler whatever optional words (UNLOGGED,
    TEMP, OR REPLACE, ...) it carries; DROP takes PG's name-list grammar;
    function names inside string literals are only text."""

    @pytest.mark.parametrize(
        "stmts, holds",
        [
            (
                ["CREATE UNLOGGED TABLE u AS SELECT 1 AS a"],
                lambda eng: rows(eng.execute("SELECT a FROM u")) == [(1,)],
            ),
            (
                ["CREATE TABLE a (x int8)", "CREATE TABLE b (x int8)",
                 "DROP TABLE a, b"],
                lambda eng: not {"a", "b"} & set(eng.ddl.tables),
            ),
            (
                ["CREATE SEQUENCE s", "DROP SEQUENCE s RESTRICT"],
                lambda eng: "s" not in eng.sequences.seqs,
            ),
        ],
        ids=["unlogged_ctas", "drop_name_list", "drop_restrict"],
    )
    def test_statement_reaches_its_handler(self, eng, stmts, holds):
        for stmt in stmts:
            eng.execute(stmt)
        assert holds(eng)

    def test_drop_looks_up_every_name_first(self, eng):
        eng.execute("CREATE TABLE a (x int8)")
        eng.execute("INSERT INTO a VALUES (1)")
        with pytest.raises(ValueError, match="unknown table 'missing'"):
            eng.execute("DROP TABLE missing, a")
        with pytest.raises(NotImplementedError, match="CASCADE"):
            eng.execute("DROP TABLE a CASCADE")
        assert rows(eng.execute("SELECT x FROM a")) == [(1,)]

    @pytest.mark.parametrize(
        "text", ["has_table_privilege(x)", "pg_stat_statements_reset()"]
    )
    def test_call_inside_string_literal_stays_text(self, eng, text):
        out = eng.execute(f"SELECT '{text}' AS s")
        assert out is not None and rows(out) == [(text,)]


class TestViewsAndCTAS:
    def test_ctas_with_distribution(self, eng):
        eng.execute("CREATE TABLE base (a int8, b text) DISTRIBUTED BY (a)")
        eng.execute("INSERT INTO base VALUES (1,'x'), (2,'y'), (3,'z')")
        eng.execute(
            "CREATE TABLE big AS SELECT a * 10 AS a10, b FROM base WHERE a > 1 "
            "DISTRIBUTED BY (a10)"
        )
        assert rows(eng.execute("SELECT a10, b FROM big")) == [(20, "y"), (30, "z")]
        td = eng.ddl.tables["big"]
        assert td.distribution == "hash" and td.dist_keys == ("a10",)

    def test_ctas_feeds_dml(self, eng):
        eng.execute("CREATE TABLE base (a int8) DISTRIBUTED RANDOMLY")
        eng.execute("INSERT INTO base VALUES (1), (2)")
        eng.execute("CREATE TABLE copy2 AS SELECT a FROM base")
        eng.execute("UPDATE copy2 SET a = a + 100")
        assert rows(eng.execute("SELECT a FROM copy2")) == [(101,), (102,)]

    def test_view_late_binding(self, eng):
        # gp_aggregates.sql mpp2687: view over DISTINCT/GROUP BY; PG views
        # re-resolve against current table contents.
        eng.execute("CREATE TABLE mpp2687t (dk text, gk text) DISTRIBUTED BY (dk)")
        eng.execute("CREATE VIEW mpp2687v AS SELECT DISTINCT gk FROM mpp2687t GROUP BY gk")
        assert rows(eng.execute("SELECT * FROM mpp2687v")) == []
        eng.execute("INSERT INTO mpp2687t VALUES ('a','g1'), ('b','g1'), ('c','g2')")
        assert rows(eng.execute("SELECT * FROM mpp2687v")) == [("g1",), ("g2",)]

    def test_view_over_view_and_drop(self, eng):
        eng.execute("CREATE TABLE t (a int8)")
        eng.execute("INSERT INTO t VALUES (1), (2), (3)")
        eng.execute("CREATE VIEW v1 AS SELECT a * 2 AS a2 FROM t")
        eng.execute("CREATE VIEW v2 AS SELECT sum(a2)::int8 AS s FROM v1")
        assert rows(eng.execute("SELECT s FROM v2")) == [(12,)]
        eng.execute("DROP VIEW v2")
        eng.execute("DROP VIEW IF EXISTS v2")
        with pytest.raises(ValueError):
            eng.execute("DROP VIEW v2")

    def test_create_or_replace_view(self, eng):
        eng.execute("CREATE TABLE t (a int8)")
        eng.execute("INSERT INTO t VALUES (5)")
        eng.execute("CREATE VIEW v AS SELECT a FROM t")
        with pytest.raises(ValueError):
            eng.execute("CREATE VIEW v AS SELECT a + 1 AS a FROM t")
        eng.execute("CREATE OR REPLACE VIEW v AS SELECT a + 1 AS a FROM t")
        assert rows(eng.execute("SELECT a FROM v")) == [(6,)]


class TestMultiAssignment:
    """SET (a, b) = (e1, e2) row-constructor forms (rewriteTargetListIU)."""

    def _t(self, eng):
        eng.execute("CREATE TABLE t (a int8, b int8, c text)")
        eng.execute("INSERT INTO t VALUES (1, 2, 'x'), (10, 20, 'y')")

    def test_parenthesized_exprs_keep_inner_parens(self, eng):
        self._t(eng)
        eng.execute("UPDATE t SET (a, b) = ((1+2), 3) WHERE c = 'x'")
        assert rows(eng.execute("SELECT a, b FROM t ORDER BY a")) == [
            (3, 3),
            (10, 20),
        ]

    def test_row_keyword_constructor(self, eng):
        self._t(eng)
        eng.execute("UPDATE t SET (a, b) = ROW(7, a + b) WHERE c = 'y'")
        assert rows(eng.execute("SELECT a, b FROM t ORDER BY a")) == [
            (1, 2),
            (7, 30),
        ]

    def test_string_with_parens_inside(self, eng):
        self._t(eng)
        eng.execute("UPDATE t SET (c, a) = (') (', 99) WHERE a = 1")
        assert rows(eng.execute("SELECT a, c FROM t ORDER BY a")) == [
            (10, "y"),
            (99, ") ("),
        ]

    def test_count_mismatch_errors(self, eng):
        self._t(eng)
        with pytest.raises(ValueError):
            eng.execute("UPDATE t SET (a, b) = ((1+2)) WHERE c = 'x'")


class TestInsertNotNull:
    def test_violation_raises_pg_message(self, eng):
        eng.execute("CREATE TABLE t (a int8 NOT NULL, b text)")
        with pytest.raises(ValueError, match=r'null value in column "a"'):
            eng.execute("INSERT INTO t VALUES (NULL, 'x')")
        with pytest.raises(ValueError, match=r'null value in column "a"'):
            eng.execute("INSERT INTO t SELECT NULL::int8, 'y'")
        # failed INSERTs must not have committed anything
        assert rows(eng.execute("SELECT * FROM t")) == []

    def test_valid_insert_passes_guard(self, eng):
        eng.execute("CREATE TABLE t (a int8 NOT NULL, b text)")
        eng.execute("INSERT INTO t VALUES (1, 'x'), (2, NULL)")
        assert rows(eng.execute("SELECT a FROM t")) == [(1,), (2,)]


class TestExplain:
    def test_explain_returns_plan_rows(self, eng):
        eng.execute("CREATE TABLE t (a int8, b text)")
        eng.execute("INSERT INTO t VALUES (1, 'x')")
        out = eng.execute("EXPLAIN SELECT a FROM t WHERE a > 0")
        assert out.columns == ["QUERY PLAN"]
        text = "\n".join(r[0] for r in out.collect())
        assert "FileScan" in text or "Scan" in text

    def test_explain_analyze_and_verbose(self, eng):
        eng.execute("CREATE TABLE t (a int8)")
        eng.execute("INSERT INTO t VALUES (1), (2)")
        text = "\n".join(
            r[0] for r in eng.execute("EXPLAIN ANALYZE SELECT sum(a) AS s FROM t").collect()
        )
        assert "Adaptive" in text or "Aggregate" in text
        vtext = "\n".join(
            r[0] for r in eng.execute("EXPLAIN VERBOSE SELECT a FROM t").collect()
        )
        assert "Parsed Logical Plan" in vtext

    def test_explain_dml_rejected(self, eng):
        eng.execute("CREATE TABLE t (a int8)")
        with pytest.raises(NotImplementedError):
            eng.execute("EXPLAIN UPDATE t SET a = 1")


class TestRunScript:
    """Multi-statement scripts (postgres.c exec_simple_query over a
    multi-command string; engine.split_statements)."""

    def test_script_end_to_end(self, eng):
        out = eng.run_script(
            """
            -- a ported script with comments; strings hold semicolons
            CREATE TABLE rs (a int4, b text);
            INSERT INTO rs VALUES (1, 'x;y'), (2, 'a -- not a comment');
            UPDATE rs SET b = 'z' WHERE a = 1;
            SELECT a, b FROM rs ORDER BY a
            """
        )
        assert [tuple(r) for r in out.collect()] == [
            (1, "z"), (2, "a -- not a comment"),
        ]

    def test_dollar_quoted_body_not_split(self, eng):
        eng.run_script(
            """
            CREATE FUNCTION f_semis(x int) RETURNS int AS $$
              SELECT x + 1;
            $$ LANGUAGE sql;
            CREATE TABLE rs2 (v int4);
            INSERT INTO rs2 SELECT f_semis(41) AS v;
            """
        )
        assert eng.execute("SELECT v FROM rs2").collect()[0].v == 42

    def test_split_statements_shapes(self):
        from greengage_spark.engine import split_statements

        assert split_statements("SELECT 1; SELECT 2;") == ["SELECT 1", "SELECT 2"]
        assert split_statements("SELECT ';'") == ["SELECT ';'"]
        assert split_statements("-- only a comment\n;") == []
        assert split_statements('SELECT 1 AS ";" -- c') == ['SELECT 1 AS ";" -- c']
        assert split_statements("SELECT $tag$ a; b $tag$") == [
            "SELECT $tag$ a; b $tag$"
        ]
        assert split_statements("SELECT 1 /* a; b */ + 1; SELECT 2") == [
            "SELECT 1 /* a; b */ + 1", "SELECT 2"
        ]
        assert split_statements("SELECT E'it\\'s;x'; SELECT 2") == [
            "SELECT E'it\\'s;x'", "SELECT 2"
        ]


class TestDoBlocksAndRejections:
    """DO $$ ... $$ anonymous blocks (gram.y DoStmt) — NULL / RAISE
    NOTICE / EXECUTE 'sql' / PERFORM subset; trigger/rule DDL rejects
    with specific messages (trigger.c / rewriteDefine.c)."""

    @pytest.fixture()
    def deng(self, spark, tmp_path):
        from greengage_spark.engine import GreengageEngine

        return GreengageEngine(spark, str(tmp_path / "wh"))

    def test_do_block_subset(self, deng):
        deng.execute("DO $$ BEGIN NULL; END $$")
        deng.execute("DO $$ BEGIN RAISE NOTICE 'hi there'; END $$")
        assert deng.notices == ["hi there"]
        deng.execute("DO $$ BEGIN EXECUTE 'CREATE TABLE do_t (x int)'; END $$")
        assert deng.execute("SELECT count(*) AS c FROM do_t").collect()[0].c == 0

    def test_do_block_procedural(self, deng):
        # round 6: DO bodies run through the full interpreter — IF,
        # loops, SELECT INTO, FOR rec IN <query>, EXCEPTION handlers
        deng.execute("CREATE TABLE do_src (a int8)")
        deng.execute("INSERT INTO do_src VALUES (1), (2), (3)")
        deng.execute(
            "DO $$\nDECLARE total int8 := 0;\n  rec RECORD;\nBEGIN\n"
            "  FOR rec IN SELECT a FROM do_src ORDER BY a LOOP\n"
            "    IF rec.a % 2 = 1 THEN\n      total := total + rec.a;\n"
            "    END IF;\n  END LOOP;\n"
            "  RAISE NOTICE 'odd total %', total;\nEND $$"
        )
        assert deng.notices[-1] == "odd total 4"
        deng.execute(
            "DO $$\nDECLARE n int8;\nBEGIN\n"
            "  SELECT count(*) INTO n FROM do_src;\n"
            "  BEGIN\n    PERFORM 1 / (n - 3);\n"
            "  EXCEPTION WHEN division_by_zero THEN\n"
            "    RAISE NOTICE 'guarded %', n;\n  END;\nEND $$"
        )
        assert deng.notices[-1] == "guarded 3"

    def test_do_block_select_into_strict(self, deng):
        deng.execute("CREATE TABLE do_one (a int8)")
        with pytest.raises(Exception, match="no rows"):
            deng.execute(
                "DO $$ DECLARE v int8; BEGIN "
                "SELECT a INTO STRICT v FROM do_one; END $$"
            )

    def test_trigger_and_rule_rejected_specifically(self, deng):
        deng.execute("CREATE TABLE trj (x int)")
        with pytest.raises(NotImplementedError, match="TRIGGER"):
            deng.execute(
                "CREATE TRIGGER trg BEFORE INSERT ON trj "
                "FOR EACH ROW EXECUTE PROCEDURE f()"
            )
        with pytest.raises(NotImplementedError, match="RULE"):
            deng.execute("CREATE RULE r AS ON INSERT TO trj DO NOTHING")


class TestRelationSizes:
    """pg_relation_size family folds to manifest byte totals (dbsize.c);
    pg_size_pretty unit steps; gp_dist_random('t') reads the table."""

    def test_sizes_and_pretty(self, spark, tmp_path):
        from greengage_spark.engine import GreengageEngine

        eng = GreengageEngine(spark, str(tmp_path / "wh"))
        eng.execute(
            "CREATE TABLE szt AS SELECT * FROM "
            "(VALUES (1,'a'),(2,'b')) v(k, s) DISTRIBUTED BY (k)"
        )
        row = eng.execute(
            "SELECT pg_relation_size('szt') AS sz, "
            "pg_total_relation_size('szt') = pg_table_size('szt') AS eq, "
            "pg_size_pretty(CAST(16384 AS BIGINT)) AS p1, "
            "pg_size_pretty(CAST(10485760 AS BIGINT)) AS p2"
        ).collect()[0]
        assert row.sz > 0 and row.eq is True
        assert (row.p1, row.p2) == ("16 kB", "10 MB")
        assert (
            eng.execute(
                "SELECT count(*) AS c FROM gp_dist_random('szt')"
            ).collect()[0].c
            == 2
        )


class TestCopyFromStdin:
    """pg_dump data sections: COPY ... FROM stdin with inline rows to the
    \\. terminator (copy.c text format: tab delimiter, \\N null,
    backslash escapes)."""

    def test_restore_script(self, spark, tmp_path):
        from greengage_spark.engine import GreengageEngine

        eng = GreengageEngine(spark, str(tmp_path / "wh"))
        eng.run_script(
            "CREATE TABLE emp (id int4, name text, pay numeric(10,2), "
            "active bool);\n"
            "COPY emp (id, name, pay, active) FROM stdin;\n"
            "1\tAda\t100.50\tt\n"
            "2\tTab\\tIn\t\\N\tf\n"
            "\\.\n"
            "COPY emp FROM stdin;\n"
            "3\t\\N\t7.25\tt\n"
            "\\.\n"
        )
        rows = eng.execute(
            "SELECT id, name, CAST(pay AS STRING) AS p, active FROM emp "
            "ORDER BY id"
        ).collect()
        assert [tuple(r) for r in rows] == [
            (1, "Ada", "100.50", True),
            (2, "Tab\tIn", None, False),
            (3, None, "7.25", True),
        ]

    def test_csv_variant_and_empty(self, spark, tmp_path):
        from greengage_spark.engine import GreengageEngine

        eng = GreengageEngine(spark, str(tmp_path / "wh"))
        eng.run_script(
            "CREATE TABLE t2 (a int4, b text);\n"
            "COPY t2 FROM stdin WITH CSV;\n"
            "1,x\n"
            "2,\n"
            "\\.\n"
            "CREATE TABLE t3 (z int4);\n"
            "COPY t3 FROM stdin;\n"
            "\\.\n"
        )
        rows = eng.execute("SELECT a, b FROM t2 ORDER BY a").collect()
        assert [tuple(r) for r in rows] == [(1, "x"), (2, None)]
        assert eng.execute("SELECT count(*) AS c FROM t3").collect()[0].c == 0

    def test_psql_meta_commands_skipped(self, spark, tmp_path):
        from greengage_spark.engine import GreengageEngine

        eng = GreengageEngine(spark, str(tmp_path / "wh"))
        eng.run_script(
            "\\connect mydb\n\\set ON_ERROR_STOP on\n"
            "CREATE TABLE pm (x int4);\n"
            "COPY pm FROM stdin;\n1\n\\.\n"
            "\\echo done\n"
        )
        assert eng.execute("SELECT count(*) AS c FROM pm").collect()[0].c == 1
        assert any("connect" in n for n in eng.notices)

    def test_pg_get_viewdef(self, spark, tmp_path):
        from greengage_spark.engine import GreengageEngine

        eng = GreengageEngine(spark, str(tmp_path / "wh"))
        eng.execute("CREATE TABLE vt (x int4)")
        eng.execute("CREATE VIEW vv AS SELECT x FROM vt WHERE x > 1")
        assert (
            eng.execute("SELECT pg_get_viewdef('vv') AS v").collect()[0].v
            == "SELECT x FROM vt WHERE x > 1"
        )

    def test_copy_to_stdout_roundtrip(self, spark, tmp_path):
        """COPY TO STDOUT renders PG text format (t/f bools, \\N nulls,
        backslash escapes); feeding it back through COPY FROM stdin is
        lossless."""
        from greengage_spark.engine import GreengageEngine

        eng = GreengageEngine(spark, str(tmp_path / "wh"))
        eng.run_script(
            "CREATE TABLE rt (id int4, name text, ok bool);\n"
            "COPY rt FROM stdin;\n"
            "1\tAda\tt\n2\tTab\\tIn\tf\n\\.\n"
        )
        lines = sorted(
            r.line for r in eng.execute("COPY rt TO STDOUT").collect()
        )
        assert lines == ["1\tAda\tt", "2\tTab\\tIn\tf"]
        eng.execute("CREATE TABLE rt2 (id int4, name text, ok bool)")
        eng.run_script(
            "COPY rt2 FROM stdin;\n" + "\n".join(lines) + "\n\\.\n"
        )
        back = eng.execute(
            "SELECT id, name, ok FROM rt2 ORDER BY id"
        ).collect()
        assert [tuple(r) for r in back] == [(1, "Ada", True), (2, "Tab\tIn", False)]


class TestCrosstab:
    """contrib/tablefunc crosstab() (tablefunc.c) — the tablefunc.sql
    battery shapes: 1-form fills output columns in query order per
    row_name; 2-form matches categories from the category query."""

    @pytest.fixture()
    def ct(self, eng):
        eng.execute("CREATE TABLE ctt (id int8, rowid text, att text, val text)")
        eng.execute(
            "INSERT INTO ctt VALUES "
            "(1,'test1','att1','val1'), (2,'test1','att2','val2'), "
            "(3,'test1','att3','val3'), (4,'test1','att4','val4'), "
            "(5,'test2','att1','val5'), (6,'test2','att2','val6'), "
            "(7,'test2','att3','val7'), (8,'test2','att4','val8')"
        )
        return eng

    def test_crosstab_ordinal_form(self, ct):
        rows = ct.execute(
            "SELECT * FROM crosstab("
            "'select rowid, att, val from ctt where att = ''att2'' "
            "or att = ''att3'' order by 1,2') "
            "AS x(row_name text, c1 text, c2 text, c3 text) ORDER BY row_name"
        ).collect()
        assert [tuple(r) for r in rows] == [
            ("test1", "val2", "val3", None),
            ("test2", "val6", "val7", None),
        ]

    def test_crosstab_category_form(self, ct):
        rows = ct.execute(
            "SELECT * FROM crosstab("
            "'select rowid, att, val from ctt order by 1,2', "
            "'select distinct att from ctt order by 1') "
            "AS x(row_name text, a1 text, a2 text, a3 text, a4 text) "
            "ORDER BY row_name"
        ).collect()
        assert [tuple(r) for r in rows] == [
            ("test1", "val1", "val2", "val3", "val4"),
            ("test2", "val5", "val6", "val7", "val8"),
        ]

    def test_crosstab_category_count_mismatch(self, ct):
        with pytest.raises(ValueError, match="category query returned"):
            ct.execute(
                "SELECT * FROM crosstab("
                "'select rowid, att, val from ctt order by 1,2', "
                "'select distinct att from ctt order by 1') "
                "AS x(row_name text, a1 text) ORDER BY row_name"
            )

    def test_crosstab_requires_coldef(self, ct):
        # without AS x(cols) the call can't be expanded — loud failure
        with pytest.raises(Exception):
            ct.execute(
                "SELECT * FROM crosstab("
                "'select rowid, att, val from ctt order by 1,2')"
            ).collect()


class TestDdlCompatForms:
    def test_unlogged_table(self, eng):
        # WAL hint, no analog over versioned parquet — accepted
        eng.execute("CREATE UNLOGGED TABLE ul (a int8)")
        eng.execute("INSERT INTO ul VALUES (1)")
        assert eng.execute("SELECT a FROM ul").collect()[0].a == 1

    def test_like_including_all_carries_defaults(self, eng):
        eng.execute("CREATE TABLE src (a int8 NOT NULL DEFAULT 7, b text)")
        eng.execute("CREATE TABLE dst (LIKE src INCLUDING ALL)")
        eng.execute("INSERT INTO dst (b) VALUES ('x')")
        row = eng.execute("SELECT a, b FROM dst").collect()[0]
        assert (row.a, row.b) == (7, "x")
        eng.execute("CREATE TABLE dst2 (LIKE src EXCLUDING INDEXES)")

    def test_set_constraints_noop(self, eng):
        # constraints check eagerly at write time; deferral is a no-op
        eng.execute("SET CONSTRAINTS ALL DEFERRED")
        eng.execute("SET CONSTRAINTS ALL IMMEDIATE")
