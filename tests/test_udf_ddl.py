"""CREATE FUNCTION / CREATE AGGREGATE SQL DDL (reference:
src/backend/commands/aggregatecmds.c, src/pl/plpython/,
src/test/regress/sql/create_aggregate.sql)."""

import pytest

from greengage_spark.engine import GreengageEngine
from greengage_spark.operators.udf_ddl import (
    parse_create_aggregate,
    parse_create_function,
)


@pytest.fixture()
def eng(spark, tmp_path):
    return GreengageEngine(spark, str(tmp_path / "wh"))


class TestParse:
    def test_sql_function_quoted_body(self):
        fd, rep = parse_create_function(
            "CREATE FUNCTION add_em(a int4, b int4) RETURNS int4 "
            "AS 'SELECT $1 + $2' LANGUAGE sql"
        )
        assert (fd.name, fd.language, rep) == ("add_em", "sql", False)
        assert fd.arg_types == ["INT", "INT"] and fd.ret_type == "INT"

    def test_plpython_dollar_body(self):
        fd, _ = parse_create_function(
            "CREATE OR REPLACE FUNCTION pymax (a integer, b integer) "
            "RETURNS integer AS $$\nif a > b:\n    return a\nreturn b\n$$ "
            "LANGUAGE plpythonu"
        )
        assert fd.language == "plpythonu" and "return b" in fd.body

    def test_aggregate_new_style(self):
        ad, _ = parse_create_aggregate(
            "CREATE AGGREGATE cat_all (text) (sfunc = strcat2, stype = text, initcond = '')"
        )
        assert (ad.base_type, ad.sfunc, ad.stype, ad.initcond) == (
            "STRING", "strcat2", "STRING", "",
        )

    def test_aggregate_old_style_spellings(self):
        # create_aggregate.sql:17-20 (obsolete sfunc1/stype1/initcond1)
        ad, _ = parse_create_aggregate(
            "CREATE AGGREGATE newsum (sfunc1 = int4pl, basetype = int4, "
            "stype1 = int4, initcond1 = '0')"
        )
        assert (ad.base_type, ad.sfunc, ad.initcond) == ("INT", "int4pl", 0)

    def test_unknown_language_rejected(self):
        with pytest.raises(NotImplementedError, match="LANGUAGE"):
            parse_create_function(
                "CREATE FUNCTION f(a int) RETURNS int AS 'x' LANGUAGE pljava"
            )

    def test_plperl_pltcl_parse(self):
        fd, _ = parse_create_function(
            "CREATE FUNCTION f(a int) RETURNS int AS 'return 1;' "
            "LANGUAGE plperl"
        )
        assert fd.language == "plperl"
        fd, _ = parse_create_function(
            "CREATE FUNCTION g(a int) RETURNS int AS 'return 1' "
            "LANGUAGE pltclu"
        )
        assert fd.language == "pltcl"


class TestEngineFunctions:
    def test_sql_function_inlines(self, eng):
        eng.execute(
            "CREATE FUNCTION add_em(a int4, b int4) RETURNS int4 "
            "AS 'SELECT $1 + $2' LANGUAGE sql"
        )
        assert eng.execute("SELECT add_em(1, 2) AS v").collect()[0].v == 3

    def test_sql_function_pg_dialect_body(self, eng):
        # body goes through the transpiler: PG operators work
        eng.execute(
            "CREATE FUNCTION shout(s text) RETURNS text "
            "AS 'SELECT upper(s) || ''!''' LANGUAGE sql"
        )
        assert eng.execute("SELECT shout('hi') AS v").collect()[0].v == "HI!"

    def test_plpython_function(self, eng):
        eng.execute(
            "CREATE FUNCTION pymax (a integer, b integer) RETURNS integer AS $$\n"
            "if a > b:\n    return a\nreturn b\n$$ LANGUAGE plpythonu"
        )
        assert eng.execute("SELECT pymax(3, 7) AS v").collect()[0].v == 7

    def test_function_over_table(self, eng):
        eng.execute(
            "CREATE FUNCTION double_it(x int8) RETURNS int8 "
            "AS 'SELECT x * 2' LANGUAGE sql"
        )
        eng.execute("CREATE TABLE t (x int8)")
        eng.execute("INSERT INTO t VALUES (1), (2), (3)")
        got = sorted(r.v for r in eng.execute("SELECT double_it(x) AS v FROM t").collect())
        assert got == [2, 4, 6]

    def test_duplicate_requires_or_replace(self, eng):
        eng.execute("CREATE FUNCTION f(a int4) RETURNS int4 AS 'SELECT a' LANGUAGE sql")
        with pytest.raises(ValueError, match="already exists"):
            eng.execute("CREATE FUNCTION f(a int4) RETURNS int4 AS 'SELECT a' LANGUAGE sql")
        eng.execute(
            "CREATE OR REPLACE FUNCTION f(a int4) RETURNS int4 "
            "AS 'SELECT a + 1' LANGUAGE sql"
        )
        assert eng.execute("SELECT f(1) AS v").collect()[0].v == 2

    def test_drop_function(self, eng):
        eng.execute("CREATE FUNCTION f(a int4) RETURNS int4 AS 'SELECT a' LANGUAGE sql")
        eng.execute("DROP FUNCTION f(int4)")
        with pytest.raises(ValueError):
            eng.execute("DROP FUNCTION f")
        eng.execute("DROP FUNCTION IF EXISTS f")


class TestEngineAggregates:
    def test_builtin_sfunc_sum(self, eng):
        eng.execute(
            "CREATE AGGREGATE newsum (sfunc1 = int4pl, basetype = int4, "
            "stype1 = int4, initcond1 = '0')"
        )
        eng.execute("CREATE TABLE t (g text, x int4)")
        eng.execute("INSERT INTO t VALUES ('a', 1), ('a', 2), ('b', 5), ('b', NULL)")
        got = sorted(
            (r.g, r.s)
            for r in eng.execute("SELECT g, newsum(x) AS s FROM t GROUP BY g").collect()
        )
        assert got == [("a", 3), ("b", 5)]

    def test_python_sfunc(self, eng):
        eng.execute(
            "CREATE FUNCTION strcat2(s text, v text) RETURNS text AS $$\n"
            "return s + v\n$$ LANGUAGE plpythonu"
        )
        eng.execute(
            "CREATE AGGREGATE cat_all (text) (sfunc = strcat2, stype = text, "
            "initcond = '')"
        )
        eng.execute("CREATE TABLE t (g text, x text)")
        eng.execute("INSERT INTO t VALUES ('a', '1'), ('a', '2'), ('b', '5')")
        got = sorted(
            (r.g, r.s)
            for r in eng.execute(
                "SELECT g, cat_all(x) AS s FROM t GROUP BY g"
            ).collect()
        )
        assert got == [("a", "12"), ("b", "5")]

    def test_larger_family(self, eng):
        eng.execute("CREATE AGGREGATE my_max (int8) (sfunc = int8larger, stype = int8)")
        eng.execute("CREATE TABLE t (x int8)")
        eng.execute("INSERT INTO t VALUES (3), (9), (4)")
        assert eng.execute("SELECT my_max(x) AS m FROM t").collect()[0].m == 9

    def test_unknown_sfunc_rejected(self, eng):
        with pytest.raises(NotImplementedError, match="transition"):
            eng.execute("CREATE AGGREGATE bad (int4) (sfunc = nosuchfn, stype = int4)")


class TestPlpgsql:
    """LANGUAGE plpgsql restricted subset (src/pl/plpgsql/ exec_stmt_return
    / exec_stmt_if; verbatim shapes from qp_functions.sql:180-225)."""

    def test_simple_return(self, eng):
        eng.execute(
            "CREATE FUNCTION sales_tax(subtotal real) RETURNS real AS $$\n"
            "BEGIN\n\tRETURN subtotal * 0.06;\nEND;\n$$ LANGUAGE plpgsql"
        )
        got = eng.execute("SELECT sales_tax(30) AS t").collect()[0].t
        assert abs(got - 1.8) < 1e-6  # qp_functions.out:693-696

    def test_positional_args_quoted_body(self, eng):
        eng.execute(
            "CREATE FUNCTION concat_text (text, text) RETURNS text AS '\n"
            "\tBEGIN\n\t\tRETURN $1 || $2;\n\tEND;\n' LANGUAGE 'plpgsql'"
        )
        assert (
            eng.execute("SELECT concat_text('Green','gage') AS c").collect()[0].c
            == "Greengage"
        )

    def test_declare_alias_for(self, eng):
        # 'instr' itself is a Spark builtin a SQL UDF cannot shadow, so
        # the verbatim qp_functions.sql body registers under instr_gp
        eng.execute(
            "CREATE FUNCTION instr_gp(varchar, integer) RETURNS integer AS $$\n"
            "DECLARE\n\tv_string ALIAS FOR $1;\n\tindex ALIAS FOR $2;\n"
            "BEGIN\n\tRETURN index+10;\nEND;\n$$ LANGUAGE plpgsql"
        )
        assert eng.execute("SELECT instr_gp('next',3) AS i").collect()[0].i == 13

    def test_if_elsif_else_chain(self, eng):
        eng.execute(
            "CREATE FUNCTION band(x int4) RETURNS text AS $$\n"
            "BEGIN\n"
            "  IF x < 0 THEN RETURN 'neg';\n"
            "  ELSIF x = 0 THEN RETURN 'zero';\n"
            "  ELSE RETURN 'pos';\n"
            "  END IF;\n"
            "END;\n$$ LANGUAGE plpgsql"
        )
        got = [
            r.b
            for r in eng.execute(
                "SELECT band(v) AS b FROM (VALUES (-3), (0), (9)) t(v)"
            ).collect()
        ]
        assert got == ["neg", "zero", "pos"]

    def test_if_without_else_raises_at_runtime(self, eng):
        eng.execute(
            "CREATE FUNCTION only_pos(x int4) RETURNS text AS $$\n"
            "BEGIN\n  IF x > 0 THEN RETURN 'pos';\n  END IF;\nEND;\n"
            "$$ LANGUAGE plpgsql"
        )
        assert (
            eng.execute("SELECT only_pos(1) AS v").collect()[0].v == "pos"
        )
        with pytest.raises(Exception, match="without RETURN"):
            eng.execute("SELECT only_pos(-1) AS v").collect()

    def test_unsupported_bodies_reject_at_execution(self, eng):
        # statements needing a table scan can't run inside a row UDF:
        # CREATE succeeds (PG validates lazily too), the CALL raises
        # loudly naming the gap
        eng.execute(
            "CREATE FUNCTION qsel(x int4) RETURNS int4 AS $$\n"
            "DECLARE v int4;\nBEGIN\n  SELECT INTO v max(a) FROM t;\n"
            "  RETURN v;\nEND;\n$$ LANGUAGE plpgsql"
        )
        with pytest.raises(Exception, match="SQL engine"):
            eng.execute("SELECT qsel(1) AS r").collect()

    def test_declared_variables_and_assignments(self, eng):
        """exec_stmt_assign subset: straight-line variable code folds to
        one Catalyst expression (initializers, := chains, typed casts)."""
        eng.execute(
            "CREATE FUNCTION decl(x int4) RETURNS int4 AS $$\n"
            "DECLARE y int4 := 3;\nBEGIN\n  RETURN x + y;\nEND;\n"
            "$$ LANGUAGE plpgsql"
        )
        assert eng.execute("SELECT decl(4) AS v").collect()[0].v == 7
        eng.execute(
            "CREATE FUNCTION chainv(x int8) RETURNS int8 AS $$\n"
            "DECLARE v int8;\n  w int8 DEFAULT 3;\nBEGIN\n"
            "  v := x + w;\n  v := v * v;\n  RETURN v - 1;\nEND;\n"
            "$$ LANGUAGE plpgsql"
        )
        assert eng.execute("SELECT chainv(2) AS v").collect()[0].v == 24
        eng.execute(
            "CREATE FUNCTION taxed(amt numeric) RETURNS numeric AS $$\n"
            "DECLARE rate numeric := 0.5;\n  total numeric;\nBEGIN\n"
            "  total := amt * (1 + rate);\n  RETURN total;\nEND;\n"
            "$$ LANGUAGE plpgsql"
        )
        assert eng.execute("SELECT taxed(10.0) AS v").collect()[0].v == 15.0
        # variables substitute inside a terminal IF chain too
        eng.execute(
            "CREATE FUNCTION cmp2(x int4) RETURNS text AS $$\n"
            "DECLARE pivot int4 := 2;\nBEGIN\n"
            "  IF x > pivot THEN RETURN 'big';\n"
            "  ELSIF x = pivot THEN RETURN 'eq';\n"
            "  ELSE RETURN 'small';\n  END IF;\nEND;\n$$ LANGUAGE plpgsql"
        )
        got = [
            eng.execute(f"SELECT cmp2({n}) AS v").collect()[0].v
            for n in (1, 2, 3)
        ]
        assert got == ["small", "eq", "big"]
        # still inlines: no Python eval node
        df = eng.execute("SELECT chainv(CAST(7 AS int8)) AS v")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestPlpgsqlLoops:
    """FOR/FOREACH folds (exec_stmt_fori re-expressed as JVM-side
    aggregate(sequence()) — pl_exec.c:117-125) plus the interpreter slow
    path for WHILE/EXIT/CONTINUE/EXCEPTION (exec_stmt_while,
    exec_stmt_block:3245; battery shapes from
    src/test/regress/sql/plpgsql.sql:1513-1524, 3966-3990)."""

    def test_for_range_fold_inlines(self, eng):
        eng.execute(
            "CREATE FUNCTION sum_to(n int) RETURNS int AS $$\n"
            "DECLARE s int := 0;\nBEGIN\n"
            "  FOR i IN 1 .. n LOOP\n    s := s + i;\n  END LOOP;\n"
            "  RETURN s;\nEND;\n$$ LANGUAGE plpgsql"
        )
        row = eng.execute("SELECT sum_to(10) AS a, sum_to(0) AS b").collect()[0]
        assert (row.a, row.b) == (55, 0)  # empty range → zero iterations
        df = eng.execute("SELECT sum_to(100) AS v")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_for_reverse_by_step(self, eng):
        eng.execute(
            "CREATE FUNCTION rsum(n int) RETURNS int AS $$\n"
            "DECLARE s int := 0;\nBEGIN\n"
            "  FOR i IN REVERSE n .. 1 BY 3 LOOP\n    s := s + i;\n"
            "  END LOOP;\n  RETURN s;\nEND;\n$$ LANGUAGE plpgsql"
        )
        assert eng.execute("SELECT rsum(10) AS v").collect()[0].v == 22

    def test_for_multiple_carried_vars(self, eng):
        eng.execute(
            "CREATE FUNCTION fib(n int) RETURNS bigint AS $$\n"
            "DECLARE a bigint := 0;\n  b bigint := 1;\n  t bigint;\nBEGIN\n"
            "  FOR i IN 1 .. n LOOP\n    t := a + b;\n    a := b;\n"
            "    b := t;\n  END LOOP;\n  RETURN a;\nEND;\n$$ LANGUAGE plpgsql"
        )
        got = [
            eng.execute(f"SELECT fib({n}) AS v").collect()[0].v
            for n in (0, 1, 10)
        ]
        assert got == [0, 1, 55]

    def test_foreach_array_fold(self, eng):
        eng.execute(
            "CREATE FUNCTION arr_sum(xs int[]) RETURNS int AS $$\n"
            "DECLARE s int := 0;\n  x int;\nBEGIN\n"
            "  FOREACH x IN ARRAY xs LOOP\n    s := s + x;\n  END LOOP;\n"
            "  RETURN s;\nEND;\n$$ LANGUAGE plpgsql"
        )
        assert (
            eng.execute("SELECT arr_sum(ARRAY[1,2,3,4]) AS v").collect()[0].v
            == 10
        )

    def test_while_exit_continue_interpreted(self, eng):
        eng.execute(
            "CREATE FUNCTION odd_sum(n int) RETURNS int AS $$\n"
            "DECLARE i int := 0;\n  s int := 0;\nBEGIN\n"
            "  WHILE true LOOP\n    i := i + 1;\n"
            "    EXIT WHEN i > n;\n    CONTINUE WHEN i % 2 = 0;\n"
            "    s := s + i;\n  END LOOP;\n  RETURN s;\nEND;\n"
            "$$ LANGUAGE plpgsql"
        )
        assert eng.execute("SELECT odd_sum(10) AS v").collect()[0].v == 25

    def test_nested_if_bodies_interpreted(self, eng):
        eng.execute(
            "CREATE FUNCTION collatz_steps(n int) RETURNS int AS $$\n"
            "DECLARE steps int := 0;\n  v int := n;\nBEGIN\n"
            "  WHILE v <> 1 LOOP\n"
            "    IF v % 2 = 0 THEN\n      v := v / 2;\n"
            "    ELSE\n      v := 3 * v + 1;\n    END IF;\n"
            "    steps := steps + 1;\n  END LOOP;\n"
            "  RETURN steps;\nEND;\n$$ LANGUAGE plpgsql"
        )
        assert eng.execute("SELECT collatz_steps(6) AS v").collect()[0].v == 8

    def test_exception_division_by_zero(self, eng):
        eng.execute(
            "CREATE FUNCTION safe_div(a int, b int) RETURNS int AS $$\n"
            "BEGIN\n  RETURN a / b;\n"
            "EXCEPTION WHEN division_by_zero THEN\n  RETURN -1;\nEND;\n"
            "$$ LANGUAGE plpgsql"
        )
        row = eng.execute(
            "SELECT safe_div(10, 2) AS a, safe_div(5, 0) AS b"
        ).collect()[0]
        assert (row.a, row.b) == (5, -1)

    def test_raise_exception_and_others_handler(self, eng):
        eng.execute(
            "CREATE FUNCTION checked(v int) RETURNS text AS $$\n"
            "BEGIN\n  BEGIN\n"
            "    IF v < 0 THEN\n      RAISE EXCEPTION 'bad value %', v;\n"
            "    END IF;\n    RETURN 'ok';\n"
            "  EXCEPTION WHEN others THEN\n"
            "    RETURN 'caught: ' || sqlerrm;\n  END;\nEND;\n"
            "$$ LANGUAGE plpgsql"
        )
        row = eng.execute(
            "SELECT checked(1) AS a, checked(-7) AS b"
        ).collect()[0]
        assert row.a == "ok" and row.b == "caught: bad value -7"

    def test_unreserved_keyword_variable(self, eng):
        # verbatim plpgsql.sql:3966 unreserved_test
        eng.execute(
            "create function unreserved_test() returns int as $$\n"
            "declare\n  forward int := 21;\nbegin\n"
            "  forward := forward * 2;\n  return forward;\nend\n"
            "$$ language plpgsql"
        )
        assert eng.execute("select unreserved_test() AS v").collect()[0].v == 42

    def test_setof_for_range_return_next(self, eng):
        # verbatim plpgsql.sql:1513 test_ret_set_scalar
        eng.execute(
            "create function test_ret_set_scalar(int,int) returns setof int "
            "as '\nDECLARE\n\ti int;\nBEGIN\n"
            "\tFOR i IN $1 .. $2 LOOP\n\t\tRETURN NEXT i + 1;\n"
            "\tEND LOOP;\n\tRETURN;\nEND;' language plpgsql"
        )
        rows = eng.execute(
            "select * from test_ret_set_scalar(1,10)"
        ).collect()
        assert sorted(r[0] for r in rows) == list(range(2, 12))

    def test_setof_for_over_query_return_next(self, eng):
        # plpgsql.sql:1491 test_table_func_rec shape
        eng.execute("CREATE TABLE found_t (a int8)")
        eng.execute("INSERT INTO found_t VALUES (1), (2), (3)")
        eng.execute(
            "create function tf_rec() returns setof int8 as '\n"
            "DECLARE\n\trec RECORD;\nBEGIN\n"
            "\tFOR rec IN select * from found_t LOOP\n"
            "\t\tRETURN NEXT rec;\n\tEND LOOP;\n\tRETURN;\nEND;'"
            " language plpgsql"
        )
        rows = eng.execute("select * from tf_rec()").collect()
        assert sorted(r[0] for r in rows) == [1, 2, 3]


class TestSetofTableMacros:
    """RETURNS SETOF / RETURNS TABLE functions expand inline at the call
    site (inline_set_returning_function, optimizer/util/clauses.c) — the
    FunctionScan becomes a plain subquery, so Catalyst optimizes through
    it (pushdown into the body, no opaque boundary)."""

    @pytest.fixture()
    def seng(self, eng):
        eng.execute(
            "CREATE TABLE st AS SELECT * FROM "
            "(VALUES (1,'a'),(2,'b'),(3,'c')) v(k, s) DISTRIBUTED BY (k)"
        )
        return eng

    def test_sql_setof_with_column_aliases(self, seng):
        seng.execute(
            "CREATE FUNCTION topn(n int4) RETURNS SETOF record AS "
            "$$ SELECT k, s FROM st WHERE k <= n $$ LANGUAGE sql"
        )
        rows = seng.execute(
            "SELECT * FROM topn(2) AS t(kk, ss) ORDER BY kk"
        ).collect()
        assert [(r.kk, r.ss) for r in rows] == [(1, "a"), (2, "b")]

    def test_plpgsql_return_query_appends(self, seng):
        """Multiple RETURN QUERY statements append result sets
        (exec_stmt_return_query) — UNION ALL semantics."""
        seng.execute(
            "CREATE FUNCTION ends(lo int4, hi int4) RETURNS SETOF record AS "
            "$$\nBEGIN\n  RETURN QUERY SELECT k, s FROM st WHERE k = lo;\n"
            "  RETURN QUERY SELECT k, s FROM st WHERE k = hi;\n  RETURN;\n"
            "END;\n$$ LANGUAGE plpgsql"
        )
        rows = seng.execute("SELECT * FROM ends(1, 3) ORDER BY 1").collect()
        assert [(r.k, r.s) for r in rows] == [(1, "a"), (3, "c")]

    def test_returns_table_form(self, seng):
        seng.execute(
            "CREATE FUNCTION series2(a int4, b int4) RETURNS TABLE(v int4) "
            "AS $$ SELECT k AS v FROM st WHERE k BETWEEN a AND b $$ "
            "LANGUAGE sql"
        )
        rows = seng.execute(
            "SELECT v * 10 AS x FROM series2(1, 2) ORDER BY 1"
        ).collect()
        assert [r.x for r in rows] == [10, 20]

    def test_nested_macro_and_join_position(self, seng):
        seng.execute(
            "CREATE FUNCTION topn(n int4) RETURNS SETOF record AS "
            "$$ SELECT k, s FROM st WHERE k <= n $$ LANGUAGE sql"
        )
        seng.execute(
            "CREATE FUNCTION allrows() RETURNS SETOF record AS "
            "$$ SELECT * FROM topn(3) t $$ LANGUAGE sql"
        )
        assert seng.execute("SELECT count(*) AS c FROM allrows()").collect()[0].c == 3
        rows = seng.execute(
            "SELECT a.k, b.s FROM st a JOIN topn(2) b ON a.k = b.k ORDER BY 1"
        ).collect()
        assert [(r.k, r.s) for r in rows] == [(1, "a"), (2, "b")]

    def test_setof_plpythonu_rejected(self, seng):
        with pytest.raises(NotImplementedError, match="SETOF"):
            seng.execute(
                "CREATE FUNCTION pyset() RETURNS SETOF int4 AS "
                "$$ return [1] $$ LANGUAGE plpythonu"
            )

    def test_inlines_into_catalyst(self, eng):
        """plpgsql lowers to a SQL-defined function — no Python UDF node."""
        eng.execute(
            "CREATE FUNCTION dbl(x int8) RETURNS int8 AS $$\n"
            "BEGIN RETURN x * 2; END;\n$$ LANGUAGE plpgsql"
        )
        df = eng.execute("SELECT dbl(4) AS v")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert df.collect()[0].v == 8


class TestPlpgsqlCaseAndArrays:
    """Statement CASE (pl_gram.y stmt_case: multi-value WHEN, simple +
    searched forms, case_not_found without ELSE) and array-element
    assignment with PG's NULL-padded growth."""

    def test_case_statement_simple_form(self, eng):
        eng.execute(
            "CREATE FUNCTION band3(v int4) RETURNS text AS $$\n"
            "BEGIN\n  CASE v\n    WHEN 1, 2 THEN RETURN 'low';\n"
            "    WHEN 3 THEN RETURN 'mid';\n    ELSE RETURN 'high';\n"
            "  END CASE;\nEND;\n$$ LANGUAGE plpgsql"
        )
        got = [
            eng.execute(f"SELECT band3({n}) AS v").collect()[0].v
            for n in (1, 2, 3, 9)
        ]
        assert got == ["low", "low", "mid", "high"]

    def test_case_not_found_raises(self, eng):
        eng.execute(
            "CREATE FUNCTION only_big(v int4) RETURNS text AS $$\n"
            "BEGIN\n  CASE WHEN v > 10 THEN RETURN 'big';\n  END CASE;\n"
            "  RETURN 'unreached';\nEND;\n$$ LANGUAGE plpgsql"
        )
        assert eng.execute("SELECT only_big(11) AS v").collect()[0].v == "big"
        with pytest.raises(Exception, match="case not found"):
            eng.execute("SELECT only_big(1) AS v").collect()

    def test_array_element_assignment(self, eng):
        eng.execute(
            "CREATE FUNCTION build_sq(n int4) RETURNS int4 AS $$\n"
            "DECLARE a int[];\n  s int := 0;\n  i int;\n  x int;\nBEGIN\n"
            "  FOR i IN 1 .. n LOOP\n    a[i] := i * i;\n  END LOOP;\n"
            "  a[n + 2] := 100;\n"  # NULL-padded growth
            "  FOREACH x IN ARRAY a LOOP\n"
            "    s := s + coalesce(x, 0);\n  END LOOP;\n  RETURN s;\nEND;\n"
            "$$ LANGUAGE plpgsql"
        )
        assert eng.execute("SELECT build_sq(4) AS v").collect()[0].v == 130


class TestPlpgsqlArrayLiterals:
    """Array-typed DECLARE defaults parse PG array-literal strings
    through the element cast (arrayfuncs.c array_in subset)."""

    def test_empty_and_valued_literals(self, spark, tmp_path):
        from greengage_spark.engine import GreengageEngine

        eng = GreengageEngine(spark, str(tmp_path / "wh_arr"))
        eng.execute(
            "CREATE FUNCTION arrfn() RETURNS int[] AS $$\n"
            "DECLARE a int[] := '{}'; b int[] := '{1,2}';\n"
            "BEGIN\n"
            "  a := array_append(a, 7);\n"
            "  RETURN a || b;\n"
            "END $$ LANGUAGE plpgsql"
        )
        got = eng.execute(
            "SELECT array_to_string(arrfn(), ',') AS v"
        ).collect()[0].v
        assert got == "7,1,2"


class TestSetofPerRow:
    """SETOF functions with per-row (lateral) arguments — PG's
    function-in-FROM is implicitly LATERAL (transformRangeFunction).
    Inline-lowerable bodies expand to correlated Catalyst subqueries;
    procedural SQL-free bodies run as an array UDF on executors and
    explode (the r13 row-tier SETOF lane)."""

    @pytest.fixture()
    def seng(self, spark, tmp_path):
        from greengage_spark.engine import GreengageEngine

        e = GreengageEngine(spark, str(tmp_path))
        e.execute("CREATE TABLE srf_t (k int)")
        e.execute("INSERT INTO srf_t VALUES (2), (3)")
        return e

    def test_inline_body_lateral(self, seng):
        seng.execute(
            "CREATE FUNCTION squares(n int) RETURNS SETOF int AS $$\n"
            "DECLARE i int;\nBEGIN\n  FOR i IN 1..n LOOP\n"
            "    RETURN NEXT i * i;\n  END LOOP;\n  RETURN;\n"
            "END $$ LANGUAGE plpgsql"
        )
        rows = seng.execute(
            "SELECT k, v FROM srf_t, squares(k) AS s(v) ORDER BY k, v"
        ).collect()
        assert [(r.k, r.v) for r in rows] == [
            (2, 1), (2, 4), (3, 1), (3, 4), (3, 9)
        ]

    def test_procedural_body_rowtier_lateral(self, seng):
        # WHILE + state: outside the inline subset, runs per row on
        # executors through compile_plpgsql(setof=True)
        seng.execute(
            "CREATE FUNCTION collatz(n int) RETURNS SETOF int AS $$\n"
            "DECLARE v int := n;\nBEGIN\n  WHILE v <> 1 LOOP\n"
            "    RETURN NEXT v;\n"
            "    IF v % 2 = 0 THEN v := v / 2; ELSE v := 3 * v + 1; "
            "END IF;\n  END LOOP;\n  RETURN NEXT 1;\n"
            "END $$ LANGUAGE plpgsql"
        )
        rows = seng.execute(
            "SELECT k, v FROM srf_t, collatz(k) AS c(v) ORDER BY k, v"
        ).collect()
        assert [(r.k, r.v) for r in rows] == sorted(
            [(2, 2), (2, 1)] + [(3, x) for x in (3, 10, 5, 16, 8, 4, 2, 1)]
        )
        # constant args keep the driver path and identical results
        rows = seng.execute("SELECT * FROM collatz(6) AS t(v)").collect()
        assert [r.v for r in rows] == [6, 3, 10, 5, 16, 8, 4, 2, 1]

    def test_sql_needing_body_still_rejects_lateral(self, seng):
        # RETURN QUERY needs the engine: per-row args stay an honest
        # loud reject (the body cannot run on an executor)
        seng.execute("CREATE TABLE srf_aux (v int)")
        seng.execute("INSERT INTO srf_aux VALUES (10), (20)")
        seng.execute(
            "CREATE FUNCTION qset(n int) RETURNS SETOF int AS $$\n"
            "DECLARE x int;\nBEGIN\n"
            "  FOR x IN SELECT v FROM srf_aux LOOP\n"
            "    RETURN NEXT x + n;\n  END LOOP;\n  RETURN;\n"
            "END $$ LANGUAGE plpgsql"
        )
        # constant arg: fine through the driver interpreter
        rows = seng.execute("SELECT * FROM qset(1) AS t(v)").collect()
        assert sorted(r.v for r in rows) == [11, 21]
        with pytest.raises(Exception, match="constant"):
            seng.execute(
                "SELECT k, v FROM srf_t, qset(k) AS q(v)"
            ).collect()


class TestScalarForTargetReuse:
    """A declared scalar FOR target binds one column on every loop and
    SELECT ... INTO, not only the first (pl_exec.c exec_stmt_fors →
    exec_assign_value)."""

    def test_two_for_loops_same_scalar(self, eng):
        eng.execute("CREATE TABLE src14 (a int8)")
        eng.execute("INSERT INTO src14 VALUES (1),(2),(3)")
        eng.execute("CREATE TABLE out14 (total int8)")
        eng.execute(
            "DO $$\n"
            "DECLARE x int8; total int8 := 0;\n"
            "BEGIN\n"
            "  FOR x IN SELECT a FROM src14 LOOP total := total + x; "
            "END LOOP;\n"
            "  FOR x IN SELECT a FROM src14 LOOP total := total + x; "
            "END LOOP;\n"
            "  INSERT INTO out14 VALUES (total);\n"
            "END $$"
        )
        assert eng.execute("SELECT total FROM out14").collect()[0][0] == 12

    def test_select_into_scalar_after_for(self, eng):
        eng.execute("CREATE TABLE src15 (a int8)")
        eng.execute("INSERT INTO src15 VALUES (7),(9),(4)")
        eng.execute("CREATE TABLE out15 (v int8)")
        eng.execute(
            "DO $$\n"
            "DECLARE x int8; n int8 := 0;\n"
            "BEGIN\n"
            "  FOR x IN SELECT a FROM src15 LOOP n := n + 1; END LOOP;\n"
            "  SELECT max(a) INTO x FROM src15;\n"
            "  INSERT INTO out15 VALUES (x + n);\n"
            "END $$"
        )
        assert eng.execute("SELECT v FROM out15").collect()[0][0] == 12

    def test_record_target_still_binds_rows(self, eng):
        # undeclared/record targets keep whole-row binding
        eng.execute("CREATE TABLE src16 (a int8, b int8)")
        eng.execute("INSERT INTO src16 VALUES (1, 10), (2, 20)")
        eng.execute("CREATE TABLE out16 (v int8)")
        eng.execute(
            "DO $$\n"
            "DECLARE r record; acc int8 := 0;\n"
            "BEGIN\n"
            "  FOR r IN SELECT a, b FROM src16 LOOP "
            "acc := acc + r.a + r.b; END LOOP;\n"
            "  FOR r IN SELECT a, b FROM src16 LOOP "
            "acc := acc + r.b; END LOOP;\n"
            "  INSERT INTO out16 VALUES (acc);\n"
            "END $$"
        )
        assert eng.execute("SELECT v FROM out16").collect()[0][0] == 63


class TestDropFunctionCompositeReregister:
    """DROP FUNCTION re-registers the surviving plpgsql functions with
    their composite-type relabeling."""

    def test_composite_cast_survives_drop_of_other_function(self, eng):
        eng.execute("CREATE TYPE pair14 AS (lo int8, hi int8)")
        eng.execute(
            "CREATE FUNCTION spread14(a int8, b int8) RETURNS int8 "
            "LANGUAGE plpgsql AS $$\n"
            "DECLARE r record;\n"
            "BEGIN\n"
            "  r := ROW(a, b)::pair14;\n"
            "  RETURN r.hi - r.lo;\n"
            "END $$"
        )
        eng.execute(
            "CREATE FUNCTION scrap14() RETURNS int8 LANGUAGE plpgsql "
            "AS $$ BEGIN RETURN 1; END $$"
        )
        assert eng.execute("SELECT spread14(3, 10) AS d").collect()[0].d == 7
        eng.execute("DROP FUNCTION scrap14")
        # after the DROP, spread14 was re-registered; composite-type
        # relabeling must survive the recompile
        assert eng.execute("SELECT spread14(3, 10) AS d").collect()[0].d == 7


class TestPublicSchemaInFunctionBodies:
    """pg_dump's public. qualifiers inside $$-quoted function bodies are
    stripped; inside string literals they stay."""

    def test_setof_macro_body_public_ref(self, eng):
        # pg_dump-shaped table macro: the SETOF body references
        # public.<table>; it expands via expand_table_macros which never
        # re-passes through _strip_public_schema
        eng.execute("CREATE TABLE pubt14 (a int8)")
        eng.execute("INSERT INTO pubt14 VALUES (41), (2)")
        eng.execute(
            "CREATE FUNCTION getpub14() RETURNS SETOF pubt14 "
            "LANGUAGE sql AS $$ SELECT a FROM public.pubt14 $$"
        )
        rows = eng.execute(
            "SELECT a FROM getpub14() ORDER BY a"
        ).collect()
        assert [r.a for r in rows] == [2, 41]

    def test_scalar_sql_body_public_function_call(self, eng):
        eng.execute(
            "CREATE FUNCTION base14(x int8) RETURNS int8 LANGUAGE sql "
            "AS $$ SELECT x * 2 $$"
        )
        eng.execute(
            "CREATE FUNCTION inc14(x int8) RETURNS int8 LANGUAGE sql "
            "AS $$ SELECT public.base14(x) + 1 $$"
        )
        assert eng.execute("SELECT inc14(20) AS v").collect()[0].v == 41

    def test_plpgsql_body_public_ref(self, eng):
        eng.execute("CREATE TABLE pubt15 (a int8)")
        eng.execute("INSERT INTO pubt15 VALUES (5)")
        eng.execute("CREATE TABLE pubout15 (v int8)")
        eng.execute(
            "DO $$\n"
            "DECLARE v int8;\n"
            "BEGIN\n"
            "  SELECT max(a) INTO v FROM public.pubt15;\n"
            "  INSERT INTO public.pubout15 VALUES (v);\n"
            "END $$"
        )
        assert eng.execute("SELECT v FROM pubout15").collect()[0].v == 5

    def test_string_literal_public_untouched(self, eng):
        eng.execute(
            "CREATE FUNCTION lit14() RETURNS text LANGUAGE sql AS "
            "$$ SELECT 'public.kept' $$"
        )
        assert (
            eng.execute("SELECT lit14() AS s").collect()[0].s == "public.kept"
        )


class TestUserFunctionNamesScoping:
    """The user-function name set is scoped per engine statement (a
    ContextVar), so two engines in one process do not clobber it."""

    def test_two_engines_do_not_clobber(self, spark, tmp_path):
        a = GreengageEngine(spark, str(tmp_path / "a"))
        b = GreengageEngine(spark, str(tmp_path / "b"))
        a.execute(
            "CREATE FUNCTION stat(x text) RETURNS int AS "
            "$$ SELECT length(x) $$ LANGUAGE sql"
        )
        # engine A resolves its own stat(); engine B's statements must
        # not see A's user-function set
        assert a.execute("SELECT stat('abcd') AS n").collect()[0].n == 4
        with pytest.raises(Exception):
            # B has no user stat(): the tsearch2 alias path engages and
            # ts_stat over a non-query argument fails — proving B did
            # not inherit A's set
            b.execute("SELECT stat('abcd') AS n").collect()
        # and A still resolves its own afterwards
        assert a.execute("SELECT stat('xy') AS n").collect()[0].n == 2

    def test_ctx_is_reentrant(self):
        from greengage_spark.dialect.transpiler import (
            _USER_FUNCTION_NAMES,
            user_functions_ctx,
        )

        with user_functions_ctx({"Outer"}):
            assert _USER_FUNCTION_NAMES.get() == frozenset({"outer"})
            with user_functions_ctx({"inner"}):
                assert _USER_FUNCTION_NAMES.get() == frozenset({"inner"})
            assert _USER_FUNCTION_NAMES.get() == frozenset({"outer"})
        assert _USER_FUNCTION_NAMES.get() == frozenset()
