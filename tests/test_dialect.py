"""Transpiler unit tests: PG surface → Spark SQL, checked at the string
level (fast, no session) plus a few end-to-end sanity runs."""

import pytest

from greengage_spark.dialect.datetime_patterns import pg_pattern_to_java
from greengage_spark.dialect.transpiler import pg_sql, transpile


def norm(s: str) -> str:
    return " ".join(s.split())


class TestCasts:
    def test_simple(self):
        assert "CAST ( o_orderkey AS STRING )" in transpile("SELECT o_orderkey::text FROM t")

    def test_parenthesized_expr(self):
        assert "CAST ( ( a + b ) AS DOUBLE )" in transpile("SELECT (a + b)::float8 FROM t")

    def test_function_call_operand(self):
        assert "CAST ( sum ( x ) AS BIGINT )" in transpile("SELECT sum(x)::bigint FROM t")

    def test_numeric_keeps_precision(self):
        assert "DECIMAL(12,2)" in transpile("SELECT x::numeric(12,2) FROM t")

    def test_qualified_column(self):
        assert "CAST ( c.x AS INT )" in transpile("SELECT c.x::int4 FROM t")

    def test_chained_cast(self):
        out = transpile("SELECT x::numeric(10,2)::float8 FROM t")
        assert "CAST ( CAST ( x AS DECIMAL(10,2) ) AS DOUBLE )" in out

    def test_double_precision(self):
        assert "AS DOUBLE" in transpile("SELECT x::double precision FROM t")

    def test_string_literal_not_rewritten(self):
        out = transpile("SELECT 'a::b' FROM t")
        assert "'a::b'" in out and "CAST" not in out

    def test_interval_cast_year_to_months(self):
        assert "INTERVAL '12' MONTH" in transpile("SELECT dt + '1 year'::interval FROM t")

    def test_interval_cast_days(self):
        assert "INTERVAL '9' DAY" in transpile("SELECT dt + '1 week 2 days'::interval FROM t")

    def test_interval_cast_seconds(self):
        assert "INTERVAL '5400' SECOND" in transpile(
            "SELECT ts + '1 hour 30 minutes'::interval FROM t"
        )


class TestQuantified:
    def test_eq_any_becomes_in(self):
        out = transpile("SELECT a FROM t WHERE a = ANY (SELECT b FROM u)")
        assert "IN ( SELECT b FROM u )" in out and "=" not in out

    def test_ne_all_becomes_not_in(self):
        out = transpile("SELECT a FROM t WHERE a <> ALL (SELECT b FROM u)")
        assert "NOT IN ( SELECT b FROM u )" in out

    def test_ge_some_min(self):
        out = transpile("SELECT a FROM t WHERE a >= SOME (SELECT b FROM u)")
        assert ">= ( SELECT MIN ( __v )" in out

    def test_lt_all_min(self):
        out = transpile("SELECT a FROM t WHERE a < ALL (SELECT b FROM u)")
        assert "< ( SELECT MIN ( __v )" in out

    def test_gt_all_max(self):
        out = transpile("SELECT a FROM t WHERE a > ALL (SELECT b FROM u)")
        assert "> ( SELECT MAX ( __v )" in out

    def test_array_any_exists_lambda(self):
        # scalar-array ANY lowers to the exists() higher-order function,
        # which keeps PG's three-valued semantics for every operator
        out = transpile("SELECT a FROM t WHERE x = ANY (arr_col)")
        assert "exists" in out and "arr_col" in out and "__sae" in out

    def test_ne_any_rewrites_to_not_all_case(self):
        out = transpile("SELECT a FROM t WHERE a <> ANY (SELECT b FROM u)")
        assert "NOT" in out and "CASE" in out and "COUNT" in out


class TestGroupByEmpty:
    def test_leading_empty_item(self):
        out = transpile("SELECT cn, count(*) FROM sale GROUP BY (), cn")
        assert norm(out).endswith("GROUP BY cn")

    def test_middle_and_trailing(self):
        out = transpile("SELECT cn, vn, count(*) FROM sale GROUP BY (), cn, (), vn, ()")
        assert norm(out).endswith("GROUP BY cn , vn")

    def test_lone_empty_drops_group_by(self):
        out = transpile("SELECT count(*) FROM sale GROUP BY ()")
        assert "GROUP" not in out.upper().replace("GROUPING", "")

    def test_grouping_sets_untouched(self):
        out = transpile("SELECT cn FROM sale GROUP BY GROUPING SETS ((), (cn))")
        assert "( ) , ( cn )" in norm(out)

    def test_unknown_type_raises(self):
        with pytest.raises(ValueError, match="unsupported cast"):
            transpile("SELECT x::macaddr8 FROM t")

    def test_tsquery_cast_is_string_identity(self):
        # ::tsquery/::tsvector over columns map to the text form
        assert "CAST ( x AS STRING )" in norm(
            transpile("SELECT x::tsvector FROM t")
        )


class TestJsonOps:
    def test_arrow_text(self):
        assert "get_json_object ( props , '$.k' )" in transpile("SELECT props->>'k' FROM t")

    def test_chain_collapses(self):
        out = transpile("SELECT props->'a'->>'b' FROM t")
        assert "get_json_object ( props , '$.a.b' )" in out

    def test_hash_path(self):
        out = transpile("SELECT j #>> '{a,b}' FROM t")
        assert "get_json_object ( j , '$.a.b' )" in out

    def test_int_index(self):
        assert "'$[0]'" in transpile("SELECT j -> 0 FROM t")


class TestRegexOps:
    def test_case_sensitive(self):
        assert "RLIKE" in transpile("SELECT x ~ 'p' FROM t")

    def test_case_insensitive_merges_flag(self):
        assert "'(?i)^foo'" in transpile("SELECT x ~* '^foo' FROM t")

    def test_negated(self):
        out = transpile("SELECT x !~ 'p' FROM t")
        assert "NOT" in out and "RLIKE" in out


class TestFunctions:
    def test_to_char(self):
        out = transpile("SELECT to_char(ts, 'YYYY-MM-DD') FROM t")
        assert "date_format ( ts , 'yyyy-MM-dd' )" in out

    def test_to_date_no_infinite_loop(self):
        out = transpile("SELECT to_date(a, 'YYYY'), to_date(b, 'YYYY') FROM t")
        assert out.count("to_date") == 2

    def test_dow_is_pg_numbering(self):
        assert "dayofweek" in transpile("SELECT date_part('dow', d) FROM t")

    def test_log_is_log10(self):
        assert "log10" in transpile("SELECT log(x) FROM t")
        assert "log (" in transpile("SELECT log(2, x) FROM t")

    def test_gp_segment_id(self):
        assert "spark_partition_id" in transpile("SELECT gp_segment_id FROM t")

    def test_generate_series_in_from(self):
        out = transpile("SELECT g FROM generate_series(1, 10) t(g)")
        assert "explode ( sequence ( 1 , 10 ) )" in out


class TestSubscripts:
    def test_index_is_one_based(self):
        assert "element_at ( arr , 2 )" in transpile("SELECT arr[2] FROM t")

    def test_slice(self):
        assert "slice ( arr , 2 , 3 )" in transpile("SELECT arr[2:4] FROM t")

    def test_distinct_on_rewrites_to_row_number(self):
        out = transpile("SELECT DISTINCT ON (a) a, b FROM t ORDER BY a, b DESC")
        # sort keys carry PG default null placement (ASC→LAST, DESC→FIRST)
        assert (
            "row_number ( ) OVER ( PARTITION BY a ORDER BY a NULLS LAST , "
            "b DESC NULLS FIRST )" in out
        )
        assert "__rn = 1" in out

    def test_distinct_on_without_order_by(self):
        out = transpile("SELECT DISTINCT ON (k) k, v FROM t")
        assert "PARTITION BY k ORDER BY k" in out

    def test_distinct_on_executes(self, spark):
        spark.createDataFrame(
            [(1, "a", 3), (1, "b", 1), (2, "c", 2)], "g int, s string, v int"
        ).createOrReplaceTempView("don_t")
        rows = sorted(
            map(tuple, pg_sql(
                spark, "SELECT DISTINCT ON (g) g, s FROM don_t ORDER BY g, v"
            ).collect())
        )
        # per group, the row with the smallest v wins
        assert rows == [(1, "b"), (2, "c")]

    def test_string_agg_inline_order_by(self, spark):
        spark.createDataFrame(
            [(1, "x", 2), (1, "y", 1)], "g int, s string, v int"
        ).createOrReplaceTempView("sa_inline_t")
        rows = pg_sql(
            spark,
            "SELECT string_agg(s, ',' ORDER BY v) AS agg FROM sa_inline_t GROUP BY g",
        ).collect()
        assert rows[0].agg == "y,x"

    def test_array_agg_order_by_self(self, spark):
        spark.createDataFrame(
            [(1, 3), (1, 1), (1, 2)], "g int, v int"
        ).createOrReplaceTempView("aa_t")
        rows = pg_sql(
            spark, "SELECT array_agg(v ORDER BY v) AS a FROM aa_t GROUP BY g"
        ).collect()
        assert rows[0].a == [1, 2, 3]

    def test_array_agg_order_by_self_desc(self, spark):
        spark.createDataFrame(
            [(1, 3), (1, 1), (1, 2)], "g int, v int"
        ).createOrReplaceTempView("aa_t")
        rows = pg_sql(
            spark, "SELECT array_agg(v ORDER BY v DESC) AS a FROM aa_t GROUP BY g"
        ).collect()
        assert rows[0].a == [3, 2, 1]

    def test_array_agg_order_by_other_column(self, spark):
        spark.createDataFrame(
            [(1, "x", 2), (1, "y", 1), (1, "z", 3)], "g int, s string, v int"
        ).createOrReplaceTempView("aa2_t")
        rows = pg_sql(
            spark, "SELECT array_agg(s ORDER BY v) AS a FROM aa2_t GROUP BY g"
        ).collect()
        assert rows[0].a == ["y", "x", "z"]

    def test_array_agg_order_by_multi_key_desc(self, spark):
        spark.createDataFrame(
            [(1, "a", 1, 2), (1, "b", 1, 1), (1, "c", 2, 9)],
            "g int, s string, k1 int, k2 int",
        ).createOrReplaceTempView("aa3_t")
        rows = pg_sql(
            spark,
            "SELECT array_agg(s ORDER BY k1 DESC, k2 DESC) AS a FROM aa3_t GROUP BY g",
        ).collect()
        assert rows[0].a == ["c", "a", "b"]

    def test_string_agg_within_group(self, spark):
        spark.createDataFrame(
            [(1, "x", 2), (1, "y", 1)], "g int, s string, v int"
        ).createOrReplaceTempView("sa_t")
        rows = pg_sql(
            spark,
            "SELECT string_agg(s, ',') WITHIN GROUP (ORDER BY v) AS agg FROM sa_t GROUP BY g",
        ).collect()
        assert rows[0].agg == "y,x"


class TestPatterns:
    @pytest.mark.parametrize(
        "pg,java",
        [
            ("YYYY-MM-DD", "yyyy-MM-dd"),
            ("HH24:MI:SS", "HH:mm:ss"),
            ("Mon DD, YYYY", "MMM dd, yyyy"),
            ("YYYY-MM-DD HH12:MI AM", "yyyy-MM-dd hh:mm a"),
            ('"week" WW', "'week' ww"),
        ],
    )
    def test_translation(self, pg, java):
        assert pg_pattern_to_java(pg) == java


class TestEndToEnd:
    def test_pg_sql_runs(self, spark):
        out = pg_sql(spark, "SELECT 42::int8 AS x, 'a'||'b' AS s, md5('q') AS h").collect()
        assert out[0].x == 42 and out[0].s == "ab"

    def test_subscript_semantics(self, spark):
        row = pg_sql(spark, "SELECT (string_to_array('a b c', ' '))[1] AS first").collect()[0]
        assert row.first == "a"


class TestReviewRegressions:
    """Pinned fixes from the round-3 self-review."""

    def test_date_minus_interval_left_alone(self, spark):
        from greengage_spark.dialect.transpiler import pg_sql, transpile

        assert "datediff" not in transpile(
            "SELECT date '2001-09-28' - interval '1 hour'"
        )
        got = pg_sql(
            spark, "SELECT date '2001-09-28' - interval '1 hour' AS t"
        ).collect()[0][0]
        assert str(got) == "2001-09-27 23:00:00"

    def test_power_left_associative(self, spark):
        from greengage_spark.dialect.transpiler import pg_sql

        # PG: 2 ^ 3 ^ 2 = (2^3)^2 = 64
        assert pg_sql(spark, "SELECT 2 ^ 3 ^ 2 AS v").collect()[0][0] == 64.0

    def test_xor_not_power(self, spark):
        from greengage_spark.dialect.transpiler import pg_sql

        assert pg_sql(spark, "SELECT 5 # 3 AS v").collect()[0][0] == 6

    def test_containment_op_not_abs(self):
        from greengage_spark.dialect.transpiler import transpile

        assert "abs" not in transpile("SELECT x <@ y FROM t")

    def test_uppercase_float_cast_is_float8(self, spark):
        from greengage_spark.dialect.transpiler import pg_sql

        df = pg_sql(spark, "SELECT CAST(1.0000001 AS FLOAT) AS v")
        assert dict(df.dtypes)["v"] == "double"

    def test_punctuated_dch_templates_use_engine(self, spark):
        from greengage_spark.dialect.transpiler import pg_sql

        assert (
            pg_sql(
                spark, "SELECT to_char(DATE '1999-06-01', 'Y,YYY') AS v"
            ).collect()[0][0]
            == "1,999"
        )
        assert (
            pg_sql(
                spark, "SELECT to_char(DATE '1999-06-01', 'YYYY A.D.') AS v"
            ).collect()[0][0]
            == "1999 A.D."
        )

    def test_empty_tsquery_matches_nothing(self, spark):
        from greengage_spark.dialect.transpiler import pg_sql

        assert (
            pg_sql(
                spark,
                "SELECT to_tsvector('abc def') @@ plainto_tsquery('') AS v",
            ).collect()[0][0]
            is False
        )

    def test_timestamp_meridian_literals(self, spark):
        from greengage_spark.dialect.transpiler import pg_sql

        got = pg_sql(
            spark, "SELECT timestamp 'Jan 8 1999 04:05 PM' AS t"
        ).collect()[0][0]
        assert str(got) == "1999-01-08 16:05:00"

    def test_first_occurrence_regexp_pattern_backref(self, spark):
        from greengage_spark.dialect.transpiler import pg_sql

        # pattern-internal \1 must renumber past the wrapper's 2 groups
        assert (
            pg_sql(
                spark,
                r"SELECT regexp_replace('aa bb aa', '(a)\1', 'X') AS v",
            ).collect()[0][0]
            == "X bb aa"
        )


class TestToCharWideTemplates:
    def test_wide_9_template_keeps_exact_digits(self, spark):
        # templates past double precision (~15 significant digits) must
        # not take the DOUBLE-precast fast path
        from greengage_spark.dialect.transpiler import pg_sql

        got = pg_sql(
            spark,
            "SELECT to_char(123456789012345678::numeric, "
            "'999999999999999999') AS v",
        ).collect()[0][0]
        assert got == " 123456789012345678"

    def test_narrow_template_still_fast_path(self, spark):
        from greengage_spark.dialect.transpiler import pg_sql, transpile

        out = transpile("SELECT to_char(x, '99.9') FROM t")
        assert "pg_tochar_num" not in out  # codegen fast path retained
        got = pg_sql(spark, "SELECT to_char(12.45, '99.9') AS v").collect()[0][0]
        assert got == " 12.5"


class TestInetHstoreFunctions:
    """IPv4 inet/cidr function surface (network.c; inet.sql shapes with
    full dotted-quad literals — abbreviated CIDR input and IPv6 math are
    out of scope, family() detects v6) and the hstore function surface
    (contrib/hstore over MapType)."""

    def _one(self, spark, expr):
        from greengage_spark.dialect.transpiler import pg_sql

        return pg_sql(spark, f"SELECT {expr} AS v").collect()[0].v

    def test_inet_accessors(self, spark):
        assert self._one(spark, "host('192.168.1.226/24')") == "192.168.1.226"
        assert self._one(spark, "masklen('192.168.1.0/26')") == 26
        assert self._one(spark, "masklen('10.1.2.3')") == 32
        assert self._one(spark, "family('10:23::f1/64')") == 6
        assert self._one(spark, "family('10.1.2.3/8')") == 4

    def test_inet_network_math(self, spark):
        # inet.out rows for the full-form entries
        assert self._one(spark, "network('192.168.1.226/24')") == "192.168.1.0/24"
        assert self._one(spark, "broadcast('192.168.1.226/24')") == "192.168.1.255"
        assert self._one(spark, "broadcast('10.1.2.3/8')") == "10.255.255.255"
        assert self._one(spark, "netmask('192.168.1.0/26')") == "255.255.255.192"
        assert self._one(spark, "hostmask('192.168.23.20/30')") == "0.0.0.3"
        assert (
            self._one(spark, "set_masklen('192.168.1.226/24', 16)")
            == "192.168.1.226/16"
        )

    def test_inet_containment(self, spark):
        assert self._one(
            spark, "inet_contained_by('192.168.1.226/32', '192.168.1.0/24')"
        )
        assert not self._one(
            spark, "inet_contained_by('192.169.1.226/32', '192.168.1.0/24')"
        )
        assert self._one(spark, "inet_same_family('10.1.2.3', '9.1.2.3')")
        assert not self._one(spark, "inet_same_family('10.1.2.3', '::1')")

    def test_hstore_functions(self, spark):
        h = "str_to_map('a=>1,b=>2,c=>3', ',', '=>')"
        assert sorted(self._one(spark, f"akeys({h})")) == ["a", "b", "c"]
        assert sorted(self._one(spark, f"avals({h})")) == ["1", "2", "3"]
        assert self._one(spark, f"exist({h}, 'b')") is True
        assert self._one(spark, f"defined({h}, 'z')") is False
        assert sorted(self._one(spark, f"map_keys(delete({h}, 'a'))")) == ["b", "c"]
        assert sorted(
            self._one(spark, f"map_keys(slice({h}, array('a','c')))")
        ) == ["a", "c"]
        import json

        assert json.loads(self._one(spark, f"hstore_to_json({h})")) == {
            "a": "1", "b": "2", "c": "3",
        }

    def test_spark_3arg_slice_not_shadowed(self, spark):
        # arity-keyed templates: Spark's slice(array, start, length) stays
        assert self._one(spark, "slice(array(1,2,3,4), 2, 2)") == [2, 3]


class TestSimilarTo:
    """SIMILAR TO pattern language (regexp.c similar_escape)."""

    def _one(self, spark, expr):
        return pg_sql(spark, f"SELECT {expr} AS v").collect()[0].v

    def test_transpile_anchored_rlike(self):
        out = transpile("SELECT 'abc' SIMILAR TO 'a%'")
        assert "RLIKE" in out and "^(?:a.*)$" in out

    def test_wildcards(self, spark):
        assert self._one(spark, "'abc' SIMILAR TO 'a%'") is True
        assert self._one(spark, "'abc' SIMILAR TO '_b_'") is True
        # unlike LIKE, the whole string must match even without anchors
        assert self._one(spark, "'abc' SIMILAR TO 'b'") is False

    def test_regex_metas_active(self, spark):
        assert self._one(spark, "'abc' SIMILAR TO 'a(b|d)c'") is True
        assert self._one(spark, "'az' SIMILAR TO 'a[x-z]'") is True
        assert self._one(spark, "'aaab' SIMILAR TO 'a{2,}b'") is True
        assert self._one(spark, "'ab' SIMILAR TO 'ax?b'") is True

    def test_regex_only_metas_literal(self, spark):
        # '.' '^' '$' are NOT special in SIMILAR TO
        assert self._one(spark, "'a.c' SIMILAR TO 'a.c'") is True
        assert self._one(spark, "'abc' SIMILAR TO 'a.c'") is False
        assert self._one(spark, "'a$b' SIMILAR TO 'a$b'") is True

    def test_not_and_escape(self, spark):
        assert self._one(spark, "'abc' NOT SIMILAR TO '%d%'") is True
        assert self._one(spark, "'a%c' SIMILAR TO 'a!%c' ESCAPE '!'") is True
        assert self._one(spark, "'axc' SIMILAR TO 'a!%c' ESCAPE '!'") is False
        # default escape is backslash
        assert self._one(spark, r"'a_b' SIMILAR TO 'a\_b'") is True
        assert self._one(spark, r"'axb' SIMILAR TO 'a\_b'") is False


class TestOverlapsAtTimeZone:
    def _one(self, spark, expr):
        return pg_sql(spark, f"SELECT {expr} AS v").collect()[0].v

    def test_overlaps_basic(self, spark):
        assert self._one(
            spark,
            "(date '2024-01-01', date '2024-03-01')"
            " OVERLAPS (date '2024-02-01', date '2024-04-01')",
        ) is True
        assert self._one(
            spark,
            "(date '2024-01-01', date '2024-02-01')"
            " OVERLAPS (date '2024-02-01', date '2024-04-01')",
        ) is False  # shared endpoint is NOT an overlap (strict <)

    def test_overlaps_swapped_and_equal_start(self, spark):
        # pairs normalize (start,end) regardless of written order
        assert self._one(
            spark,
            "(date '2024-03-01', date '2024-01-01')"
            " OVERLAPS (date '2024-02-01', date '2024-04-01')",
        ) is True
        # equal starts always overlap (timestamp.c timestamp_overlaps)
        assert self._one(
            spark,
            "(date '2024-01-01', date '2024-01-01')"
            " OVERLAPS (date '2024-01-01', date '2024-05-01')",
        ) is True

    def test_at_time_zone_dst(self, spark):
        # 2024-03-10 12:00 EDT (DST active) = 16:00 UTC
        v = self._one(
            spark,
            "extract(epoch from timestamp '2024-03-10 12:00:00'"
            " AT TIME ZONE 'America/New_York')::int8",
        )
        import datetime

        utc = datetime.timezone.utc
        assert v == int(datetime.datetime(2024, 3, 10, 16, 0, tzinfo=utc).timestamp())
        # 2024-01-10 12:00 EST (no DST) = 17:00 UTC
        v2 = self._one(
            spark,
            "extract(epoch from timestamp '2024-01-10 12:00:00'"
            " AT TIME ZONE 'America/New_York')::int8",
        )
        assert v2 == int(datetime.datetime(2024, 1, 10, 17, 0, tzinfo=utc).timestamp())

    def test_timezone_function_form(self, spark):
        # timezone(zone, ts) ≡ ts AT TIME ZONE zone
        a = self._one(
            spark,
            "extract(epoch from timezone('Asia/Tokyo',"
            " timestamp '2024-06-01 09:00:00'))::int8",
        )
        b = self._one(
            spark,
            "extract(epoch from timestamp '2024-06-01 09:00:00'"
            " AT TIME ZONE 'Asia/Tokyo')::int8",
        )
        assert a == b
        import datetime
        assert a == int(datetime.datetime(2024, 6, 1, 0, 0,
                                          tzinfo=datetime.timezone.utc).timestamp())


class TestBitStrings:
    """bit/varbit surface (varbit.c; regress bit.sql shapes): 0/1-text
    representation, B''/X'' literals, bitwise ops, casts, shifts."""

    def _one(self, spark, expr):
        return pg_sql(spark, f"SELECT {expr} AS v").collect()[0].v

    def test_literals(self, spark):
        assert self._one(spark, "B'1010'") == "1010"
        assert self._one(spark, "X'1F'") == "00011111"
        assert self._one(spark, "B''") == ""

    def test_literal_inside_string_untouched(self, spark):
        # a B'..'-looking sequence inside a string literal must survive as
        # TEXT — no bit-literal rewrite — and the ''-doubling must decode
        # to single quotes (scan.l xq rules)
        out = pg_sql(spark, "SELECT 'see B''10'' here' AS s").collect()[0].s
        assert out == "see B'10' here"

    def test_bad_binary_digit_rejected(self):
        with pytest.raises(ValueError, match="invalid binary digit"):
            transpile("SELECT B'102'")

    def test_quote_in_comment_before_literal(self, spark):
        row = pg_sql(spark, "SELECT 1 -- it's\n, B'101' AS b").collect()[0]
        assert tuple(row) == (1, "101")

    def test_hex_literal_after_escape_string(self, spark):
        # X'1F' is the bit string 00011111 (varbit.c), not binary
        row = pg_sql(spark, "SELECT E'it\\'s' AS s, X'1F' AS b").collect()[0]
        assert tuple(row) == ("it's", "00011111")

    def test_ops(self, spark):
        # expected values verified against PG varbit.c semantics
        assert self._one(spark, "bitand(B'1010', B'0110')") == "0010"
        assert self._one(spark, "bitor(B'1010', B'0110')") == "1110"
        assert self._one(spark, "bitxor(B'1010', B'0110')") == "1100"
        assert self._one(spark, "bitnot(B'1010')") == "0101"

    def test_shifts_zero_fill_length_preserving(self, spark):
        assert self._one(spark, "bitshiftleft(B'1010', 2)") == "1000"
        assert self._one(spark, "bitshiftright(B'1010', 1)") == "0101"
        assert self._one(spark, "bitshiftleft(B'1010', 9)") == "0000"
        assert self._one(spark, "bitshiftright(B'1010', 9)") == "0000"

    def test_concat_substring_length(self, spark):
        assert self._one(spark, "B'1010' || B'01'") == "101001"
        assert self._one(spark, "bitcat(B'10', B'01')") == "1001"
        assert self._one(spark, "substring(B'110101' from 2 for 3)") == "101"
        assert self._one(spark, "length(B'1010')") == 4

    def test_casts(self, spark):
        # int → bit(n): rightmost n bits of the two's-complement word
        assert self._one(spark, "10::bit(4)") == "1010"
        assert self._one(spark, "(-2)::bit(4)") == "1110"
        assert self._one(spark, "0::bit(4)") == "0000"
        assert self._one(spark, "259::bit(8)") == "00000011"
        # bit-string → bit(n): zero-pad / truncate on the right
        assert self._one(spark, "B'10'::bit(4)") == "1000"
        assert self._one(spark, "B'110101'::bit(4)") == "1101"
        # varbit(n) truncates only
        assert self._one(spark, "B'110101'::varbit(3)") == "110"
        assert self._one(spark, "B'10'::varbit(4)") == "10"


class TestWithOrdinality:
    """unnest(X) WITH ORDINALITY (gram.y func_table, PG 9.4)."""

    def _rows(self, spark, sql):
        return [tuple(r) for r in pg_sql(spark, sql).collect()]

    def test_basic(self, spark):
        out = self._rows(
            spark,
            "SELECT * FROM unnest(ARRAY[10,20,30]) WITH ORDINALITY AS t(v, ord)",
        )
        assert out == [(10, 1), (20, 2), (30, 3)]

    def test_filter_on_ordinality(self, spark):
        out = self._rows(
            spark,
            "SELECT ord, v FROM unnest(ARRAY['a','b']) WITH ORDINALITY "
            "AS t(v, ord) WHERE ord = 2",
        )
        assert out == [(2, "b")]

    def test_default_column_names(self, spark):
        row = pg_sql(
            spark, "SELECT * FROM unnest(ARRAY[5]) WITH ORDINALITY"
        ).collect()[0]
        assert row.unnest == 5 and row.ordinality == 1

    def test_plain_unnest_unchanged(self, spark):
        out = self._rows(spark, "SELECT unnest(ARRAY[1,2]) AS u")
        assert out == [(1,), (2,)]

    def test_generate_series_with_ordinality(self, spark):
        out = self._rows(
            spark, "SELECT * FROM generate_series(1,3) WITH ORDINALITY AS g(x, n)"
        )
        assert out == [(1, 1), (2, 2), (3, 3)]

    def test_non_initial_item_is_lateral(self, spark):
        out = self._rows(
            spark,
            "SELECT t.k, u.v, u.o FROM (SELECT 1 AS k, ARRAY[7,8] AS a) t, "
            "unnest(t.a) WITH ORDINALITY AS u(v, o)",
        )
        assert out == [(1, 7, 1), (1, 8, 2)]


class TestFromSrfItems:
    """Set-returning functions as FROM items (nodeFunctionscan.c)."""

    def _rows(self, spark, sql):
        return [tuple(r) for r in pg_sql(spark, sql).collect()]

    def test_cross_join_lateral_generate_series(self, spark):
        out = self._rows(
            spark,
            "SELECT t.n, x FROM (SELECT 2 AS n) t "
            "CROSS JOIN LATERAL generate_series(1, t.n) AS g(x) ORDER BY x",
        )
        assert out == [(2, 1), (2, 2)]

    def test_multidimensional_unnest_yields_scalars(self, spark):
        # arrayfuncs.c array_unnest walks the flat data array
        out = self._rows(spark, "SELECT * FROM unnest(ARRAY[[1,2],[3,4]]) u")
        assert out == [(1,), (2,), (3,), (4,)]


class TestOperatorAndClauseSpellings:
    """PG spellings Spark lacks, each checked against PG's answer."""

    def _rows(self, spark, sql):
        return [tuple(r) for r in pg_sql(spark, sql).collect()]

    def test_factorial_operators(self, spark):
        assert self._rows(spark, "SELECT 5 ! AS f") == [(120,)]
        assert self._rows(spark, "SELECT !! 5 AS f") == [(120,)]

    def test_prefix_math_operators(self, spark):
        assert self._rows(spark, "SELECT |/ 25.0 AS r") == [(5.0,)]
        assert self._rows(spark, "SELECT ||/ 27.0 AS r") == [(3.0,)]
        assert self._rows(spark, "SELECT @ -5 AS a") == [(5,)]

    def test_offset_before_limit(self, spark):
        out = self._rows(
            spark,
            "SELECT x FROM (VALUES (1), (2), (3)) v(x) ORDER BY x OFFSET 1 LIMIT 1",
        )
        assert out == [(2,)]

    def test_interval_unit_alias(self, spark):
        (i,), = self._rows(spark, "SELECT interval '2 mins' AS i")
        assert i.total_seconds() == 120

    def test_float_to_int_cast_rounds_half_even(self, spark):
        # float8 → int4 uses rint (float.c dtoi4)
        out = self._rows(
            spark,
            "SELECT CAST(CAST(2.5 AS FLOAT) AS INT) AS a, "
            "CAST(CAST(3.5 AS FLOAT) AS INT) AS b",
        )
        assert out == [(2, 4)]

    def test_large_objects_rejected(self):
        with pytest.raises(NotImplementedError, match="lo_import"):
            transpile("SELECT lo_import('/tmp/x')")

    def test_named_window_with_frame(self, spark):
        out = self._rows(
            spark,
            "SELECT sum(x) OVER (w ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s "
            "FROM (VALUES (1), (2), (3)) v(x) WINDOW w AS (ORDER BY x) ORDER BY x",
        )
        assert out == [(1,), (3,), (5,)]

    def test_rollup_on_output_alias(self, spark):
        out = self._rows(
            spark,
            "SELECT x % 2 AS u, count(*) AS n FROM (VALUES (1), (2), (3)) v(x) "
            "GROUP BY ROLLUP (u) ORDER BY u",
        )
        assert out == [(0, 1), (1, 2), (None, 3)]

    def test_json_extract_path_text(self, spark):
        out = self._rows(
            spark, """SELECT json_extract_path_text('{"a":{"b":1}}', 'a', 'b') AS j"""
        )
        assert out == [("1",)]

    def test_div_truncates_toward_zero(self, spark):
        assert self._rows(spark, "SELECT div(-7, 2) AS d") == [(-3,)]


class TestCallLoweringForms:
    """Call forms of the function lowerings that only these cases take,
    each checked against PG's answer."""

    def _rows(self, spark, sql):
        return [tuple(r) for r in pg_sql(spark, sql).collect()]

    def test_one_argument_trunc_keeps_the_sign(self, spark):
        assert self._rows(spark, "SELECT trunc(2.7) AS a, trunc(-2.7) AS b") == [(2, -2)]

    def test_date_part_epoch_and_eras(self, spark):
        out = self._rows(
            spark,
            "SELECT date_part('epoch', TIMESTAMP '1970-01-02 00:00:00') AS e, "
            "date_part('century', DATE '2000-12-31') AS c, "
            "date_part('millennium', DATE '2001-01-01') AS m, "
            "date_part('decade', DATE '1999-06-01') AS d",
        )
        assert out == [(86400, 20, 3, 199)]

    def test_date_part_epoch_of_interval(self, spark):
        # date_part and EXTRACT share one field lowering
        out = self._rows(spark, "SELECT date_part('epoch', interval '1 day 2 hours') AS e")
        assert out == [(93600,)]

    def test_fm_numeric_template_with_decimals(self, spark):
        assert self._rows(spark, "SELECT to_char(12.5, 'FM99.99') AS s") == [("12.5",)]

    def test_regexp_replace_global_insensitive_column_pattern(self, spark):
        out = self._rows(
            spark,
            "SELECT regexp_replace('aBab', p, 'X', 'gi') AS r FROM (SELECT 'b' AS p) t",
        )
        assert out == [("aXaX",)]

    def test_regexp_replace_first_match_replacement_escapes(self, spark):
        out = self._rows(
            spark,
            "SELECT regexp_replace('abc', 'b', '[\\&]') AS a, "
            "regexp_replace('abc', 'b', '$') AS b, "
            "regexp_replace('abc', 'b', '\\\\') AS c",
        )
        assert out == [("a[b]c", "a$c", "a\\c")]

    def test_regexp_split_to_array_insensitive_column_pattern(self, spark):
        out = self._rows(
            spark,
            "SELECT regexp_split_to_array('aXbxc', p, 'i') AS a FROM (SELECT 'x' AS p) t",
        )
        assert out == [(["a", "b", "c"],)]

    def test_substr_start_clamped_below_one(self, spark):
        # a greatest() start can still be below 1, so it is clipped too
        out = self._rows(spark, "SELECT substr('hello', greatest(-1, -2), 3) AS s")
        assert out == [("h",)]

    def test_sha1_digest(self, spark):
        out = self._rows(spark, "SELECT encode(digest('abc', 'sha1'), 'hex') AS h")
        assert out == [("a9993e364706816aba3e25717850c26c9cd0d89d",)]


class TestQuoteAndJsonComposition:
    """quote_ident/quote_literal (quote.c), array_remove/array_replace
    (arrayfuncs.c), json_build_object/json_agg/row_to_json (json.c), and
    the scan.l ''-doubling / E'' backslash-quote literal rules."""

    def _one(self, spark, expr):
        return pg_sql(spark, f"SELECT {expr} AS v").collect()[0].v

    def test_quote_ident(self, spark):
        assert self._one(spark, "quote_ident('simple')") == "simple"
        assert self._one(spark, "quote_ident('Mixed Case')") == '"Mixed Case"'
        assert self._one(spark, "quote_ident('we\"ird')") == '"we""ird"'

    def test_quote_funcs_are_strict(self, spark):
        """quote.c quote_ident/quote_literal are STRICT — NULL in, NULL
        out; the template must not pick up the user-concat NULL-skip
        rewrite (which would return '""' / '''''')."""
        assert self._one(spark, "quote_ident(CAST(NULL AS STRING))") is None
        assert self._one(spark, "quote_literal(CAST(NULL AS STRING))") is None

    def test_quote_literal_column(self, spark):
        spark.createDataFrame([("O'Brien",)], "name string").createOrReplaceTempView(
            "__qlit"
        )
        row = pg_sql(
            spark, "SELECT quote_literal(name) AS q FROM __qlit"
        ).collect()[0]
        assert row.q == "'O''Brien'"
        assert self._one(spark, "quote_literal(42)") == "'42'"
        assert self._one(spark, "quote_nullable(NULL)") == "NULL"
        assert self._one(spark, "quote_nullable('x')") == "'x'"

    def test_array_mutation(self, spark):
        assert self._one(spark, "array_remove(ARRAY[1,2,3,2], 2)") == [1, 3]
        assert self._one(spark, "array_remove(ARRAY[1,NULL,2], NULL)") == [1, 2]
        assert self._one(spark, "array_replace(ARRAY[1,2,3,2], 2, 9)") == [1, 9, 3, 9]
        assert self._one(spark, "array_lower(ARRAY[7], 1)") == 1
        assert self._one(spark, "array_ndims(ARRAY[7,8])") == 1

    def test_json_builders(self, spark):
        assert (
            self._one(spark, "json_build_object('a', 1, 'b', 'x')")
            == '{"a":1,"b":"x"}'
        )
        assert self._one(spark, "json_build_array(1, 2, 3)") == "[1,2,3]"
        r = pg_sql(
            spark, "SELECT row_to_json(t) AS v FROM (SELECT 1 AS a, 'x' AS b) t"
        ).collect()[0]
        assert r.v == '{"a":1,"b":"x"}'

    def test_row_to_json_of_anonymous_row(self, spark):
        # PG names the fields of an anonymous record f1…fn
        r = pg_sql(
            spark, "SELECT row_to_json(ROW(1, 'a')) AS j, to_json(ROW(2, 'b')) AS k"
        ).collect()[0]
        assert r.j == '{"f1":1,"f2":"a"}'
        assert r.k == '{"f1":2,"f2":"b"}'

    def test_json_aggregates(self, spark):
        r = pg_sql(
            spark,
            "SELECT json_agg(x) AS v FROM (VALUES (1),(2),(3)) t(x)",
        ).collect()[0]
        assert r.v == "[1,2,3]"
        r = pg_sql(
            spark,
            "SELECT json_object_agg(k, n) AS v FROM (VALUES ('b',2),('a',1)) t(k,n)",
        ).collect()[0]
        assert r.v == '{"a":1,"b":2}'

    def test_generate_subscripts(self, spark):
        r = pg_sql(
            spark,
            "SELECT generate_subscripts(ARRAY['a','b','c'], 1) AS i",
        ).collect()
        assert sorted(x.i for x in r) == [1, 2, 3]

    def test_doubled_quote_literals(self, spark):
        assert self._one(spark, "'O''Brien'") == "O'Brien"
        assert self._one(spark, "''''") == "'"
        assert self._one(spark, "length('a''b')") == 3
        assert self._one(spark, "'a''\"b'") == "a'\"b"

    def test_estring_backslash_quote(self, spark):
        assert self._one(spark, r"E'it\'s'") == "it's"
        assert self._one(spark, r"E'dq''d'") == "dq'd"


class TestFormatAndIntrospection:
    """format() (varlena.c text_format), pg_typeof (misc_utils),
    version(), ORDER BY USING op (gram.y sortby_using), and
    regexp_matches (adt/regexp.c SETOF text[])."""

    def _one(self, spark, expr):
        return pg_sql(spark, f"SELECT {expr} AS v").collect()[0].v

    def test_format_conversions(self, spark):
        assert (
            self._one(spark, "format('INSERT INTO %I VALUES(%L)', 'my tbl', 'O''x')")
            == "INSERT INTO \"my tbl\" VALUES('O''x')"
        )
        assert self._one(spark, "format('%1$s %1$s %2$s', 'a', 'b')") == "a a b"
        # PG: %s renders NULL as '', %L as unquoted NULL
        assert self._one(spark, "format('[%s] [%L]', NULL, NULL)") == "[] [NULL]"
        assert self._one(spark, "format('100%% of %s', 'it')") == "100% of it"
        # %I with NULL raises, as text_format does
        import pytest as _pytest
        with _pytest.raises(Exception, match="SQL identifier"):
            pg_sql(
                spark, "SELECT format('%I', CAST(NULL AS STRING)) AS v"
            ).collect()

    def test_format_width_specifiers(self, spark):
        # text.sql:112-128 / text.out:413-459 vectors
        assert self._one(spark, "format('>>%10s<<', 'Hello')") == (
            ">>     Hello<<"
        )
        assert self._one(spark, "format('>>%10s<<', NULL)") == (
            ">>          <<"
        )
        assert self._one(spark, "format('>>%-10s<<', 'Hello')") == (
            ">>Hello     <<"
        )
        assert self._one(spark, "format('>>%1$10s<<', 'Hello')") == (
            ">>     Hello<<"
        )
        assert self._one(spark, "format('>>%1$-10I<<', 'Hello')") == (
            '>>"Hello"   <<'
        )
        assert self._one(spark, "format('>>%-s<<', 'Hello')") == ">>Hello<<"
        assert self._one(spark, "format('>>%10L<<', NULL)") == (
            ">>      NULL<<"
        )

    def test_format_star_widths(self, spark):
        # runtime widths: negative left-justifies, NULL is width 0
        assert self._one(spark, "format('>>%2$*1$L<<', 10, 'Hello')") == (
            ">>   'Hello'<<"
        )
        assert self._one(spark, "format('>>%2$*1$L<<', 10, NULL)") == (
            ">>      NULL<<"
        )
        assert self._one(spark, "format('>>%2$*1$L<<', -10, NULL)") == (
            ">>NULL      <<"
        )
        assert self._one(spark, "format('>>%*s<<', 10, 'Hello')") == (
            ">>     Hello<<"
        )
        assert self._one(spark, "format('>>%*1$s<<', 10, 'Hello')") == (
            ">>     Hello<<"
        )
        assert self._one(
            spark, "format('>>%2$*1$L<<', CAST(NULL AS INT), 'Hello')"
        ) == ">>'Hello'<<"
        assert self._one(spark, "format('>>%2$*1$L<<', 0, 'Hello')") == (
            ">>'Hello'<<"
        )

    def test_pg_typeof(self, spark):
        row = pg_sql(
            spark,
            "SELECT pg_typeof(1) AS a, pg_typeof('x'::text) AS b, "
            "pg_typeof(1.5::float8) AS c, pg_typeof(ARRAY[1,2]) AS d, "
            "pg_typeof(DATE '2020-01-01') AS e",
        ).collect()[0]
        assert (row.a, row.b, row.c, row.d, row.e) == (
            "integer", "text", "double precision", "integer[]", "date",
        )

    def test_version_is_pg_style(self, spark):
        assert self._one(spark, "version()").startswith("PostgreSQL 9.4")

    def test_order_by_using(self, spark):
        asc = pg_sql(
            spark, "SELECT x FROM (VALUES (3),(1),(2)) t(x) ORDER BY x USING <"
        ).collect()
        dsc = pg_sql(
            spark, "SELECT x FROM (VALUES (3),(1),(2)) t(x) ORDER BY x USING >"
        ).collect()
        assert [r.x for r in asc] == [1, 2, 3]
        assert [r.x for r in dsc] == [3, 2, 1]

    def test_regexp_matches(self, spark):
        rows = pg_sql(
            spark, "SELECT regexp_matches('foo123bar456', '[0-9]+') AS m"
        ).collect()
        assert [r.m for r in rows] == [["123"]]  # first match only, SETOF
        rows = pg_sql(
            spark,
            "SELECT regexp_matches('foobarbequebaz', '(b[^b]+)(b[^b]+)') AS m",
        ).collect()
        assert [r.m for r in rows] == [["bar", "beque"]]
        rows = pg_sql(
            spark, "SELECT regexp_matches('foo123bar456', '[0-9]+', 'g') AS m"
        ).collect()
        assert [r.m for r in rows] == [["123"], ["456"]]
        assert (
            pg_sql(spark, "SELECT regexp_matches('foo', 'zzz') AS m").collect()
            == []
        )
        rows = pg_sql(
            spark, "SELECT regexp_matches('FOO', 'foo', 'i') AS m"
        ).collect()
        assert [r.m for r in rows] == [["FOO"]]
        # 'i' flag must not eat leading e/E pattern chars (advice r5)
        rows = pg_sql(
            spark,
            "SELECT regexp_matches('go EAST then west', 'east|west', 'gi') AS m",
        ).collect()
        assert [r.m for r in rows] == [["EAST"], ["west"]]

    def test_misc_utils(self, spark):
        row = pg_sql(
            spark,
            "SELECT extract(isodow FROM DATE '2020-01-05') AS sun, "
            "date_part('isodow', DATE '2020-01-06') AS mon, "
            "num_nonnulls(1, NULL, 2) AS nn, num_nulls(1, NULL, NULL) AS nl, "
            "parse_ident('\"Mixed\".c') AS pi, starts_with('abc', 'ab') AS sw, "
            "isfinite(DATE '2020-01-01') AS fin, isfinite(NULL::date) AS nfin",
        ).collect()[0]
        assert (row.sun, row.mon) == (7, 1)
        assert (row.nn, row.nl) == (2, 2)
        assert row.pi == ["Mixed", "c"]
        assert row.sw is True and row.fin is True and row.nfin is None

    def test_regexp_split_to_table(self, spark):
        rows = pg_sql(
            spark, "SELECT regexp_split_to_table('a,b,,c', ',') AS v"
        ).collect()
        assert [r.v for r in rows] == ["a", "b", "", "c"]

    def test_row_constructor(self, spark):
        assert self._one(spark, "ROW(1, 'x') = ROW(1, 'x')") is True
        assert self._one(spark, "ROW(1, 2) < ROW(1, 3)") is True

    def test_like_operator_spellings(self, spark):
        """like.c operator names: ~~ / ~~* / !~~ / !~~* (the lexer splits
        them; the fold must not touch prefix bitwise-not or regex ops)."""
        row = pg_sql(
            spark,
            "SELECT 'ABC' ~~* 'abc' AS a, 'ABC' ~~ 'ABC' AS b, "
            "'A' !~~ 'B' AS c, 'A' !~~* 'a%' AS d, ~ 5 AS e, "
            "'abc' ~ 'b' AS f, 'ABC' ~* 'abc' AS g",
        ).collect()[0]
        assert (row.a, row.b, row.c, row.d) == (True, True, True, False)
        assert row.e == -6 and row.f is True and row.g is True

    def test_between_symmetric(self, spark):
        row = pg_sql(
            spark,
            "SELECT 2 BETWEEN SYMMETRIC 3 AND 1 AS a, "
            "5 BETWEEN SYMMETRIC 3 AND 1 AS b, "
            "2 NOT BETWEEN SYMMETRIC 3 AND 1 AS c, "
            "2 BETWEEN 1 AND 3 AS d",
        ).collect()[0]
        assert (row.a, row.b, row.c, row.d) == (True, False, False, True)

    def test_tablesample(self, spark):
        spark.createDataFrame([(i,) for i in range(50)], "x int") \
            .createOrReplaceTempView("ts_probe")
        assert self._one(
            spark,
            "(SELECT count(*) FROM ts_probe TABLESAMPLE BERNOULLI(100))",
        ) == 50
        assert self._one(
            spark,
            "(SELECT count(*) FROM ts_probe AS a TABLESAMPLE SYSTEM(100))",
        ) == 50
        sampled = self._one(
            spark,
            "(SELECT count(*) FROM ts_probe TABLESAMPLE BERNOULLI(50) "
            "REPEATABLE(42))",
        )
        assert 0 <= sampled <= 50

    def test_array_agg_distinct_ordered(self, spark):
        assert self._one(
            spark,
            "(SELECT array_agg(DISTINCT x ORDER BY x) "
            "FROM (VALUES (2),(1),(2),(3)) t(x))",
        ) == [1, 2, 3]
        assert self._one(
            spark,
            "(SELECT array_agg(DISTINCT x ORDER BY x DESC) "
            "FROM (VALUES (2),(1),(2)) t(x))",
        ) == [2, 1]

    def test_unnest_multi_and_rows_from(self, spark):
        """Multi-argument unnest / ROWS FROM zip their outputs with NULL
        padding (nodeFunctionscan.c); SRF FROM items are implicitly
        lateral (parse_clause.c)."""
        rows = pg_sql(
            spark,
            "SELECT * FROM unnest(ARRAY[1,2], ARRAY['a']) AS t(a, b)",
        ).collect()
        assert [(r.a, r.b) for r in rows] == [(1, "a"), (2, None)]
        rows = pg_sql(
            spark,
            "SELECT * FROM ROWS FROM (unnest(ARRAY['x','y']), "
            "generate_series(1,3)) AS t(s, n)",
        ).collect()
        assert [(r.s, r.n) for r in rows] == [("x", 1), ("y", 2), (None, 3)]
        rows = pg_sql(
            spark,
            "SELECT d, u FROM (SELECT ARRAY[1,2] AS a, 7 AS d) s, "
            "unnest(s.a) AS t(u)",
        ).collect()
        assert sorted((r.d, r.u) for r in rows) == [(7, 1), (7, 2)]

    def test_numeric_utilities(self, spark):
        row = pg_sql(
            spark,
            "SELECT trunc(42.4382, 2) AS t1, trunc(-42.4382, 2) AS t2, "
            "scale(8.41) AS sc, to_hex(255) AS hx, "
            "length(CAST(gen_random_uuid() AS text)) AS ul, "
            "pg_sleep(0) AS slp",
        ).collect()[0]
        assert float(row.t1) == 42.43 and float(row.t2) == -42.43
        assert row.sc == 2 and row.hx == "ff" and row.ul == 36
        assert row.slp is None

    def test_extract_epoch_from_interval(self, spark):
        row = pg_sql(
            spark,
            "SELECT extract(epoch FROM interval '1 hour') AS a, "
            "extract(epoch FROM interval '90 seconds') AS b, "
            "extract(epoch FROM TIMESTAMP '2020-01-01 00:00:00') AS c",
        ).collect()[0]
        assert (row.a, row.b, row.c) == (3600, 90, 1577836800)

    def test_json_srfs(self, spark):
        """json.c/jsonfuncs.c SRFs: array elements (text), object keys
        (sorted, jsonb semantics), each_text (key,value rows), typeof."""
        rows = pg_sql(
            spark,
            'SELECT json_array_elements_text(\'[1,"x",{"y":2}]\') AS v',
        ).collect()
        assert [r.v for r in rows] == ["1", "x", '{"y":2}']
        assert pg_sql(
            spark, "SELECT json_array_elements_text('[]') AS v"
        ).collect() == []
        rows = pg_sql(
            spark, "SELECT json_object_keys('{\"b\":1,\"a\":2}') AS v"
        ).collect()
        assert [r.v for r in rows] == ["a", "b"]
        rows = pg_sql(
            spark,
            "SELECT * FROM (SELECT json_each_text('{\"a\":\"1\",\"b\":\"2\"}')) t",
        ).collect()
        assert sorted(tuple(r) for r in rows) == [("a", "1"), ("b", "2")]
        row = pg_sql(
            spark,
            "SELECT json_typeof('{\"a\":1}') AS o, json_typeof('[1]') AS a, "
            "json_typeof('\"s\"') AS s, json_typeof('3.4') AS n",
        ).collect()[0]
        assert (row.o, row.a, row.s, row.n) == ("object", "array", "string", "number")

    def test_lock_clauses_and_fetch_first(self, spark):
        """FOR UPDATE/SHARE row locks strip (snapshot isolation no-ops);
        ANSI FETCH FIRST/NEXT → LIMIT with Spark clause ordering."""
        spark.sql("SELECT * FROM VALUES (1),(2),(3) t(x)") \
            .createOrReplaceTempView("lk_probe")
        rows = pg_sql(
            spark, "SELECT x FROM lk_probe WHERE x = 1 FOR UPDATE"
        ).collect()
        assert [r.x for r in rows] == [1]
        rows = pg_sql(
            spark, "SELECT x FROM lk_probe FOR NO KEY UPDATE SKIP LOCKED"
        ).collect()
        assert sorted(r.x for r in rows) == [1, 2, 3]
        rows = pg_sql(
            spark,
            "SELECT x FROM lk_probe ORDER BY x FETCH FIRST 2 ROWS ONLY",
        ).collect()
        assert [r.x for r in rows] == [1, 2]
        rows = pg_sql(
            spark,
            "SELECT x FROM lk_probe ORDER BY x OFFSET 1 ROW FETCH NEXT ROW ONLY",
        ).collect()
        assert [r.x for r in rows] == [2]
        # SUBSTRING ... FOR must survive the lock-clause strip
        assert pg_sql(
            spark, "SELECT substring('hello' FROM 2 FOR 3) AS v"
        ).collect()[0].v == "ell"

    def test_age_and_justify(self, spark):
        """timestamp.c timestamp_age / interval_justify_* — symbolic
        calendar difference with PG's exact text rendering (the
        mixed-interval result type has no Spark analog; documented in
        functions/horology.py).  43y/9m/27d is PG's own doc example."""
        row = pg_sql(
            spark,
            "SELECT age(TIMESTAMP '2001-04-10', TIMESTAMP '1957-06-13') AS a, "
            "age(TIMESTAMP '1957-06-13', TIMESTAMP '2001-04-10') AS b, "
            "age(TIMESTAMP '2020-01-01', TIMESTAMP '2020-01-01') AS c, "
            "age(TIMESTAMP '2020-03-01', TIMESTAMP '2020-01-31') AS d, "
            "age(TIMESTAMP '2020-01-02 03:04:05.5', TIMESTAMP '2020-01-01') AS e",
        ).collect()[0]
        assert row.a == "43 years 9 mons 27 days"
        assert row.b == "-43 years -9 mons -27 days"
        assert row.c == "00:00:00"
        assert row.d == "1 mon 1 day"
        assert row.e == "1 day 03:04:05.5"
        row = pg_sql(
            spark,
            "SELECT justify_days(interval '35 days') AS jd, "
            "justify_hours(interval '27 hours') AS jh, "
            "justify_interval(interval '755 hours') AS ji",
        ).collect()[0]
        assert row.jd == "1 mon 5 days"
        assert row.jh == "1 day 03:00:00"
        assert row.ji == "1 mon 1 day 11:00:00"

    def test_justify_negative_intervals(self, spark):
        """timestamp.c TMODULO truncates toward zero, so every bucket
        shares the interval's sign: -25 hours justifies to
        -1 days -01:00:00, never -2 days +23 (advice r5)."""
        row = pg_sql(
            spark,
            "SELECT justify_hours(interval '-25 hours') AS jh, "
            "justify_days(interval '-35 days') AS jd, "
            "justify_interval(interval '-755 hours') AS ji",
        ).collect()[0]
        assert row.jh == "-1 days -01:00:00"
        assert row.jd == "-1 mons -5 days"
        assert row.ji == "-1 mons -1 days -11:00:00"

    def test_concat_skips_nulls(self, spark):
        """varlena.c text_concat is variadic and skips NULLs (|| does
        not) — Spark's concat nulls-out, so the lowering uses
        concat_ws('')."""
        row = pg_sql(
            spark,
            "SELECT concat('a', 1, NULL, 'b') AS a, concat(NULL, NULL) AS b, "
            "'a' || NULL AS c",
        ).collect()[0]
        assert (row.a, row.b, row.c) == ("a1b", "", None)

    def test_make_interval_split_types(self, spark):
        row = pg_sql(
            spark,
            "SELECT make_interval(0, 0, 0, 2, 3) AS dt, "
            "TIMESTAMP '2020-01-01' + make_interval(0, 0, 1, 1) AS w, "
            "TIMESTAMP '2020-01-01' + make_interval(1, 2) AS ym",
        ).collect()[0]
        import datetime

        assert row.dt == datetime.timedelta(days=2, hours=3)
        assert row.w == datetime.datetime(2020, 1, 9)
        assert row.ym == datetime.datetime(2021, 3, 1)

    def test_to_json_scalar_and_jsonb_aliases(self, spark):
        """json.c to_json renders ANY value (Spark's complex-only to_json
        is wrapped); jsonb_* aggregate aliases."""
        row = pg_sql(
            spark,
            "SELECT to_json(5) AS n, to_json('abc'::text) AS s, "
            "to_jsonb(true) AS b, to_json(NULL::int4) AS nl, "
            "array_to_json(ARRAY[1,2]) AS a",
        ).collect()[0]
        assert (row.n, row.s, row.b, row.nl, row.a) == (
            "5", '"abc"', "true", None, "[1,2]",
        )
        r = pg_sql(
            spark, "SELECT jsonb_agg(x) AS v FROM (VALUES (1),(2)) t(x)"
        ).collect()[0]
        assert r.v == "[1,2]"
        r = pg_sql(
            spark,
            "SELECT jsonb_object_agg(k, n) AS v FROM (VALUES ('a',1)) t(k,n)",
        ).collect()[0]
        assert r.v == '{"a":1}'

    def test_hstore_literal_casts_and_operators(self, spark):
        """hstore_io.c input parser via ::hstore / hstore(text); -> fetch
        and ? exists route to map access (not the json arrow family)."""
        row = pg_sql(
            spark,
            "SELECT ('a=>1, b=>2'::hstore) -> 'b' AS f, "
            "('a=>1'::hstore) ? 'a' AS e1, ('a=>1'::hstore) ? 'z' AS e0, "
            "('\"x y\"=>\"q r\"'::hstore) -> 'x y' AS q, "
            "('a=>NULL'::hstore) -> 'a' AS nl, "
            "hstore('k', 'v') -> 'k' AS f2, "
            "'{\"a\": 1}' -> 'a' AS j",
        ).collect()[0]
        assert (row.f, row.e1, row.e0, row.q, row.nl, row.f2, row.j) == (
            "2", True, False, "q r", None, "v", "1",
        )


class TestContribFunctions:
    """contrib modules the reference ships: pg_trgm (trgm_op.c),
    fuzzystrmatch, earthdistance — all pure JVM expressions."""

    def _one(self, spark, expr):
        return pg_sql(spark, f"SELECT {expr} AS v").collect()[0].v

    def test_trgm_similarity(self, spark):
        # the pg_trgm doc example: similarity('word','two words') = 0.36...
        assert abs(self._one(spark, "similarity('word', 'two words')") - 0.36363637) < 1e-6
        assert self._one(spark, "similarity('hello', 'hello')") == 1.0
        assert self._one(spark, "similarity('abc', 'xyz')") == 0.0
        assert self._one(spark, "similarity('', 'x')") == 0.0

    def test_show_trgm(self, spark):
        # trgm_op.c generate_trgm: two leading + one trailing pad, sorted
        assert self._one(spark, "show_trgm('cat')") == ["  c", " ca", "at ", "cat"]
        assert self._one(spark, "show_trgm('two words')") == [
            "  t", "  w", " tw", " wo", "ds ", "ord", "rds", "two", "wo ", "wor",
        ]

    def test_fuzzystrmatch(self, spark):
        row = pg_sql(
            spark,
            "SELECT levenshtein('kitten', 'sitting') AS lev, "
            "levenshtein_less_equal('kitten', 'sitting', 2) AS lev2, "
            "soundex('Robert') AS sx, difference('Robert', 'Rupert') AS d1, "
            "difference('Ann', 'Zach') AS d2",
        ).collect()[0]
        assert row.lev == 3
        assert row.lev2 == 3  # > k may report k+1 (documented contract)
        assert row.sx == "R163" and row.d1 == 4
        assert row.d2 <= 2

    def test_earth_distance_operator(self, spark):
        # Chicago -> NYC great-circle ≈ 713 statute miles (earthdistance)
        d = self._one(
            spark, "point '(-87.6,41.8)' <@> point '(-73.9,40.7)'"
        )
        assert 700 < d < 730
        assert self._one(spark, "point '(0,0)' <@> point '(0,0)'") == 0.0


class TestIntarrayPgcrypto:
    """contrib/intarray (_int_op.c) and pgcrypto digest (px.c)."""

    def test_intarray(self, spark):
        row = pg_sql(
            spark,
            "SELECT idx(ARRAY[10,20,30], 20) AS ix, idx(ARRAY[10], 99) AS ix0, "
            "icount(ARRAY[1,2,3]) AS ic, sort(ARRAY[3,1,2]) AS so, "
            "uniq(ARRAY[1,1,2,2,1]) AS un, "
            "subarray(ARRAY[1,2,3,4,5], 2, 3) AS s3, "
            "subarray(ARRAY[1,2,3,4,5], 4) AS s2",
        ).collect()[0]
        assert row.ix == 2 and row.ix0 == 0 and row.ic == 3
        assert row.so == [1, 2, 3]
        assert row.un == [1, 2, 1]  # uniq collapses ADJACENT dups only
        assert row.s3 == [2, 3, 4] and row.s2 == [4, 5]

    def test_digest(self, spark):
        row = pg_sql(
            spark,
            "SELECT encode(digest('hello', 'sha256'), 'hex') AS h, "
            "encode(digest('hello', 'md5'), 'hex') AS m",
        ).collect()[0]
        assert row.h == (
            "2cf24dba5fb0a30e26e83b2ac5b9e29e1b161e5c1fa7425e73043362938b9824"
        )
        assert row.m == "5d41402abc4b2a76b9719d911017c592"
        with pytest.raises(NotImplementedError, match="digest algorithm"):
            pg_sql(spark, "SELECT digest('x', 'crc32')")


class TestCollateAndLikeEscape:
    def test_collate_clause_strips(self, spark):
        # PG "C"/"POSIX" order by byte value = Spark's UTF8_BINARY default
        r = pg_sql(
            spark, 'SELECT \'abc\' COLLATE "C" < \'abd\' AS v'
        ).collect()[0]
        assert r.v is True

    def test_like_escape_backslash(self, spark):
        r = pg_sql(
            spark,
            r"SELECT 'a_b' LIKE 'a\_b' ESCAPE '\' AS e1, "
            r"'axb' LIKE 'a\_b' ESCAPE '\' AS e2, "
            r"'50%' LIKE '%\%%' ESCAPE '\' AS e3, "
            "'a#b' LIKE 'a#_b' ESCAPE '#' AS e4",
        ).collect()[0]
        assert (r.e1, r.e2, r.e3) == (True, False, True)
        assert r.e4 is False  # non-backslash escapes pass through natively


class TestByteaMoney:
    def test_get_set_byte(self, spark):
        row = pg_sql(
            spark,
            "SELECT get_byte('abc'::bytea, 1) AS gb, "
            "encode(set_byte('abc'::bytea, 1, 64), 'hex') AS sb",
        ).collect()[0]
        assert row.gb == 98 and row.sb == "614063"

    def test_money_cast(self, spark):
        row = pg_sql(
            spark, "SELECT ('12.5'::money)::float8 AS m"
        ).collect()[0]
        assert row.m == 12.5


class TestLeftRightNegative:
    def test_pg_negative_counts(self, spark):
        # varlena.c text_left/text_right: -n = all but the last/first n
        row = pg_sql(
            spark,
            "SELECT left('hello', -2) AS l, right('hello', -2) AS r, "
            "left('hello', 2) AS lp, right('hello', 2) AS rp, "
            "right('hello', 0) AS rz",
        ).collect()[0]
        assert (row.l, row.r, row.lp, row.rp, row.rz) == (
            "hel", "llo", "he", "lo", "",
        )


class TestSubstrLikeAnyAge:
    def test_substr_nonpositive_start(self, spark):
        # varlena.c text_substr: start < 1 clips from position 1 with the
        # window shortened — Spark's negative start counts from the END
        row = pg_sql(
            spark,
            "SELECT substr('hello', -1, 3) AS a, substr('hello', 0, 2) AS b, "
            "substr('hello', 2, 2) AS c, substr('hello', -2) AS d",
        ).collect()[0]
        assert (row.a, row.b, row.c, row.d) == ("h", "h", "el", "hello")

    def test_like_any_all_over_arrays(self, spark):
        row = pg_sql(
            spark,
            "SELECT 'FOO' ILIKE any(ARRAY['f%','z%']) AS a, "
            "'FOO' LIKE any(ARRAY['f%','z%']) AS b, "
            "'foo' LIKE ALL(ARRAY['f%','%o']) AS c",
        ).collect()[0]
        assert (row.a, row.b, row.c) == (True, False, True)

    def test_age_one_arg(self, spark):
        # ages against today's midnight — just pin shape + determinism
        row = pg_sql(
            spark,
            "SELECT age(TIMESTAMP '2001-04-10') = age(TIMESTAMP '2001-04-10') AS same",
        ).collect()[0]
        assert row.same is True


class TestIsoyearLocaltimestamp:
    def test_isoyear(self, spark):
        # date2isoyear: the ISO year is the year of that week's Thursday
        row = pg_sql(
            spark,
            "SELECT extract(isoyear FROM date '2020-01-01') AS a, "
            "extract(isoyear FROM date '2021-01-01') AS b, "
            "date_part('isoyear', date '2005-01-01') AS c",
        ).collect()[0]
        assert (row.a, row.b, row.c) == (2020, 2020, 2004)

    def test_bare_localtimestamp(self, spark):
        row = pg_sql(
            spark, "SELECT localtimestamp IS NOT NULL AS v"
        ).collect()[0]
        assert row.v is True


class TestExtractSubsecondFields:
    """timestamp.c: microseconds/milliseconds are SECONDS INCLUDING
    the fraction, scaled (float8 like date_part)."""

    def _one(self, spark, expr):
        return pg_sql(spark, f"SELECT {expr} AS v").collect()[0].v

    def test_microseconds(self, spark):
        assert self._one(
            spark,
            "extract(microseconds FROM TIMESTAMP '2020-01-01 01:02:03.5')",
        ) == 3500000.0

    def test_milliseconds(self, spark):
        assert self._one(
            spark,
            "extract(milliseconds FROM TIMESTAMP '2020-01-01 01:02:03.5')",
        ) == 3500.0

    def test_date_part_form(self, spark):
        assert self._one(
            spark,
            "date_part('microseconds', TIMESTAMP '2020-01-01 01:02:03.25')",
        ) == 3250000.0


class TestDateArithmeticCastForms:
    """date.c date_mi / date_pl_interval over ::date cast operands —
    previously only the DATE 'lit' typed-literal form lowered."""

    def _one(self, spark, expr):
        return pg_sql(spark, f"SELECT {expr} AS v").collect()[0].v

    def test_date_minus_date_cast_form(self, spark):
        assert self._one(
            spark, "'2020-01-10'::date - '2020-01-01'::date"
        ) == 9

    def test_column_minus_date_cast(self, spark):
        spark.createDataFrame(
            [("2020-01-04",)], "s string"
        ).createOrReplaceTempView("dmc_t")
        assert pg_sql(
            spark,
            "SELECT s::date - '2020-01-01'::date AS v FROM dmc_t",
        ).collect()[0].v == 3

    def test_date_cast_plus_interval_promotes(self, spark):
        assert str(self._one(
            spark, "'2020-01-10'::date - INTERVAL '1 day'"
        )).startswith("2020-01-09")

    def test_date_plus_int_unaffected(self, spark):
        assert str(self._one(spark, "'2020-01-10'::date + 5")) == (
            "2020-01-15"
        )


class TestArraySubqueryConstructor:
    """ARRAY(SELECT ...) (gram.y ARRAY select_with_parens)."""

    def _one(self, spark, q):
        return pg_sql(spark, q).collect()[0][0]

    def test_ordered(self, spark):
        got = self._one(
            spark,
            "SELECT ARRAY(SELECT x FROM (VALUES (2),(1)) t(x) "
            "ORDER BY x) AS v",
        )
        assert list(got) == [1, 2]

    def test_ordered_desc_on_other_shape(self, spark):
        got = self._one(
            spark,
            "SELECT ARRAY(SELECT x FROM (VALUES (2),(1),(3)) t(x) "
            "WHERE x > 1 ORDER BY x DESC) AS v",
        )
        assert list(got) == [3, 2]

    def test_distinct_falls_to_unordered_collect(self, spark):
        got = self._one(
            spark,
            "SELECT ARRAY(SELECT DISTINCT x FROM (VALUES (1),(1)) t(x)) "
            "AS v",
        )
        assert list(got) == [1]

    def test_array_literal_ctor_unaffected(self, spark):
        assert list(self._one(spark, "SELECT ARRAY[3,1] AS v")) == [3, 1]


class TestBooleanSpellings:
    def test_on_off_prefixes(self, spark):
        row = pg_sql(
            spark,
            "SELECT 'on'::boolean AS a, 'off'::boolean AS b, "
            "'of'::bool AS c, 't'::boolean AS d",
        ).collect()[0]
        assert (row.a, row.b, row.c, row.d) == (True, False, False, True)


class TestQuantifiedValues:
    """x op ANY/ALL (VALUES ...) — the values_clause subquery form."""

    def test_any_all_values(self, spark):
        base = "SELECT a FROM (VALUES (1),(2)) t(a) WHERE a"
        assert len(pg_sql(
            spark, f"{base} = ANY(VALUES (1), (3))"
        ).collect()) == 1
        assert len(pg_sql(
            spark, f"{base} <> ALL(VALUES (3), (4))"
        ).collect()) == 2
        assert len(pg_sql(
            spark, f"{base} > ALL(VALUES (0), (1))"
        ).collect()) == 1


class TestSimilarSubstring:
    """SUBSTRING(x FROM pat FOR esc) — the SQL-standard SIMILAR
    substring (varlena.c textregexsubstr via similar_escape): esc+'\"'
    pairs mark the returned portion, the pattern covers the whole
    string, no markers returns the whole match."""

    def _one(self, spark, q):
        return pg_sql(spark, q).collect()[0][0]

    def test_doc_example(self, spark):
        assert self._one(
            spark,
            '''SELECT substring('foobar' from '%#"o_b#"%' for '#') AS v''',
        ) == "oob"

    def test_whole_string_anchor(self, spark):
        assert self._one(
            spark,
            '''SELECT substring('foobar' from '#"o_b#"%' for '#') AS v''',
        ) is None

    def test_no_markers_whole_match(self, spark):
        assert self._one(
            spark,
            "SELECT substring('foobar' from 'f%' for '#') AS v",
        ) == "foobar"

    def test_positional_and_posix_unaffected(self, spark):
        assert self._one(
            spark, "SELECT substring('Thomas' from 2 for 3) AS v"
        ) == "hom"
        assert self._one(
            spark, "SELECT substring('foobar' from 'o.b') AS v"
        ) == "oob"
