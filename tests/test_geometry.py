"""Geometric type surface (geo_ops.c subset; functions/geometry.py):
point/box/circle as PG literal text, arity-dispatched operators —
battery shapes follow src/test/regress/sql/point.sql, circle.sql,
box.sql."""

import math

import pytest

from greengage_spark.dialect import pg_sql

POINTS = "(0,0) (-10,0) (-3,4) (5.1,34.5) (-5,-12)".split()


@pytest.fixture()
def point_tbl(spark):
    rows = [(p,) for p in POINTS]
    spark.createDataFrame(rows, "f1 string").createOrReplaceTempView("point_tbl")
    return spark


def vals(df, col="f1"):
    return sorted(r[col] for r in df.collect())


class TestPointOps:
    def test_left_of(self, point_tbl):
        df = pg_sql(point_tbl,
                    "SELECT f1 FROM point_tbl WHERE f1 << point '(0.0,0.0)'")
        assert vals(df) == ["(-10,0)", "(-3,4)", "(-5,-12)"]

    def test_right_of_literal_first(self, point_tbl):
        df = pg_sql(point_tbl,
                    "SELECT f1 FROM point_tbl WHERE point '(0.0,0.0)' >> f1")
        assert vals(df) == ["(-10,0)", "(-3,4)", "(-5,-12)"]

    def test_below_above(self, point_tbl):
        # strict for point pairs (geo_ops.c point_below; point.out:52-64)
        below = pg_sql(point_tbl,
                       "SELECT f1 FROM point_tbl WHERE f1 <^ point '(0.0,0.0)'")
        assert vals(below) == ["(-5,-12)"]
        above = pg_sql(point_tbl,
                       "SELECT f1 FROM point_tbl WHERE point '(0.0,0.0)' >^ f1")
        assert vals(above) == ["(-5,-12)"]

    def test_same_as(self, point_tbl):
        df = pg_sql(point_tbl,
                    "SELECT f1 FROM point_tbl WHERE f1 ~= point '(5.1, 34.5)'")
        assert vals(df) == ["(5.1,34.5)"]

    def test_point_in_box(self, point_tbl):
        df = pg_sql(
            point_tbl,
            "SELECT f1 FROM point_tbl WHERE f1 <@ box '(0,0,100,100)'",
        )
        assert vals(df) == ["(0,0)", "(5.1,34.5)"]
        df2 = pg_sql(
            point_tbl,
            "SELECT f1 FROM point_tbl WHERE box '(0,0,100,100)' @> f1",
        )
        assert vals(df2) == vals(df)

    def test_distance(self, point_tbl):
        df = pg_sql(
            point_tbl,
            "SELECT f1, f1 <-> point '(0,0)' AS dist FROM point_tbl",
        )
        got = {r["f1"]: r["dist"] for r in df.collect()}
        assert got["(0,0)"] == 0.0
        assert got["(-10,0)"] == 10.0
        assert got["(-3,4)"] == 5.0
        assert got["(-5,-12)"] == 13.0
        assert abs(got["(5.1,34.5)"] - math.hypot(5.1, 34.5)) < 1e-9

    def test_point_constructor(self, spark):
        df = pg_sql(spark, "SELECT point(3, 4) <-> point(0, 0) AS d")
        assert df.collect()[0]["d"] == 5.0

    def test_point_cast_call(self, spark):
        # point('(1,2)') is PG's function-style cast of a literal
        df = pg_sql(spark, "SELECT point('(1,2)') AS p, point('(3,4)') <-> point(0, 0) AS d")
        row = df.collect()[0]
        assert row["p"] == "(1,2)" and row["d"] == 5.0


class TestCircle:
    def test_center_radius_diameter_area(self, spark):
        df = pg_sql(
            spark,
            "SELECT center(circle '<(5,1),3>') AS c, "
            "radius(circle '<(5,1),3>') AS r, "
            "diameter(circle '<(5,1),3>') AS d, "
            "area(circle '<(5,1),3>') AS a",
        )
        row = df.collect()[0]
        assert row["c"] == "(5,1)" and row["r"] == 3.0 and row["d"] == 6.0
        assert abs(row["a"] - math.pi * 9) < 1e-9

    def test_circle_contains_point(self, spark):
        df = pg_sql(
            spark,
            "SELECT circle '<(0,0),5>' @> point '(3,4)' AS on_edge, "
            "circle '<(0,0),5>' @> point '(3,5)' AS outside",
        )
        row = df.collect()[0]
        assert row["on_edge"] is True and row["outside"] is False

    def test_circle_distance_and_overlap(self, spark):
        df = pg_sql(
            spark,
            "SELECT circle '<(0,0),2>' <-> circle '<(10,0),3>' AS d, "
            "circle '<(0,0),2>' && circle '<(3,0),2>' AS ov",
        )
        row = df.collect()[0]
        assert row["d"] == 5.0 and row["ov"] is True

    def test_circle_constructor(self, spark):
        df = pg_sql(spark, "SELECT circle(point(1, 2), 3) AS c")
        assert df.collect()[0]["c"] == "<(1,2),3>"

    def test_circle_cast_call(self, spark):
        df = pg_sql(spark, "SELECT circle('<(0,0),1>') AS c")
        assert df.collect()[0]["c"] == "<(0,0),1>"


class TestBox:
    def test_box_ops(self, spark):
        df = pg_sql(
            spark,
            "SELECT area(box '(0,0,2,3)') AS a, "
            "width(box '(0,0,2,3)') AS w, height(box '(0,0,2,3)') AS h, "
            "center(box '(0,0,4,6)') AS c, "
            "box '(0,0,3,3)' && box '(2,2,5,5)' AS ov, "
            "box '(0,0,10,10)' @> box '(2,2,5,5)' AS cont, "
            "box '(0,0,1,1)' << box '(5,0,6,1)' AS lft, "
            "box '(0,0,1,1)' <-> box '(4,0,5,1)' AS d",
        )
        row = df.collect()[0]
        assert row["a"] == 6.0 and row["w"] == 2.0 and row["h"] == 3.0
        assert row["c"] == "(2,3)"
        assert row["ov"] is True and row["cont"] is True and row["lft"] is True
        assert row["d"] == 3.0

    def test_box_constructor_normalizes(self, spark):
        df = pg_sql(spark, "SELECT box(point(0, 5), point(3, 1)) AS b")
        assert df.collect()[0]["b"] == "(3,5),(0,1)"

    def test_box_cast_call(self, spark):
        df = pg_sql(spark, "SELECT box('(1,1),(0,0)') AS b")
        assert df.collect()[0]["b"] == "(1,1),(0,0)"


class TestRejections:
    def test_line_rejected(self, spark):
        with pytest.raises(NotImplementedError, match="geometric type"):
            pg_sql(spark, "SELECT f1 <@ line '{1,-1,0}' FROM point_tbl")

    def test_unrouted_typed_op_rejected(self, spark):
        # path has no && kernel: loud rejection, never a silent wrong answer
        with pytest.raises(NotImplementedError, match="geometric operator"):
            pg_sql(
                spark,
                "SELECT path '[(0,0),(1,1)]' && path '[(2,2),(3,3)]'",
            )

    def test_untyped_operands_fail_loudly(self, spark):
        # no geo marker → the pass leaves <-> alone; the `->` half then
        # trips the json-op pass — a LOUD error, never a silent wrong answer
        from greengage_spark.dialect.transpiler import transpile

        with pytest.raises(ValueError):
            transpile("SELECT a <-> b FROM t")


def _coords(s):
    import re as _re

    return tuple(float(x) for x in _re.findall(r"[-+]?[0-9]*\.?[0-9]+", s))


class TestPointSqlParity:
    """point.sql / point.out verbatim battery (rows compared by parsed
    coordinates — our geo text keeps the input spelling; PG normalizes
    '10.0,10.0' to '(10,10)').  Typed literals stand in for the column
    type PG's operator resolution sees."""

    ROWS = ["(0.0,0.0)", "(-10.0,0.0)", "(-3.0,4.0)", "(5.1, 34.5)",
            "(-5.0,-12.0)", "10.0,10.0"]

    @pytest.fixture()
    def ptbl(self, spark):
        spark.createDataFrame(
            [(p,) for p in self.ROWS], "f1 string"
        ).createOrReplaceTempView("point_tbl")
        return spark

    def q(self, spark, sql):
        return {_coords(r["f1"]) for r in pg_sql(spark, sql).collect()}

    def test_left_right(self, ptbl):
        # point.out:36-50
        expect = {(-10.0, 0.0), (-3.0, 4.0), (-5.0, -12.0)}
        assert self.q(
            ptbl, "SELECT f1 FROM point_tbl WHERE f1 << point '(0.0, 0.0)'"
        ) == expect
        assert self.q(
            ptbl, "SELECT f1 FROM point_tbl WHERE point '(0.0,0.0)' >> f1"
        ) == expect

    def test_above_below_strict(self, ptbl):
        # point.out:52-64 — exactly ONE row each (strict point compare)
        assert self.q(
            ptbl, "SELECT f1 FROM point_tbl WHERE point '(0.0,0.0)' >^ f1"
        ) == {(-5.0, -12.0)}
        assert self.q(
            ptbl, "SELECT f1 FROM point_tbl WHERE f1 <^ point '(0.0, 0.0)'"
        ) == {(-5.0, -12.0)}

    def test_same_as(self, ptbl):
        assert self.q(
            ptbl, "SELECT f1 FROM point_tbl WHERE f1 ~= point '(5.1, 34.5)'"
        ) == {(5.1, 34.5)}

    def test_point_in_box_three_ways(self, ptbl):
        inside = {(0.0, 0.0), (5.1, 34.5), (10.0, 10.0)}
        outside = {(-10.0, 0.0), (-3.0, 4.0), (-5.0, -12.0)}
        assert self.q(
            ptbl, "SELECT f1 FROM point_tbl WHERE f1 <@ box '(0,0,100,100)'"
        ) == inside
        assert self.q(
            ptbl, "SELECT f1 FROM point_tbl WHERE box '(0,0,100,100)' @> f1"
        ) == inside
        assert self.q(
            ptbl,
            "SELECT f1 FROM point_tbl WHERE not (f1 <@ box '(0,0,100,100)')",
        ) == outside

    def test_distance_battery(self, ptbl):
        # point.out:118-130 six distances from the origin
        rows = pg_sql(
            ptbl,
            "SELECT f1, f1 <-> point '(0,0)' AS dist FROM point_tbl ORDER BY dist",
        ).collect()
        got = [round(r["dist"], 10) for r in rows]
        assert got == [0.0, 5.0, 10.0, 13.0,
                       round(14.142135623731, 10), round(34.8749193547455, 10)]

    def test_cross_distance_gt3_is_thirty(self, ptbl):
        # point.out:175+: 36 pairs minus 6 self-pairs (dist 0) = 30
        # center(p) of a point IS the point — the geo marker a bare
        # column pair lacks (a textual front-end cannot see column types)
        n = pg_sql(
            ptbl,
            "SELECT p1.f1 AS a, p2.f1 AS b FROM point_tbl p1, point_tbl p2 "
            "WHERE (p1.f1 <-> center(p2.f1)) > 3",
        ).count()
        assert n == 30


class TestCircleSqlParity:
    """circle.sql / circle.out battery over the 6 valid circle spellings
    ('<(x,y),r>', 'x,y,r', '((x,y),r)' all parse by number order)."""

    ROWS = ["<(5,1),3>", "<(1,2),100>", "1,3,5", "((1,2),3)",
            "<(100,200),10>", "<(100,1),115>"]

    @pytest.fixture()
    def ctbl(self, spark):
        spark.createDataFrame(
            [(c,) for c in self.ROWS], "f1 string"
        ).createOrReplaceTempView("circle_tbl")
        return spark

    def test_radius_diameter(self, ctbl):
        rows = pg_sql(
            ctbl, "SELECT radius(f1) AS r, diameter(f1) AS d FROM circle_tbl"
        ).collect()
        assert sorted(r["r"] for r in rows) == [3.0, 3.0, 5.0, 10.0, 100.0, 115.0]
        assert sorted(r["d"] for r in rows) == [6.0, 6.0, 10.0, 20.0, 200.0, 230.0]

    def test_radius_filters(self, ctbl):
        assert pg_sql(
            ctbl, "SELECT f1 FROM circle_tbl WHERE radius(f1) < 5"
        ).count() == 2
        assert pg_sql(
            ctbl, "SELECT f1 FROM circle_tbl WHERE diameter(f1) >= 10"
        ).count() == 4

    def test_circle_distances(self, ctbl):
        # circle.out:85-96 — the five positive pairwise distances
        # circle(center, radius) rebuilds the circle WITH a geo marker
        rows = pg_sql(
            ctbl,
            "SELECT (c1.f1 <-> circle(center(c2.f1), radius(c2.f1))) AS d "
            "FROM circle_tbl c1, circle_tbl c2 "
            "WHERE (c1.f1 <-> circle(center(c2.f1), radius(c2.f1))) > 0 ORDER BY d",
        ).collect()
        got = sorted({round(r["d"], 10) for r in rows})
        assert got == [74.0, round(111.370729772479, 10),
                       round(205.476756144497, 10), round(207.51303816328, 10),
                       round(208.370729772479, 10)]


class TestEnginePointSqlVerbatim:
    """point.sql VERBATIM through the engine: CREATE TABLE (f1 point) +
    untyped-literal operator queries — the engine knows f1's type from
    the DDL catalog and wraps it in the geo() marker, so the reference
    script runs unmodified (operator resolution PG does with pg_type,
    we do with the catalog)."""

    @pytest.fixture()
    def eng(self, spark, tmp_path):
        from greengage_spark.engine import GreengageEngine

        e = GreengageEngine(spark, str(tmp_path / "wh"))
        e.execute("CREATE TABLE POINT_TBL(f1 point)")
        for lit in ["(0.0,0.0)", "(-10.0,0.0)", "(-3.0,4.0)",
                    "(5.1, 34.5)", "(-5.0,-12.0)", "10.0,10.0"]:
            e.execute(f"INSERT INTO POINT_TBL(f1) VALUES ('{lit}')")
        return e

    def c(self, eng, sql):
        return {_coords(r["f1"]) for r in eng.execute(sql).collect()}

    def test_verbatim_operator_queries(self, eng):
        # point.sql:29-56 verbatim (six queries, untyped string literals)
        assert self.c(
            eng, "SELECT p.f1 FROM POINT_TBL p WHERE p.f1 << '(0.0, 0.0)'"
        ) == {(-10.0, 0.0), (-3.0, 4.0), (-5.0, -12.0)}
        assert self.c(
            eng, "SELECT p.f1 FROM POINT_TBL p WHERE '(0.0,0.0)' >> p.f1"
        ) == {(-10.0, 0.0), (-3.0, 4.0), (-5.0, -12.0)}
        assert self.c(
            eng, "SELECT p.f1 FROM POINT_TBL p WHERE '(0.0,0.0)' >^ p.f1"
        ) == {(-5.0, -12.0)}
        assert self.c(
            eng, "SELECT p.f1 FROM POINT_TBL p WHERE p.f1 <^ '(0.0, 0.0)'"
        ) == {(-5.0, -12.0)}
        assert self.c(
            eng, "SELECT p.f1 FROM POINT_TBL p WHERE p.f1 ~= '(5.1, 34.5)'"
        ) == {(5.1, 34.5)}
        assert self.c(
            eng,
            "SELECT p.f1 FROM POINT_TBL p WHERE p.f1 <@ box '(0,0,100,100)'",
        ) == {(0.0, 0.0), (5.1, 34.5), (10.0, 10.0)}

    def test_verbatim_distance_query(self, eng):
        rows = eng.execute(
            "SELECT p.f1, p.f1 <-> point '(0,0)' AS dist "
            "FROM POINT_TBL p ORDER BY dist"
        ).collect()
        assert [round(r["dist"], 10) for r in rows] == [
            0.0, 5.0, 10.0, 13.0,
            round(14.142135623731, 10), round(34.8749193547455, 10),
        ]

    def test_column_column_distance(self, eng):
        # p1.f1 <-> p2.f1 — BOTH operands bare columns (the case a
        # textual-only front-end cannot route at all)
        n = eng.execute(
            "SELECT p1.f1 AS a, p2.f1 AS b FROM POINT_TBL p1, POINT_TBL p2 "
            "WHERE (p1.f1 <-> p2.f1) > 3"
        ).count()
        assert n == 30


@pytest.fixture()
def geo_eng(spark, tmp_path):
    from greengage_spark.engine import GreengageEngine

    return GreengageEngine(spark, str(tmp_path / "wh"))


class TestLseg:
    """lseg (geo_ops.c:53 family) — battery shapes from lseg.sql; the
    engine marks lseg DDL columns with geo_lseg() for static dispatch."""

    def test_lseg_sql_battery(self, geo_eng):
        geo_eng.execute("CREATE TABLE lseg_tbl (s lseg)")
        geo_eng.execute(
            "INSERT INTO lseg_tbl VALUES ('[(1,2),(3,4)]'), "
            "('[(0,0),(6,6)]'), ('[(10,-10),(-3,-4)]')"
        )
        # lseg.sql:18 — <= orders by segment LENGTH (lseg_le)
        rows = geo_eng.execute(
            "SELECT * FROM lseg_tbl WHERE s <= lseg '[(1,2),(3,4)]'"
        ).collect()
        assert [r[0] for r in rows] == ["[(1,2),(3,4)]"]
        # lseg.sql:19 — distance filter keeps all three
        rows = geo_eng.execute(
            "SELECT * FROM lseg_tbl WHERE (s <-> lseg '[(1,2),(3,4)]') < 10"
        ).collect()
        assert len(rows) == 3

    def test_lseg_operators(self, geo_eng):
        r = geo_eng.execute(
            "SELECT lseg '[(0,0),(4,0)]' <-> point '(2,3)' AS d, "
            "lseg '[(0,0),(4,4)]' ?# lseg '[(0,4),(4,0)]' AS ix, "
            "lseg '[(0,0),(4,4)]' ?# lseg '[(5,5),(6,6)]' AS nix, "
            "lseg '[(0,0),(4,4)]' # lseg '[(0,4),(4,0)]' AS ipt, "
            "lseg '[(0,0),(4,4)]' # lseg '[(5,0),(6,1)]' AS nopt, "
            "@-@ lseg '[(0,0),(3,4)]' AS seg_len, "
            "@@ lseg '[(0,0),(4,6)]' AS ctr"
        ).collect()[0]
        assert abs(r.d - 3.0) < 1e-9
        assert r.ix is True and r.nix is False
        assert r.ipt == "(2,2)" and r.nopt is None
        assert abs(r.seg_len - 5.0) < 1e-9 and r.ctr == "(2,3)"

    def test_point_on_segment(self, geo_eng):
        r = geo_eng.execute(
            "SELECT lseg '[(0,0),(2,2)]' @> point '(1,1)' AS onseg, "
            "point '(1,2)' <@ lseg '[(0,0),(2,2)]' AS offseg"
        ).collect()[0]
        assert r.onseg is True and r.offseg is False

    def test_segment_distance_parallel(self, geo_eng):
        r = geo_eng.execute(
            "SELECT lseg '[(0,0),(4,0)]' <-> lseg '[(0,3),(4,3)]' AS d"
        ).collect()[0]
        assert abs(r.d - 3.0) < 1e-9


class TestPath:
    """path (geo_ops.c:1596) — battery shapes from path.sql; '[' opens,
    '(' closes, exactly path_in's convention."""

    def test_path_sql_battery(self, geo_eng):
        geo_eng.execute("CREATE TABLE path_tbl (f1 path)")
        geo_eng.execute(
            "INSERT INTO path_tbl VALUES ('[(1,2),(3,4)]'), "
            "('((1,2),(3,4))'), ('[(0,0),(3,0),(4,5),(1,6)]')"
        )
        rows = geo_eng.execute(
            "SELECT f1 FROM path_tbl WHERE isopen(f1)"
        ).collect()
        assert sorted(r[0] for r in rows) == [
            "[(0,0),(3,0),(4,5),(1,6)]", "[(1,2),(3,4)]",
        ]
        rows = geo_eng.execute(
            "SELECT f1 FROM path_tbl WHERE isclosed(f1)"
        ).collect()
        assert [r[0] for r in rows] == ["((1,2),(3,4))"]
        rows = geo_eng.execute(
            "SELECT pclose(f1) AS c FROM path_tbl"
        ).collect()
        assert sorted(r.c for r in rows) == [
            "((0,0),(3,0),(4,5),(1,6))", "((1,2),(3,4))", "((1,2),(3,4))",
        ]

    def test_path_functions(self, geo_eng):
        r = geo_eng.execute(
            "SELECT npoints(path '[(0,0),(3,0),(4,5),(1,6)]') AS n, "
            "popen(path '((1,2),(3,4))') AS o, "
            "length(path '[(0,0),(3,4)]') AS lo, "
            "length(path '((0,0),(3,0),(3,4))') AS lc, "
            "@-@ path '[(0,0),(3,4)]' AS lop"
        ).collect()[0]
        assert r.n == 4 and r.o == "[(1,2),(3,4)]"
        assert abs(r.lo - 5.0) < 1e-9  # open: one segment
        assert abs(r.lc - 12.0) < 1e-9  # closed: 3 + 4 + 5 wrap
        assert abs(r.lop - 5.0) < 1e-9

    def test_length_still_string_length(self, spark):
        # length() must stay Spark's string length on untyped args
        r = pg_sql(spark, "SELECT length('hello') AS n").collect()[0]
        assert r.n == 5


class TestPolygon:
    """polygon (geo_ops.c:2134) — the polygon.sql battery: overlap via
    edge intersection + vertex containment, bbox <</>>/&</&>, ray-cast
    point containment with boundary inclusion."""

    Q = "'((3,1),(3,3),(1,0))'"

    @pytest.fixture()
    def poly_tbl(self, geo_eng):
        geo_eng.execute("CREATE TABLE polygon_tbl (f1 polygon)")
        geo_eng.execute(
            "INSERT INTO polygon_tbl VALUES ('((2,0),(2,4),(0,0))'), "
            "('((3,1),(3,3),(1,0))'), ('((0,0))'), ('((0,1),(0,1))')"
        )
        return geo_eng

    def test_overlap_untyped_literal(self, poly_tbl):
        rows = poly_tbl.execute(
            f"SELECT f1 FROM polygon_tbl WHERE f1 && {self.Q}"
        ).collect()
        assert sorted(r[0] for r in rows) == [
            "((2,0),(2,4),(0,0))", "((3,1),(3,3),(1,0))",
        ]

    def test_left_right(self, poly_tbl):
        rows = poly_tbl.execute(
            f"SELECT f1 FROM polygon_tbl WHERE f1 << {self.Q}"
        ).collect()
        assert sorted(r[0] for r in rows) == ["((0,0))", "((0,1),(0,1))"]
        rows = poly_tbl.execute(
            f"SELECT f1 FROM polygon_tbl WHERE f1 >> {self.Q}"
        ).collect()
        assert rows == []

    def test_same_and_contain(self, poly_tbl):
        rows = poly_tbl.execute(
            f"SELECT f1 FROM polygon_tbl WHERE f1 ~= polygon {self.Q}"
        ).collect()
        assert [r[0] for r in rows] == ["((3,1),(3,3),(1,0))"]
        rows = poly_tbl.execute(
            f"SELECT f1 FROM polygon_tbl WHERE f1 @> polygon {self.Q}"
        ).collect()
        assert [r[0] for r in rows] == ["((3,1),(3,3),(1,0))"]

    def test_polygon_expressions(self, geo_eng):
        r = geo_eng.execute(
            "SELECT polygon '((0,0),(4,0),(4,4),(0,4))' @> "
            "polygon '((1,1),(2,1),(2,2))' AS cont, "
            "polygon '((1,1),(2,1),(2,2))' <@ "
            "polygon '((0,0),(4,0),(4,4),(0,4))' AS winn, "
            "polygon '((0,0),(4,0),(4,4),(0,4))' @> point '(2,2)' AS pin, "
            "polygon '((0,0),(4,0),(4,4),(0,4))' @> point '(4,2)' AS pedge, "
            "polygon '((0,0),(4,0),(4,4),(0,4))' @> point '(9,9)' AS pout, "
            "area(polygon '((0,0),(4,0),(4,4),(0,4))') AS ar, "
            "area(polygon '((2,0),(2,4),(0,0))') AS tri, "
            "npoints(polygon '((2,0),(2,4),(0,0))') AS np, "
            "polygon '((0,0),(1,0),(1,1))' && "
            "polygon '((5,5),(6,5),(6,6))' AS disjoint"
        ).collect()[0]
        assert r.cont is True and r.winn is True
        assert r.pin is True and r.pedge is True and r.pout is False
        assert abs(r.ar - 16.0) < 1e-9 and abs(r.tri - 4.0) < 1e-9
        assert r.np == 3 and r.disjoint is False
