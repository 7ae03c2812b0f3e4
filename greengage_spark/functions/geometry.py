"""Geometric type surface: point / box / circle (geo_ops.c subset).

Representation: geo values are their PG literal TEXT — ``'(x,y)'``,
``'(x1,y1),(x2,y2)'``, ``'<(x,y),r>'`` — and every operator parses the
numbers JVM-side (``regexp_extract_all`` + cast) at use.  A textual
dialect front-end cannot see column types, so the type of a geo value is
dispatched at RUNTIME from its numeric arity: 2 numbers = point,
3 = circle (x, y, r), 4 = box (x1, y1, x2, y2) — the same polymorphism
geo_ops.c implements with pg_type OIDs.  Everything stays inside
whole-stage codegen; no Python in any geo expression.

Expression-size discipline: each operand's parsed number array is bound
ONCE as a lambda variable (``transform(array(g), __g -> body)[0]``), so
composed expressions grow additively, not multiplicatively — naive
textual substitution repeated each operand ~15× per operator and made
Catalyst analysis time explode on nested geo calls.

The unified distance kernel treats every shape as a rectangle-with-radius
(point: degenerate box r=0; circle: degenerate box r=R; box: r=0):
``dist = max(0, hypot(gap_x, gap_y) - r_a - r_b)`` where ``gap_*`` are the
axis gaps between the rectangles.  That single formula is EXACT for
point-point, point-circle, circle-circle, point-box, and box-box
(geo_ops.c's point_distance/dist_pc/circle_distance/dist_pb/box_distance),
and overlap (&&) / left-right (<<, >>) / above-below (<^, >^) derive from
the same bounds.  Paths/polygons/lsegs are not routed (transpile-time
NotImplementedError), matching SURVEY's low-priority call.

Supported SQL surface (dialect/transpiler _pass_geometry):
  typed literals  point '...', box '...', circle '...'
  operators       <-> distance, @> contains, <@ within, && overlap,
                  << left, >> right, <^ below, >^ above, ~= same-as
  functions       center(g), radius(g), diameter(g), area(g),
                  width(b), height(b), point(x,y), circle(p,r),
                  box(p1,p2)
"""

from __future__ import annotations

import itertools

# emitted into a SQL literal taken VERBATIM (escapedStringLiterals=true),
# so a single backslash here is a single backslash in the regex engine
_NUM_RE = r"[-+]?[0-9]*\.?[0-9]+(?:[eE][-+]?[0-9]+)?"

_uid = itertools.count()


def nums(sql: str) -> str:
    """All numbers of a geo literal, in writing order, as array<double>."""
    return (
        f"transform(regexp_extract_all(cast(({sql}) as string), "
        f"'{_NUM_RE}', 0), x -> cast(x as double))"
    )


def _bind1(g_sql: str, body_fn) -> str:
    """Bind one operand's parsed array to a lambda variable, evaluate
    body once: operand text appears exactly once in the expression."""
    v = f"__g{next(_uid)}"
    return f"transform(array(({nums(g_sql)})), {v} -> ({body_fn(v)}))[0]"


def _bind2(a_sql: str, b_sql: str, body_fn) -> str:
    va, vb = f"__ga{next(_uid)}", f"__gb{next(_uid)}"
    return (
        f"transform(array(({nums(a_sql)})), {va} -> "
        f"transform(array(({nums(b_sql)})), {vb} -> ({body_fn(va, vb)}))[0])[0]"
    )


# Bounds of the rectangle-with-radius view over a bound number array g:
# xmin, xmax, ymin, ymax, r.
def _bounds(g: str) -> dict[str, str]:
    return {
        "xmin": f"CASE size({g}) WHEN 4 THEN least({g}[0], {g}[2]) ELSE {g}[0] END",
        "xmax": f"CASE size({g}) WHEN 4 THEN greatest({g}[0], {g}[2]) ELSE {g}[0] END",
        "ymin": f"CASE size({g}) WHEN 4 THEN least({g}[1], {g}[3]) ELSE {g}[1] END",
        "ymax": f"CASE size({g}) WHEN 4 THEN greatest({g}[1], {g}[3]) ELSE {g}[1] END",
        "r": f"CASE size({g}) WHEN 3 THEN {g}[2] ELSE 0.0d END",
    }


def _with_pair(a_sql: str, b_sql: str, body_fn) -> str:
    return _bind2(a_sql, b_sql, lambda va, vb: body_fn(_bounds(va), _bounds(vb)))


def distance(a_sql: str, b_sql: str) -> str:
    def body(A, B):
        gap_x = f"greatest(0.0d, {B['xmin']} - {A['xmax']}, {A['xmin']} - {B['xmax']})"
        gap_y = f"greatest(0.0d, {B['ymin']} - {A['ymax']}, {A['ymin']} - {B['ymax']})"
        return (
            f"greatest(0.0d, sqrt(power({gap_x}, 2) + power({gap_y}, 2)) "
            f"- {A['r']} - {B['r']})"
        )

    return _with_pair(a_sql, b_sql, body)


def contains(a_sql: str, b_sql: str) -> str:
    """a @> b: container a holds b entirely (box/circle over point/box/
    circle, via bounding geometry — exact for every routed pair)."""

    def body(A, B):
        return (
            f"(CASE WHEN {A['r']} > 0.0d THEN "
            # circle container: farthest corner of b's rect + b's radius
            f"sqrt(power(greatest(abs({B['xmin']} - ({A['xmin']}+{A['xmax']})/2), "
            f"abs({B['xmax']} - ({A['xmin']}+{A['xmax']})/2)), 2) + "
            f"power(greatest(abs({B['ymin']} - ({A['ymin']}+{A['ymax']})/2), "
            f"abs({B['ymax']} - ({A['ymin']}+{A['ymax']})/2)), 2)) + {B['r']} "
            f"<= {A['r']} "
            f"ELSE {B['xmin']} - {B['r']} >= {A['xmin']} AND "
            f"{B['xmax']} + {B['r']} <= {A['xmax']} AND "
            f"{B['ymin']} - {B['r']} >= {A['ymin']} AND "
            f"{B['ymax']} + {B['r']} <= {A['ymax']} END)"
        )

    return _with_pair(a_sql, b_sql, body)


def within(a_sql: str, b_sql: str) -> str:
    """a <@ b: a is contained in b."""
    return contains(b_sql, a_sql)


def overlaps(a_sql: str, b_sql: str) -> str:
    return f"({distance(a_sql, b_sql)} = 0.0d)"


def strictly_left(a_sql: str, b_sql: str) -> str:
    def body(A, B):
        return f"({A['xmax']} + {A['r']} < {B['xmin']} - {B['r']})"

    return _with_pair(a_sql, b_sql, body)


def strictly_right(a_sql: str, b_sql: str) -> str:
    def body(A, B):
        return f"({A['xmin']} - {A['r']} > {B['xmax']} + {B['r']})"

    return _with_pair(a_sql, b_sql, body)


def below(a_sql: str, b_sql: str) -> str:
    """a <^ b — below.  STRICT for point pairs (geo_ops.c point_below:
    y <), touching allowed for boxes (box_below_eq; point.out:59-64 —
    only (-5,-12) is below (0,0))."""

    def body(A, B):
        strict = f"({A['ymax']} < {B['ymin']})"
        touch = f"({A['ymax']} + {A['r']} <= {B['ymin']} - {B['r']})"
        point_pair = f"({A['r']} = 0.0d AND {B['r']} = 0.0d AND {A['xmin']} = {A['xmax']} AND {B['xmin']} = {B['xmax']})"
        return f"(CASE WHEN {point_pair} THEN {strict} ELSE {touch} END)"

    return _with_pair(a_sql, b_sql, body)


def above(a_sql: str, b_sql: str) -> str:
    def body(A, B):
        strict = f"({A['ymin']} > {B['ymax']})"
        touch = f"({A['ymin']} - {A['r']} >= {B['ymax']} + {B['r']})"
        point_pair = f"({A['r']} = 0.0d AND {B['r']} = 0.0d AND {A['xmin']} = {A['xmax']} AND {B['xmin']} = {B['xmax']})"
        return f"(CASE WHEN {point_pair} THEN {strict} ELSE {touch} END)"

    return _with_pair(a_sql, b_sql, body)


def same_as(a_sql: str, b_sql: str) -> str:
    """a ~= b: numerically identical coordinate lists."""
    return _bind2(a_sql, b_sql, lambda va, vb: f"{va} = {vb}")


def _fmt(x: str) -> str:
    """Format a double as PG does in geo output (no trailing .0 on ints)."""
    return (
        f"(CASE WHEN ({x}) = floor({x}) THEN cast(cast(({x}) as bigint) as string) "
        f"ELSE cast(({x}) as string) END)"
    )


def _point_text(x: str, y: str) -> str:
    return f"concat('(', {_fmt(x)}, ',', {_fmt(y)}, ')')"


def center(g_sql: str) -> str:
    def body(g):
        cx = f"(CASE size({g}) WHEN 4 THEN ({g}[0]+{g}[2])/2 ELSE {g}[0] END)"
        cy = f"(CASE size({g}) WHEN 4 THEN ({g}[1]+{g}[3])/2 ELSE {g}[1] END)"
        return _point_text(cx, cy)

    return _bind1(g_sql, body)


def radius(g_sql: str) -> str:
    return _bind1(
        g_sql, lambda g: f"CASE size({g}) WHEN 3 THEN {g}[2] ELSE 0.0d END"
    )


def diameter(g_sql: str) -> str:
    return _bind1(
        g_sql, lambda g: f"2.0d * (CASE size({g}) WHEN 3 THEN {g}[2] ELSE 0.0d END)"
    )


def area(g_sql: str) -> str:
    return _bind1(
        g_sql,
        lambda g: (
            f"CASE size({g}) WHEN 3 THEN pi() * power({g}[2], 2) "
            f"WHEN 4 THEN abs({g}[2] - {g}[0]) * abs({g}[3] - {g}[1]) "
            f"ELSE 0.0d END"
        ),
    )


def width(g_sql: str) -> str:
    return _bind1(g_sql, lambda g: f"abs({g}[2] - {g}[0])")


def height(g_sql: str) -> str:
    return _bind1(g_sql, lambda g: f"abs({g}[3] - {g}[1])")


def make_point(x_sql: str, y_sql: str) -> str:
    return _point_text(f"cast(({x_sql}) as double)", f"cast(({y_sql}) as double)")


def make_circle(p_sql: str, r_sql: str) -> str:
    def body(g):
        return (
            f"concat('<(', {_fmt(f'{g}[0]')}, ',', {_fmt(f'{g}[1]')}, '),', "
            f"{_fmt(f'cast(({r_sql}) as double)')}, '>')"
        )

    return _bind1(p_sql, body)


def make_box(p1_sql: str, p2_sql: str) -> str:
    def body(a, b):
        # normalize to (upper-right),(lower-left) like box_construct/box_fill
        return (
            f"concat('(', {_fmt(f'greatest({a}[0], {b}[0])')}, ',', "
            f"{_fmt(f'greatest({a}[1], {b}[1])')}, '),(', "
            f"{_fmt(f'least({a}[0], {b}[0])')}, ',', "
            f"{_fmt(f'least({a}[1], {b}[1])')}, ')')"
        )

    return _bind2(p1_sql, p2_sql, body)


# =====================================================================
# lseg / path / polygon (geo_ops.c:53 lseg family, :1596 path, :2134
# polygon).  Unlike point/box/circle these CANNOT dispatch on numeric
# arity (an lseg and a box both carry 4 numbers), so the transpiler
# routes them STATICALLY: typed literals, ::casts, and the engine's
# per-DDL-type markers (geo_lseg/geo_path/geo_polygon) name the type at
# rewrite time.  Paths additionally read their open/closed flag from the
# literal text itself ('[' = open), exactly PG's path_in convention.
# Everything below is still pure Column SQL — no Python at runtime.
# =====================================================================


def _seg_pt_dist(px, py, x1, y1, x2, y2):
    """point-to-segment distance (geo_ops.c dist_ps: project + clamp)."""
    dx, dy = f"({x2}-{x1})", f"({y2}-{y1})"
    len2 = f"({dx}*{dx} + {dy}*{dy})"
    t = (
        f"greatest(0.0d, least(1.0d, CASE WHEN {len2} = 0.0d THEN 0.0d "
        f"ELSE (({px}-{x1})*{dx} + ({py}-{y1})*{dy}) / {len2} END))"
    )
    cx, cy = f"({x1} + {t}*{dx})", f"({y1} + {t}*{dy})"
    return f"sqrt(power({px}-{cx}, 2) + power({py}-{cy}, 2))"


def _dir(ax, ay, bx, by, cx, cy):
    """cross product (b-a) x (c-a): orientation of c vs segment a->b."""
    return f"(({bx}-{ax})*({cy}-{ay}) - ({by}-{ay})*({cx}-{ax}))"


def _on_seg(px, py, x1, y1, x2, y2):
    """collinearity assumed: is p within the segment's bbox."""
    return (
        f"({px} >= least({x1},{x2}) AND {px} <= greatest({x1},{x2}) AND "
        f"{py} >= least({y1},{y2}) AND {py} <= greatest({y1},{y2}))"
    )


def _segs_intersect(a, b):
    """segment-segment intersection incl. touching (lseg_intersect)."""
    a1x, a1y, a2x, a2y = f"{a}[0]", f"{a}[1]", f"{a}[2]", f"{a}[3]"
    b1x, b1y, b2x, b2y = f"{b}[0]", f"{b}[1]", f"{b}[2]", f"{b}[3]"
    d1 = _dir(b1x, b1y, b2x, b2y, a1x, a1y)
    d2 = _dir(b1x, b1y, b2x, b2y, a2x, a2y)
    d3 = _dir(a1x, a1y, a2x, a2y, b1x, b1y)
    d4 = _dir(a1x, a1y, a2x, a2y, b2x, b2y)
    return (
        f"((({d1} > 0 AND {d2} < 0) OR ({d1} < 0 AND {d2} > 0)) AND "
        f"(({d3} > 0 AND {d4} < 0) OR ({d3} < 0 AND {d4} > 0)))"
        f" OR ({d1} = 0 AND {_on_seg(a1x, a1y, b1x, b1y, b2x, b2y)})"
        f" OR ({d2} = 0 AND {_on_seg(a2x, a2y, b1x, b1y, b2x, b2y)})"
        f" OR ({d3} = 0 AND {_on_seg(b1x, b1y, a1x, a1y, a2x, a2y)})"
        f" OR ({d4} = 0 AND {_on_seg(b2x, b2y, a1x, a1y, a2x, a2y)})"
    )


def _seg_len(g):
    return f"sqrt(power({g}[2]-{g}[0], 2) + power({g}[3]-{g}[1], 2))"


# ---- lseg ----


def lseg_length(g_sql: str) -> str:
    """@-@ lseg / length(lseg) — lseg_length."""
    return _bind1(g_sql, _seg_len)


def lseg_center(g_sql: str) -> str:
    """@@ lseg — lseg_center: the midpoint, as point text."""
    return _bind1(
        g_sql,
        lambda g: _point_text(f"({g}[0]+{g}[2])/2", f"({g}[1]+{g}[3])/2"),
    )


def lseg_intersects(a_sql: str, b_sql: str) -> str:
    """a ?# b — lseg_intersect."""
    return _bind2(a_sql, b_sql, _segs_intersect)


def lseg_distance(a_sql: str, b_sql: str) -> str:
    """lseg <-> lseg — lseg_dist: 0 when intersecting, else the min of
    the four endpoint-to-opposite-segment distances."""

    def body(a, b):
        d = ", ".join(
            [
                _seg_pt_dist(f"{a}[0]", f"{a}[1]", f"{b}[0]", f"{b}[1]", f"{b}[2]", f"{b}[3]"),
                _seg_pt_dist(f"{a}[2]", f"{a}[3]", f"{b}[0]", f"{b}[1]", f"{b}[2]", f"{b}[3]"),
                _seg_pt_dist(f"{b}[0]", f"{b}[1]", f"{a}[0]", f"{a}[1]", f"{a}[2]", f"{a}[3]"),
                _seg_pt_dist(f"{b}[2]", f"{b}[3]", f"{a}[0]", f"{a}[1]", f"{a}[2]", f"{a}[3]"),
            ]
        )
        return f"CASE WHEN {_segs_intersect(a, b)} THEN 0.0d ELSE least({d}) END"

    return _bind2(a_sql, b_sql, body)


def lseg_interpt(a_sql: str, b_sql: str) -> str:
    """a # b — lseg_interpt: the intersection point as point text, NULL
    when the segments do not intersect (parallel/disjoint)."""

    def body(a, b):
        rx, ry = f"({a}[2]-{a}[0])", f"({a}[3]-{a}[1])"
        sx, sy = f"({b}[2]-{b}[0])", f"({b}[3]-{b}[1])"
        den = f"({rx}*{sy} - {ry}*{sx})"
        t = f"((({b}[0]-{a}[0])*{sy} - ({b}[1]-{a}[1])*{sx}) / {den})"
        u = f"((({b}[0]-{a}[0])*{ry} - ({b}[1]-{a}[1])*{rx}) / {den})"
        px, py = f"({a}[0] + {t}*{rx})", f"({a}[1] + {t}*{ry})"
        return (
            f"CASE WHEN {den} = 0.0d THEN NULL "
            f"WHEN {t} >= 0.0d AND {t} <= 1.0d AND {u} >= 0.0d AND {u} <= 1.0d "
            f"THEN {_point_text(px, py)} END"
        )

    return _bind2(a_sql, b_sql, body)


def lseg_point_distance(seg_sql: str, pt_sql: str) -> str:
    """lseg <-> point / point <-> lseg — dist_ps."""
    return _bind2(
        seg_sql,
        pt_sql,
        lambda s, p: _seg_pt_dist(
            f"{p}[0]", f"{p}[1]", f"{s}[0]", f"{s}[1]", f"{s}[2]", f"{s}[3]"
        ),
    )


def lseg_contains_point(seg_sql: str, pt_sql: str) -> str:
    """lseg @> point (on_ps): the point lies on the segment."""
    return f"({lseg_point_distance(seg_sql, pt_sql)} < 1e-9d)"


def lseg_cmp(a_sql: str, b_sql: str, op: str) -> str:
    """lseg < <= > >= comparisons order by LENGTH (geo_ops.c lseg_lt
    family); = compares endpoints exactly (lseg_eq)."""
    if op == "=":
        return _bind2(a_sql, b_sql, lambda a, b: f"({a} = {b})")
    return _bind2(a_sql, b_sql, lambda a, b: f"({_seg_len(a)} {op} {_seg_len(b)})")


# ---- path ----


def _is_open_text(sql: str) -> str:
    """open paths start with '[' (path_in; closed is the default)."""
    return f"(left(trim(cast(({sql}) as string)), 1) = '[')"


def path_isopen(sql: str) -> str:
    return _is_open_text(sql)


def path_isclosed(sql: str) -> str:
    return f"(NOT {_is_open_text(sql)})"


def path_npoints(sql: str) -> str:
    return f"(size({nums(sql)}) DIV 2)"


def _path_text(g: str, open_: bool) -> str:
    """canonical path text from a bound number array: [(x,y),...] open,
    ((x,y),...) closed — path_out."""
    pts = (
        f"array_join(transform(sequence(0, int(size({g})/2) - 1), __i -> "
        f"concat('(', {_fmt(f'element_at({g}, int(2*__i + 1))')}, ',', "
        f"{_fmt(f'element_at({g}, int(2*__i + 2))')}, ')')), ',')"
    )
    o, c = ("'['", "']'") if open_ else ("'('", "')'")
    return f"concat({o}, {pts}, {c})"


def path_close(sql: str) -> str:
    """pclose(path) — re-render with the closed delimiter."""
    return _bind1(sql, lambda g: _path_text(g, open_=False))


def path_open(sql: str) -> str:
    """popen(path) — re-render with the open delimiter."""
    return _bind1(sql, lambda g: _path_text(g, open_=True))


def path_length(sql: str) -> str:
    """length(path) / @-@ path — path_length: sum of segment lengths;
    closed paths add the wrap-around segment."""

    def body(g):
        n = f"(size({g}) DIV 2)"
        seg = (
            f"aggregate(sequence(0, {n} - 2), 0.0d, (__acc, __i) -> __acc + "
            f"sqrt(power(element_at({g}, int(2*__i + 3)) - element_at({g}, int(2*__i + 1)), 2) + "
            f"power(element_at({g}, int(2*__i + 4)) - element_at({g}, int(2*__i + 2)), 2)))"
        )
        wrap = (
            f"sqrt(power(element_at({g}, 1) - element_at({g}, int(2*{n} - 1)), 2) + "
            f"power(element_at({g}, 2) - element_at({g}, int(2*{n})), 2))"
        )
        open_ = _is_open_text(sql)
        return f"CASE WHEN {n} < 2 THEN 0.0d WHEN {open_} THEN {seg} ELSE {seg} + {wrap} END"

    return _bind1(sql, body)


# ---- polygon ----


def _poly_xs(g):
    return f"filter({g}, (__x, __i) -> __i % 2 = 0)"


def _poly_ys(g):
    return f"filter({g}, (__x, __i) -> __i % 2 = 1)"


def _pt_on_boundary(g, px, py):
    """p lies on any edge of polygon g (within fp tolerance)."""
    n = f"(size({g}) DIV 2)"
    return (
        f"exists(sequence(0, {n} - 1), __i -> "
        + _seg_pt_dist(
            px,
            py,
            f"element_at({g}, int(2*__i + 1))",
            f"element_at({g}, int(2*__i + 2))",
            f"element_at({g}, int(2*((__i + 1) % {n}) + 1))",
            f"element_at({g}, int(2*((__i + 1) % {n}) + 2))",
        )
        + " < 1e-9d)"
    )


def _pt_in_poly(g, px, py):
    """even-odd ray cast + boundary inclusion (geo_ops.c point_inside)."""
    n = f"(size({g}) DIV 2)"
    xi = f"element_at({g}, int(2*__i + 1))"
    yi = f"element_at({g}, int(2*__i + 2))"
    xj = f"element_at({g}, int(2*((__i + 1) % {n}) + 1))"
    yj = f"element_at({g}, int(2*((__i + 1) % {n}) + 2))"
    ray = (
        f"aggregate(sequence(0, {n} - 1), false, (__acc, __i) -> "
        f"CASE WHEN (({yi} > {py}) != ({yj} > {py})) AND "
        f"({px} < ({xj} - {xi}) * ({py} - {yi}) / ({yj} - {yi}) + {xi}) "
        f"THEN NOT __acc ELSE __acc END)"
    )
    return f"({ray} OR {_pt_on_boundary(g, px, py)})"


def poly_npoints(sql: str) -> str:
    return f"(size({nums(sql)}) DIV 2)"


def poly_area(sql: str) -> str:
    """area(polygon) — shoelace (poly_area)."""

    def body(g):
        n = f"(size({g}) DIV 2)"
        xi = f"element_at({g}, int(2*__i + 1))"
        yi = f"element_at({g}, int(2*__i + 2))"
        xj = f"element_at({g}, int(2*((__i + 1) % {n}) + 1))"
        yj = f"element_at({g}, int(2*((__i + 1) % {n}) + 2))"
        return (
            f"abs(aggregate(sequence(0, {n} - 1), 0.0d, (__acc, __i) -> "
            f"__acc + {xi}*{yj} - {xj}*{yi})) / 2.0d"
        )

    return _bind1(sql, body)


def poly_center(sql: str) -> str:
    """@@ polygon — vertex average (poly_center's effective output)."""

    def body(g):
        return _point_text(
            f"aggregate({_poly_xs(g)}, 0.0d, (a, x) -> a + x) / (size({g}) DIV 2)",
            f"aggregate({_poly_ys(g)}, 0.0d, (a, x) -> a + x) / (size({g}) DIV 2)",
        )

    return _bind1(sql, body)


def poly_contains_point(poly_sql: str, pt_sql: str) -> str:
    """polygon @> point."""
    return _bind2(
        poly_sql, pt_sql, lambda g, p: _pt_in_poly(g, f"{p}[0]", f"{p}[1]")
    )


def _edges_intersect(a, b):
    """any edge of closed polygon a intersects any edge of b."""
    na, nb = f"(size({a}) DIV 2)", f"(size({b}) DIV 2)"
    ea = (
        f"array(element_at({a}, int(2*__ia + 1)), element_at({a}, int(2*__ia + 2)), "
        f"element_at({a}, int(2*((__ia + 1) % {na}) + 1)), "
        f"element_at({a}, int(2*((__ia + 1) % {na}) + 2)))"
    )
    eb = (
        f"array(element_at({b}, int(2*__ib + 1)), element_at({b}, int(2*__ib + 2)), "
        f"element_at({b}, int(2*((__ib + 1) % {nb}) + 1)), "
        f"element_at({b}, int(2*((__ib + 1) % {nb}) + 2)))"
    )
    inner = (
        f"exists(sequence(0, {nb} - 1), __ib -> "
        f"transform(array({eb}), __eb -> transform(array({ea}), __ea -> "
        f"({_segs_intersect('__ea', '__eb')}))[0])[0])"
    )
    return f"exists(sequence(0, {na} - 1), __ia -> {inner})"


def poly_overlap(a_sql: str, b_sql: str) -> str:
    """polygon && polygon (poly_overlap): edges intersect, or one holds
    a vertex of the other."""

    def body(a, b):
        vtx_b_in_a = _pt_in_poly(a, f"element_at({b}, 1)", f"element_at({b}, 2)")
        vtx_a_in_b = _pt_in_poly(b, f"element_at({a}, 1)", f"element_at({a}, 2)")
        return f"({_edges_intersect(a, b)} OR {vtx_b_in_a} OR {vtx_a_in_b})"

    return _bind2(a_sql, b_sql, body)


def poly_contains(a_sql: str, b_sql: str) -> str:
    """polygon @> polygon (poly_contain): every vertex of b inside-or-on
    a. Exact for convex containment and the regress battery; concave
    edge-crossing corner cases are out of the subset (documented)."""

    def body(a, b):
        nb = f"(size({b}) DIV 2)"
        return (
            f"forall(sequence(0, {nb} - 1), __ib -> "
            f"transform(array(array(element_at({b}, int(2*__ib + 1)), "
            f"element_at({b}, int(2*__ib + 2)))), __p -> "
            + _pt_in_poly(a, "__p[0]", "__p[1]")
            + ")[0])"
        )

    return _bind2(a_sql, b_sql, body)


def _poly_bbox_cmp(a_sql: str, b_sql: str, kind: str) -> str:
    """<< >> &< &> over polygon bounding boxes (poly_left family)."""

    def body(a, b):
        axmin, axmax = f"array_min({_poly_xs(a)})", f"array_max({_poly_xs(a)})"
        bxmin, bxmax = f"array_min({_poly_xs(b)})", f"array_max({_poly_xs(b)})"
        return {
            "left": f"({axmax} < {bxmin})",
            "right": f"({axmin} > {bxmax})",
            "overleft": f"({axmax} <= {bxmax})",
            "overright": f"({axmin} >= {bxmin})",
        }[kind]

    return _bind2(a_sql, b_sql, body)


def poly_left(a, b):
    return _poly_bbox_cmp(a, b, "left")


def poly_right(a, b):
    return _poly_bbox_cmp(a, b, "right")


def poly_overleft(a, b):
    return _poly_bbox_cmp(a, b, "overleft")


def poly_overright(a, b):
    return _poly_bbox_cmp(a, b, "overright")


def poly_same(a_sql: str, b_sql: str) -> str:
    """polygon ~= polygon (poly_same: identical vertex lists)."""
    return _bind2(a_sql, b_sql, lambda a, b: f"({a} = {b})")
