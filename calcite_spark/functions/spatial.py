"""Spatial ST_ functions — planar (Euclidean) tier, pure Spark SQL.

≈ runtime/SpatialTypeFunctions.java (178 operators registered under
SqlLibrary.SPATIAL; constructors :672 ST_MakePoint, relations :997
ST_Distance / :1037 ST_Contains, measures :1539 ST_Area). The reference
executes these on JTS/Esri Geometry objects; the Spark-first design
keeps geometry as a plain STRUCT column

    geom = struct<kind: string, pts: array<struct<x: double, y: double>>>

(POINT / LINESTRING / POLYGON single outer ring, ring NOT closed — the
last→first edge is implicit), so every operator below is a SQL
expression over arrays: higher-order functions inside whole-stage
codegen, zero Python on the hot path, trivially partition-parallel at
100 TB. The shoelace area, ray-casting containment, and point-segment
distance folds are the classic planar algorithms expressed as
`aggregate()` over the vertex array.

WKT parse (ST_GeomFromText) is the ONE slow path — a regex-based SQL
expression handles POINT; LINESTRING/POLYGON go through the cs_geom
Pandas UDF registered per session (same contract as the JSON path
engine: documented, off the hot path). ST_AsText is pure SQL.

Batch 4 adds the constructive tier: ST_Intersection (pure-SQL
Sutherland–Hodgman clip, exact with a convex operand), ST_Union /
ST_Difference (empty/point/disjoint/nested tiers; parts form
`array<geom>` for multi-part results), ST_Collect / ST_GeometryN over
the parts form, and ST_ConvexHull (monotone-chain Pandas UDF, same
slow-path contract as WKT parse). Unsupported configurations inside
those operators raise_error() AT RUNTIME — loud, never approximate.

Out of scope (refused, not silently wrong): Z/M coordinates, polygon
holes, concave∩concave / LINESTRING overlays, overlapping non-nested
unions, line/polygon ST_Buffer offset curves (POINT buffers use JTS's
own n-gon discretization), geodesic math. Each raises KeyError at
translate time or raise_error() at runtime rather than emitting an
approximation.
"""

from __future__ import annotations

import re as _re

import pandas as pd  # module scope: pandas_udf type hints resolve here

GEOM_TYPE = "struct<kind: string, pts: array<struct<x: double, y: double>>>"


def _pt(g: str, i: str) -> str:
    """1-based vertex accessor."""
    return f"element_at({g}.pts, {i})"


def _n(g: str) -> str:
    return f"size({g}.pts)"


def make_point(x: str, y: str) -> str:
    return (
        "named_struct('kind', 'POINT', 'pts', array(named_struct("
        f"'x', CAST({x} AS DOUBLE), 'y', CAST({y} AS DOUBLE))))"
    )


def make_line(*points: str) -> str:
    """ST_MakeLine over ST_Point values: concatenates their vertices."""
    pts = ", ".join(f"element_at({p}.pts, 1)" for p in points)
    return f"named_struct('kind', 'LINESTRING', 'pts', array({pts}))"


def st_x(g: str) -> str:
    return f"CASE WHEN {g}.kind = 'POINT' THEN {_pt(g, '1')}.x END"


def st_y(g: str) -> str:
    return f"CASE WHEN {g}.kind = 'POINT' THEN {_pt(g, '1')}.y END"


def _edges(g: str, closed: bool) -> str:
    """Sequence of edge start indexes: 1..n-1 (+ closing edge n for
    polygons, pairing vertex n with vertex 1)."""
    n = _n(g)
    return f"sequence(1, {n} - {'0' if closed else '1'})"


def _edge_b(g: str, i: str) -> str:
    """End vertex of edge i (wraps to 1 past n — the closing edge)."""
    return f"element_at({g}.pts, CASE WHEN {i} < {_n(g)} THEN {i} + 1 ELSE 1 END)"


def st_length(g: str, closed: bool = False) -> str:
    """Sum of segment lengths; closed=True adds the implicit ring edge
    (ST_Perimeter). NULL for points."""
    return _bind(g, lambda v: _st_length_body(v, closed))


def _st_length_body(g: str, closed: bool) -> str:
    i = "i"
    a, b = _pt(g, i), _edge_b(g, i)
    seg = f"sqrt(pow({b}.x - {a}.x, 2) + pow({b}.y - {a}.y, 2))"
    return (
        f"CASE WHEN {_n(g)} >= 2 THEN "
        f"aggregate({_edges(g, closed)}, CAST(0.0 AS DOUBLE), (acc, i) -> acc + {seg}) "
        "ELSE CAST(0.0 AS DOUBLE) END"
    )


def _bind(g: str, body_fn) -> str:
    """Let-bind a COMPOUND operand before a body that references it more
    than once (r14): measure macros over constructive results —
    ST_Area(ST_Intersection(a, b)) — otherwise copy the whole inner
    expression once per textual reference (~190 KB SQL for the qx33
    shape; 11 s to parse + 10 s to optimize for 25 rows). Simple
    column/field references are interpolated directly as before."""
    import itertools
    import re

    if re.match(r"^[A-Za-z_][A-Za-z_0-9]*(\.[A-Za-z_][A-Za-z_0-9]*)*$", g):
        return body_fn(g)
    if not hasattr(_bind, "_n"):
        _bind._n = itertools.count()
    var = f"cs_bnd{next(_bind._n)}"
    return _let1(g, var, body_fn(var))


def st_area(g: str) -> str:
    """Shoelace formula over the (implicitly closed) outer ring."""
    return _bind(g, _st_area_body)


def _st_area_body(g: str) -> str:
    i = "i"
    a, b = _pt(g, i), _edge_b(g, i)
    cross = f"({a}.x * {b}.y - {b}.x * {a}.y)"
    return (
        f"CASE WHEN {g}.kind = 'POLYGON' THEN "
        f"abs(aggregate({_edges(g, True)}, CAST(0.0 AS DOUBLE), "
        f"(acc, i) -> acc + {cross})) / 2.0 ELSE CAST(0.0 AS DOUBLE) END"
    )


def st_centroid(g: str) -> str:
    """Vertex-mean centroid for POINT/LINESTRING; area-weighted shoelace
    centroid for POLYGON."""
    return _bind(g, _st_centroid_body)


def _st_centroid_body(g: str) -> str:
    n = _n(g)
    mean_x = f"aggregate({g}.pts, CAST(0.0 AS DOUBLE), (acc, p) -> acc + p.x) / {n}"
    mean_y = f"aggregate({g}.pts, CAST(0.0 AS DOUBLE), (acc, p) -> acc + p.y) / {n}"
    i = "i"
    a, b = _pt(g, i), _edge_b(g, i)
    cross = f"({a}.x * {b}.y - {b}.x * {a}.y)"
    sa = f"aggregate({_edges(g, True)}, CAST(0.0 AS DOUBLE), (acc, i) -> acc + {cross})"
    cx = (
        f"aggregate({_edges(g, True)}, CAST(0.0 AS DOUBLE), "
        f"(acc, i) -> acc + ({a}.x + {b}.x) * {cross}) / (3.0 * {sa})"
    )
    cy = (
        f"aggregate({_edges(g, True)}, CAST(0.0 AS DOUBLE), "
        f"(acc, i) -> acc + ({a}.y + {b}.y) * {cross}) / (3.0 * {sa})"
    )
    return (
        f"CASE WHEN {g}.kind = 'POLYGON' THEN {make_point(cx, cy)} "
        f"ELSE {make_point(mean_x, mean_y)} END"
    )


def st_envelope(g: str) -> str:
    """Bounding box as a POLYGON (xmin ymin, xmax ymin, xmax ymax, xmin ymax)."""
    return _bind(g, _st_envelope_body)


def _st_envelope_body(g: str) -> str:
    lo_x = f"array_min(transform({g}.pts, p -> p.x))"
    hi_x = f"array_max(transform({g}.pts, p -> p.x))"
    lo_y = f"array_min(transform({g}.pts, p -> p.y))"
    hi_y = f"array_max(transform({g}.pts, p -> p.y))"
    mk = lambda x, y: f"named_struct('x', {x}, 'y', {y})"
    return (
        "named_struct('kind', 'POLYGON', 'pts', array("
        f"{mk(lo_x, lo_y)}, {mk(hi_x, lo_y)}, {mk(hi_x, hi_y)}, {mk(lo_x, hi_y)}))"
    )


def _point_seg_dist(px, py, ax, ay, bx, by) -> str:
    """Distance from P to segment AB with parameter clamping."""
    len2 = f"(pow({bx} - {ax}, 2) + pow({by} - {ay}, 2))"
    t_raw = f"(({px} - {ax}) * ({bx} - {ax}) + ({py} - {ay}) * ({by} - {ay})) / ({len2} + 1e-300)"
    t = f"greatest(CAST(0.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE), {t_raw}))"
    qx = f"({ax} + {t} * ({bx} - {ax}))"
    qy = f"({ay} + {t} * ({by} - {ay}))"
    return f"sqrt(pow({px} - {qx}, 2) + pow({py} - {qy}, 2))"


def _point_to_geom_dist(p: str, g: str) -> str:
    """Distance point→geometry: 0 inside a polygon, else min distance to
    the vertex-chain segments (ring edge included for polygons)."""
    px, py = f"{_pt(p, '1')}.x", f"{_pt(p, '1')}.y"
    i = "i"
    a, b = _pt(g, i), _edge_b(g, i)
    seg = _point_seg_dist(px, py, f"{a}.x", f"{a}.y", f"{b}.x", f"{b}.y")
    # close the ring ONLY for polygons: a LINESTRING has no implicit
    # last→first edge, and including one understates distances to any
    # point near that phantom segment
    edges = f"sequence(1, {_n(g)} - IF({g}.kind = 'POLYGON', 0, 1))"
    to_chain = (
        f"CASE WHEN {_n(g)} = 1 THEN "
        f"sqrt(pow({px} - {_pt(g, '1')}.x, 2) + pow({py} - {_pt(g, '1')}.y, 2)) ELSE "
        f"aggregate({edges}, CAST('Infinity' AS DOUBLE), "
        f"(acc, i) -> least(acc, {seg})) END"
    )
    return (
        f"CASE WHEN {g}.kind = 'POLYGON' AND {st_contains(g, p)} THEN CAST(0.0 AS DOUBLE) "
        f"ELSE {to_chain} END"
    )


def st_distance(g1: str, g2: str) -> str:
    """Planar distance; supported when at least one side is a POINT
    (≈ SpatialTypeFunctions.ST_Distance:997 for those pairs). NULL for
    unsupported pairs rather than an approximation."""
    return (
        f"CASE WHEN {g1}.kind = 'POINT' THEN {_point_to_geom_dist(g1, g2)} "
        f"WHEN {g2}.kind = 'POINT' THEN {_point_to_geom_dist(g2, g1)} "
        "ELSE CAST(NULL AS DOUBLE) END"
    )


def st_dwithin(g1: str, g2: str, r: str) -> str:
    return f"({st_distance(g1, g2)} <= CAST({r} AS DOUBLE))"


def st_contains(poly: str, p: str) -> str:
    """Ray casting (odd crossings = inside) for POLYGON ∋ POINT
    (≈ ST_Contains:1037 restricted to that pair); boundary points follow
    the half-open edge rule. NULL for unsupported pairs."""
    px, py = f"{_pt(p, '1')}.x", f"{_pt(p, '1')}.y"
    i = "i"
    a, b = _pt(poly, i), _edge_b(poly, i)
    crosses = (
        f"(({a}.y > {py}) != ({b}.y > {py})) AND "
        f"({px} < ({b}.x - {a}.x) * ({py} - {a}.y) / ({b}.y - {a}.y) + {a}.x)"
    )
    inside = (
        f"(aggregate({_edges(poly, True)}, 0, "
        f"(acc, i) -> acc + IF({crosses}, 1, 0)) % 2) = 1"
    )
    return (
        f"CASE WHEN {poly}.kind = 'POLYGON' AND {p}.kind = 'POINT' "
        f"THEN {inside} END"
    )


def st_num_points(g: str) -> str:
    return _n(g)


def st_point_n(g: str, i: str) -> str:
    return f"named_struct('kind', 'POINT', 'pts', array({_pt(g, i)}))"


def st_as_text(g: str) -> str:
    """WKT emit, pure SQL (≈ SpatialTypeUtils.asWkt)."""
    one = f"concat(CAST({_pt(g, '1')}.x AS STRING), ' ', CAST({_pt(g, '1')}.y AS STRING))"
    many = (
        f"array_join(transform({g}.pts, p -> "
        "concat(CAST(p.x AS STRING), ' ', CAST(p.y AS STRING))), ', ')"
    )
    first = f"concat(CAST({_pt(g, '1')}.x AS STRING), ' ', CAST({_pt(g, '1')}.y AS STRING))"
    return (
        f"CASE WHEN {g}.kind = 'POINT' THEN concat('POINT (', {one}, ')') "
        f"WHEN {g}.kind = 'LINESTRING' THEN concat('LINESTRING (', {many}, ')') "
        f"WHEN {g}.kind = 'POLYGON' THEN concat('POLYGON ((', {many}, ', ', {first}, '))') "
        "END"
    )


# ---------------------------------------------------------------------
# WKT parse — the documented slow path (Pandas UDF), same contract as
# functions/json_path.py. POINT also has a pure-SQL fast path below.
# ---------------------------------------------------------------------


def parse_wkt_one(wkt):
    """'POINT (1 2)' / 'LINESTRING (...)' / 'POLYGON ((...))' →
    (kind, [(x, y), ...]) or None. Polygon outer ring only; the closing
    vertex (first==last) is dropped (our rings are implicitly closed)."""
    import re

    if wkt is None:
        return None
    m = re.match(r"\s*(POINT|LINESTRING|POLYGON)\s*\(+(.*?)\)+\s*$", wkt, re.I)
    if not m:
        return None
    kind = m.group(1).upper()
    try:
        pts = [
            (float(a), float(b))
            for a, b in (p.split()[:2] for p in m.group(2).split(",") if p.strip())
        ]
    except (ValueError, IndexError):
        return None
    if not pts:
        return None
    if kind == "POLYGON" and len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    return {"kind": kind, "pts": [{"x": x, "y": y} for x, y in pts]}


def convex_hull_one(kind, pts):
    """Monotone chain (Andrew) over one vertex list → (kind, ring).
    Output: POINT for a single distinct vertex, LINESTRING for
    collinear input, else a CCW POLYGON ring (unclosed, our ring
    convention). Exact arithmetic on the usual float grid — same
    contract as JTS ConvexHull for non-degenerate input."""
    if kind is None or pts is None:
        return None
    P = sorted({(float(p["x"]), float(p["y"])) for p in pts})
    if not P:
        return {"kind": kind, "pts": []}
    if len(P) == 1:
        return {"kind": "POINT", "pts": [{"x": P[0][0], "y": P[0][1]}]}

    def half(seq):
        h = []
        for p in seq:
            while (
                len(h) >= 2
                and (h[-1][0] - h[-2][0]) * (p[1] - h[-2][1])
                - (h[-1][1] - h[-2][1]) * (p[0] - h[-2][0])
                <= 0
            ):
                h.pop()
            h.append(p)
        return h

    lower, upper = half(P), half(reversed(P))
    hull = lower[:-1] + upper[:-1]
    if len(hull) <= 2:  # all collinear
        return {
            "kind": "LINESTRING",
            "pts": [{"x": x, "y": y} for x, y in (P[0], P[-1])],
        }
    return {"kind": "POLYGON", "pts": [{"x": x, "y": y} for x, y in hull]}


def register_spatial_udfs(spark) -> None:
    """Idempotent per-session registration of the cs_geom_from_text /
    cs_convex_hull Pandas UDFs (a new session registers its own)."""
    if getattr(spark, "_cs_spatial_udfs_registered", False):
        return
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(GEOM_TYPE)
    def cs_geom_from_text(s: pd.Series) -> pd.DataFrame:
        vals = [parse_wkt_one(v) for v in s]
        return pd.DataFrame(
            {
                "kind": [v["kind"] if v else None for v in vals],
                "pts": [v["pts"] if v else None for v in vals],
            }
        )

    spark.udf.register("cs_geom_from_text", cs_geom_from_text)

    @pandas_udf(GEOM_TYPE)
    def cs_convex_hull(g: pd.DataFrame) -> pd.DataFrame:
        vals = [
            convex_hull_one(k, p) for k, p in zip(g["kind"], g["pts"])
        ]
        return pd.DataFrame(
            {
                "kind": [v["kind"] if v else None for v in vals],
                "pts": [v["pts"] if v else None for v in vals],
            }
        )

    spark.udf.register("cs_convex_hull", cs_convex_hull)
    spark._cs_spatial_udfs_registered = True


def _transform_pts(g: str, fx: str, fy: str) -> str:
    """New geometry with each vertex (x,y) mapped to (fx, fy) — the
    shared body of the affine family (≈ AffineTransformation used by
    ST_Translate/ST_Scale/ST_Rotate, SpatialTypeFunctions.java:1356-1412)."""
    return (
        f"named_struct('kind', {g}.kind, 'pts', "
        f"transform({g}.pts, p -> named_struct('x', {fx}, 'y', {fy})))"
    )


def st_translate(g: str, dx: str, dy: str) -> str:
    return _transform_pts(g, f"p.x + CAST({dx} AS DOUBLE)", f"p.y + CAST({dy} AS DOUBLE)")


def st_scale(g: str, fx: str, fy: str) -> str:
    return _transform_pts(g, f"p.x * CAST({fx} AS DOUBLE)", f"p.y * CAST({fy} AS DOUBLE)")


def st_rotate(g: str, angle: str) -> str:
    """Rotate about the origin by `angle` radians (counter-clockwise),
    ≈ ST_Rotate:1356 (origin overloads compose with ST_Translate)."""
    c, s = f"cos(CAST({angle} AS DOUBLE))", f"sin(CAST({angle} AS DOUBLE))"
    return _transform_pts(g, f"p.x * {c} - p.y * {s}", f"p.x * {s} + p.y * {c}")


def st_flip_coordinates(g: str) -> str:
    return _transform_pts(g, "p.y", "p.x")


def st_reverse(g: str) -> str:
    return f"named_struct('kind', {g}.kind, 'pts', reverse({g}.pts))"


def st_geometry_type(g: str) -> str:
    """≈ ST_GeometryType:1004 (SpatialType enum NAME — our kinds use the
    same spelling)."""
    return f"{g}.kind"


def st_dimension(g: str) -> str:
    return (
        f"CASE {g}.kind WHEN 'POINT' THEN 0 WHEN 'LINESTRING' THEN 1 "
        "WHEN 'POLYGON' THEN 2 END"
    )


def st_is_empty(g: str) -> str:
    return f"({g}.kind IS NULL OR size({g}.pts) = 0)"


def st_is_closed(g: str) -> str:
    """First vertex == last vertex (POLYGON rings are implicitly closed)."""
    first, last = _pt(g, "1"), f"element_at({g}.pts, {_n(g)})"
    return (
        f"CASE WHEN {g}.kind = 'POLYGON' THEN TRUE "
        f"WHEN {g}.kind = 'LINESTRING' THEN "
        f"({first}.x = {last}.x AND {first}.y = {last}.y) "
        "ELSE FALSE END"
    )


def _xacc(g: str, agg: str, coord: str) -> str:
    return f"array_{agg}(transform({g}.pts, p -> p.{coord}))"


def _orient(p: str, q: str, r: str) -> str:
    """Cross product sign of (p→q, p→r): >0 left turn, <0 right, 0 collinear."""
    return (
        f"(({q}.x - {p}.x) * ({r}.y - {p}.y) - "
        f"({q}.y - {p}.y) * ({r}.x - {p}.x))"
    )


def _on_segment(p: str, q: str, r: str) -> str:
    """Given collinear p,q,r: r lies within the bounding box of pq."""
    return (
        f"({r}.x >= least({p}.x, {q}.x) AND {r}.x <= greatest({p}.x, {q}.x) "
        f"AND {r}.y >= least({p}.y, {q}.y) AND {r}.y <= greatest({p}.y, {q}.y))"
    )


def st_intersects(g1: str, g2: str) -> str:
    """≈ ST_Intersects (SpatialTypeFunctions.java, JTS `intersects`):
    TRUE iff the geometries share at least one point, boundary included.

    Dispatch: a POINT side reduces to ST_Distance = 0 (distance is 0 on
    a boundary, so this is boundary-inclusive, unlike ST_Contains'
    half-open ray-cast rule). Otherwise the classic O(n·m) segment test
    — any edge pair properly crossing or touching (orientation signs +
    collinear bounding-box checks) — plus containment probes of one
    vertex each way for polygon operands. Pure SQL over nested
    `exists()` lambdas: JVM codegen, no UDF, no join."""
    e1 = f"sequence(1, {_n(g1)} - IF({g1}.kind = 'POLYGON', 0, 1))"
    e2 = f"sequence(1, {_n(g2)} - IF({g2}.kind = 'POLYGON', 0, 1))"
    a1, b1 = _pt(g1, "i"), _edge_b(g1, "i")
    a2, b2 = _pt(g2, "j"), _edge_b(g2, "j")
    d1, d2 = _orient(a2, b2, a1), _orient(a2, b2, b1)
    d3, d4 = _orient(a1, b1, a2), _orient(a1, b1, b2)
    seg_hit = (
        f"(( ({d1} > 0 AND {d2} < 0) OR ({d1} < 0 AND {d2} > 0) ) AND "
        f"( ({d3} > 0 AND {d4} < 0) OR ({d3} < 0 AND {d4} > 0) )) "
        f"OR ({d1} = 0 AND {_on_segment(a2, b2, a1)}) "
        f"OR ({d2} = 0 AND {_on_segment(a2, b2, b1)}) "
        f"OR ({d3} = 0 AND {_on_segment(a1, b1, a2)}) "
        f"OR ({d4} = 0 AND {_on_segment(a1, b1, b2)})"
    )
    edge_cross = f"exists({e1}, i -> exists({e2}, j -> {seg_hit}))"
    v1, v2 = _pt(g1, "1"), _pt(g2, "1")
    contained = (
        f"({g2}.kind = 'POLYGON' AND {st_contains(g2, make_point(f'{v1}.x', f'{v1}.y'))}) OR "
        f"({g1}.kind = 'POLYGON' AND {st_contains(g1, make_point(f'{v2}.x', f'{v2}.y'))})"
    )
    return (
        f"CASE WHEN {g1}.kind = 'POINT' OR {g2}.kind = 'POINT' "
        f"THEN {st_distance(g1, g2)} = 0.0 "
        f"ELSE ({edge_cross} OR {contained}) END"
    )


def st_disjoint(g1: str, g2: str) -> str:
    return f"(NOT {st_intersects(g1, g2)})"


def st_ordering_equals(g1: str, g2: str) -> str:
    """≈ ST_OrderingEquals — same kind, same vertices in order (the
    exactly-decidable equality; geometric ST_Equals is refused rather
    than approximated)."""
    return f"({g1}.kind = {g2}.kind AND {g1}.pts = {g2}.pts)"


def st_buffer(g: str, r: str, segs: int = 8) -> str:
    """≈ ST_Buffer (JTS BufferOp, default 8 segments per quadrant): the
    POINT case — a regular 4*segs-gon inscribed approximation, exactly
    JTS's discretization for an isolated point. LINESTRING/POLYGON
    buffers need full offset-curve construction; NULL rather than a
    wrong shape (refuse-over-wrong, module policy)."""
    n = 4 * segs
    cx, cy = f"{_pt(g, '1')}.x", f"{_pt(g, '1')}.y"
    rr = f"CAST({r} AS DOUBLE)"
    ang = f"2.0 * pi() * (k - 1) / {n}.0"
    ring = (
        f"transform(sequence(1, {n}), k -> named_struct("
        f"'x', {cx} + {rr} * cos({ang}), 'y', {cy} + {rr} * sin({ang})))"
    )
    return (
        f"CASE WHEN {g}.kind = 'POINT' THEN "
        f"named_struct('kind', 'POLYGON', 'pts', {ring}) END"
    )


def st_make_envelope(xmin: str, ymin: str, xmax: str, ymax: str) -> str:
    mk = lambda x, y: f"named_struct('x', CAST({x} AS DOUBLE), 'y', CAST({y} AS DOUBLE))"
    return (
        "named_struct('kind', 'POLYGON', 'pts', array("
        f"{mk(xmin, ymin)}, {mk(xmax, ymin)}, {mk(xmax, ymax)}, {mk(xmin, ymax)}))"
    )


def st_expand(g: str, d: str) -> str:
    """≈ ST_Expand — envelope grown by d on every side (a POLYGON)."""
    dd = f"CAST({d} AS DOUBLE)"
    return st_make_envelope(
        f"{_xacc(g, 'min', 'x')} - {dd}",
        f"{_xacc(g, 'min', 'y')} - {dd}",
        f"{_xacc(g, 'max', 'x')} + {dd}",
        f"{_xacc(g, 'max', 'y')} + {dd}",
    )


def st_envelopes_intersect(g1: str, g2: str) -> str:
    """≈ ST_EnvelopesIntersect — closed-interval bbox overlap. The cheap
    prefilter for spatial joins (operators/spatial_join.py pairs it with
    grid-cell bucketing so the exact predicate only runs on candidates)."""
    return (
        f"({_xacc(g1, 'min', 'x')} <= {_xacc(g2, 'max', 'x')} AND "
        f"{_xacc(g2, 'min', 'x')} <= {_xacc(g1, 'max', 'x')} AND "
        f"{_xacc(g1, 'min', 'y')} <= {_xacc(g2, 'max', 'y')} AND "
        f"{_xacc(g2, 'min', 'y')} <= {_xacc(g1, 'max', 'y')})"
    )


def st_max_distance(g1: str, g2: str) -> str:
    """≈ ST_MaxDistance — max over vertex pairs (exact for convex
    vertex-defined geometries; vertex-chain semantics like the
    reference's H2GIS analog)."""
    d = "sqrt(pow(p.x - q.x, 2) + pow(p.y - q.y, 2))"
    return (
        f"array_max(flatten(transform({g1}.pts, p -> "
        f"transform({g2}.pts, q -> {d}))))"
    )


def st_is_rectangle(g: str) -> str:
    """≈ ST_IsRectangle — 4-vertex polygon whose vertex set equals its
    envelope's (axis-aligned rectangle)."""
    return (
        f"({g}.kind = 'POLYGON' AND {_n(g)} = 4 AND "
        f"array_sort({g}.pts) = array_sort({st_envelope(g)}.pts))"
    )


def _self_cross(g: str) -> str:
    """TRUE iff any two NON-adjacent edges of the vertex chain intersect
    (adjacency wraps for polygons: edge 1 and the closing edge share a
    vertex). The O(n^2) pair scan is per-row over small vertex arrays —
    JVM lambdas, no join."""
    closed = f"({g}.kind = 'POLYGON')"
    n_edges = f"({_n(g)} - IF({closed}, 0, 1))"
    # the first/last edge pair is also adjacent when the chain closes on
    # itself — a POLYGON's implicit wrap edge, or a LINESTRING whose
    # first vertex coincides with its last (JTS allows that shared point)
    ring_like = f"({closed} OR {_pt(g, '1')} = element_at({g}.pts, {_n(g)}))"
    a1, b1 = _pt(g, "i"), _edge_b(g, "i")
    a2, b2 = _pt(g, "j"), _edge_b(g, "j")
    d1, d2 = _orient(a2, b2, a1), _orient(a2, b2, b1)
    d3, d4 = _orient(a1, b1, a2), _orient(a1, b1, b2)
    hit = (
        f"(( ({d1} > 0 AND {d2} < 0) OR ({d1} < 0 AND {d2} > 0) ) AND "
        f"( ({d3} > 0 AND {d4} < 0) OR ({d3} < 0 AND {d4} > 0) )) "
        f"OR ({d1} = 0 AND {_on_segment(a2, b2, a1)}) "
        f"OR ({d2} = 0 AND {_on_segment(a2, b2, b1)}) "
        f"OR ({d3} = 0 AND {_on_segment(a1, b1, a2)}) "
        f"OR ({d4} = 0 AND {_on_segment(a1, b1, b2)})"
    )
    non_adjacent = f"(j > i + 1 AND NOT ({ring_like} AND i = 1 AND j = {n_edges}))"
    return (
        f"exists(sequence(1, {n_edges}), i -> "
        f"exists(sequence(1, {n_edges}), j -> {non_adjacent} AND ({hit})))"
    )


def st_is_simple(g: str) -> str:
    """≈ ST_IsSimple (JTS IsSimpleOp): no self-intersection between
    non-adjacent segments. POINTs are always simple."""
    return (
        f"CASE WHEN {g}.kind = 'POINT' THEN TRUE "
        f"WHEN {_n(g)} < 3 THEN TRUE "
        f"ELSE NOT {_self_cross(g)} END"
    )


def st_is_ring(g: str) -> str:
    """≈ ST_IsRing — closed AND simple LINESTRING."""
    return (
        f"CASE WHEN {g}.kind = 'LINESTRING' THEN "
        f"({st_is_closed(g)} AND {st_is_simple(g)}) ELSE FALSE END"
    )


def st_is_valid(g: str) -> str:
    """≈ ST_IsValid for this module's surface: known kind, enough
    vertices (1/2/3), and a polygon ring free of self-intersection."""
    return (
        f"CASE {g}.kind WHEN 'POINT' THEN {_n(g)} = 1 "
        f"WHEN 'LINESTRING' THEN {_n(g)} >= 2 "
        f"WHEN 'POLYGON' THEN ({_n(g)} >= 3 AND NOT {_self_cross(g)}) "
        "ELSE FALSE END"
    )


def st_add_point(g: str, p: str, idx: str = "-1") -> str:
    """≈ ST_AddPoint — insert p's vertex BEFORE 0-based index idx
    (PostGIS positions, like the reference); idx = -1 (the 2-arg
    default) appends."""
    k = f"IF(CAST({idx} AS INT) < 0, {_n(g)}, CAST({idx} AS INT))"
    return (
        f"CASE WHEN {g}.kind = 'LINESTRING' AND {k} <= {_n(g)} THEN "
        f"named_struct('kind', 'LINESTRING', 'pts', concat("
        f"slice({g}.pts, 1, {k}), array({_pt(p, '1')}), "
        f"slice({g}.pts, {k} + 1, {_n(g)} - {k}))) END"
    )


def st_remove_point(g: str, idx: str) -> str:
    """≈ ST_RemovePoint — drop the 0-based idx-th vertex of a LINESTRING."""
    k = f"CAST({idx} AS INT)"
    return (
        f"CASE WHEN {g}.kind = 'LINESTRING' AND {k} >= 0 AND {k} < {_n(g)} THEN "
        f"named_struct('kind', 'LINESTRING', 'pts', concat("
        f"slice({g}.pts, 1, {k}), slice({g}.pts, {k} + 2, {_n(g)} - {k} - 1))) END"
    )


def st_remove_repeated_points(g: str) -> str:
    """≈ ST_RemoveRepeatedPoints — drop consecutive duplicate vertices
    (array fold; keeps first occurrence of each run)."""
    step = (
        f"aggregate(slice({g}.pts, 2, {_n(g)} - 1), array({_pt(g, '1')}), "
        "(acc, p) -> IF(element_at(acc, -1) = p, acc, concat(acc, array(p))))"
    )
    return (
        f"CASE WHEN {_n(g)} <= 1 THEN {g} "
        f"ELSE named_struct('kind', {g}.kind, 'pts', {step}) END"
    )


def st_project_point(p: str, line: str) -> str:
    """≈ ST_ProjectPoint — closest point on a LINESTRING to p: clamp the
    per-segment projection parameter, pick the min-distance candidate
    (struct ordering: first field = distance)."""
    px, py = f"{_pt(p, '1')}.x", f"{_pt(p, '1')}.y"
    a, b = _pt(line, "i"), _edge_b(line, "i")
    ax, ay, bx, by = f"{a}.x", f"{a}.y", f"{b}.x", f"{b}.y"
    len2 = f"(pow({bx} - {ax}, 2) + pow({by} - {ay}, 2))"
    t_raw = f"(({px} - {ax}) * ({bx} - {ax}) + ({py} - {ay}) * ({by} - {ay})) / ({len2} + 1e-300)"
    t = f"greatest(CAST(0.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE), {t_raw}))"
    qx = f"({ax} + {t} * ({bx} - {ax}))"
    qy = f"({ay} + {t} * ({by} - {ay}))"
    cand = (
        f"array_min(transform(sequence(1, {_n(line)} - 1), i -> named_struct("
        f"'d', sqrt(pow({px} - {qx}, 2) + pow({py} - {qy}, 2)), 'x', {qx}, 'y', {qy})))"
    )
    best = cand
    return (
        f"CASE WHEN {p}.kind = 'POINT' AND {line}.kind = 'LINESTRING' AND {_n(line)} >= 2 "
        f"THEN named_struct('kind', 'POINT', 'pts', array(named_struct("
        f"'x', {best}.x, 'y', {best}.y))) END"
    )


def st_as_geojson(g: str) -> str:
    """GeoJSON emit, pure SQL (≈ SpatialTypeUtils.asGeoJson). Kind names
    map POINT→Point etc.; polygon emits the closed outer ring."""
    pair = "concat('[', CAST(p.x AS STRING), ',', CAST(p.y AS STRING), ']')"
    many = f"array_join(transform({g}.pts, p -> {pair}), ',')"
    one = (
        f"concat('[', CAST({_pt(g, '1')}.x AS STRING), ',', "
        f"CAST({_pt(g, '1')}.y AS STRING), ']')"
    )
    return (
        f"CASE WHEN {g}.kind = 'POINT' THEN "
        f"concat('{{\"type\":\"Point\",\"coordinates\":', {one}, '}}') "
        f"WHEN {g}.kind = 'LINESTRING' THEN "
        f"concat('{{\"type\":\"LineString\",\"coordinates\":[', {many}, ']}}') "
        f"WHEN {g}.kind = 'POLYGON' THEN "
        f"concat('{{\"type\":\"Polygon\",\"coordinates\":[[', {many}, ',', {one}, ']]}}') "
        "END"
    )


def st_geom_from_geojson(gj: str) -> str:
    """≈ ST_GeomFromGeoJSON — pure-JVM parse: dispatch on $.type, then
    from_json the coordinates array at the kind's nesting depth (the
    heterogeneous-schema trick; no Python). Polygon keeps the outer ring
    and drops the closing vertex (our rings are implicitly closed)."""
    typ = f"get_json_object({gj}, '$.type')"
    coords = f"get_json_object({gj}, '$.coordinates')"
    pt = f"from_json({coords}, 'array<double>')"
    line = f"from_json({coords}, 'array<array<double>>')"
    ring = f"element_at(from_json({coords}, 'array<array<array<double>>>'), 1)"
    as_pts = lambda arr: (
        f"transform({arr}, c -> named_struct('x', element_at(c, 1), 'y', element_at(c, 2)))"
    )
    ring_pts = as_pts(ring)
    ring_trim = (
        f"IF(size({ring_pts}) > 1 AND element_at({ring_pts}, 1) = element_at({ring_pts}, -1), "
        f"slice({ring_pts}, 1, size({ring_pts}) - 1), {ring_pts})"
    )
    return (
        f"CASE WHEN {typ} = 'Point' THEN named_struct('kind', 'POINT', 'pts', "
        f"array(named_struct('x', element_at({pt}, 1), 'y', element_at({pt}, 2)))) "
        f"WHEN {typ} = 'LineString' THEN named_struct('kind', 'LINESTRING', 'pts', {as_pts(line)}) "
        f"WHEN {typ} = 'Polygon' THEN named_struct('kind', 'POLYGON', 'pts', {ring_trim}) "
        "END"
    )


# ---------------------------------------------------------------------
# Registry entries (SqlLibrary.SPATIAL analog): name → template builder
# ---------------------------------------------------------------------



# ---------------------------------------------------------------------
# Batch 3: grids, ellipse, closest/furthest coordinates, line relations
# ---------------------------------------------------------------------


def st_make_ellipse(p: str, w: str, h: str, segs: int = 32) -> str:
    """~ ST_MakeEllipse(point, width, height) (SpatialTypeFunctions.java:420,
    JTS GeometricShapeFactory.createEllipse): axis-aligned ellipse centred
    on p with full width w / height h, discretized as a `segs`-gon (JTS
    defaults to 100 vertices; 32 here, same inscribed-polygon contract as
    ST_Buffer). NULL for non-POINT input, as the reference returns null."""
    cx, cy = f"{_pt(p, '1')}.x", f"{_pt(p, '1')}.y"
    ang = f"2.0 * pi() * (k - 1) / {segs}.0"
    ring = (
        f"transform(sequence(1, {segs}), k -> named_struct("
        f"'x', {cx} + CAST({w} AS DOUBLE) / 2.0 * cos({ang}), "
        f"'y', {cy} + CAST({h} AS DOUBLE) / 2.0 * sin({ang})))"
    )
    return (
        f"CASE WHEN {p}.kind = 'POINT' THEN "
        f"named_struct('kind', 'POLYGON', 'pts', {ring}) END"
    )


def _grid_parts(g: str, dx: str, dy: str):
    """Shared cell math of GridEnumerable (SpatialTypeFunctions.java:1815-1828):
    base = floor(min/delta), span = floor((max-min)/delta) + 1."""
    ddx, ddy = f"CAST({dx} AS DOUBLE)", f"CAST({dy} AS DOUBLE)"
    min_x = f"({ddx} * floor({_xacc(g, 'min', 'x')} / {ddx}))"
    min_y = f"({ddy} * floor({_xacc(g, 'min', 'y')} / {ddy}))"
    span_x = f"(CAST(floor(({_xacc(g, 'max', 'x')} - {_xacc(g, 'min', 'x')}) / {ddx}) AS INT) + 1)"
    span_y = f"(CAST(floor(({_xacc(g, 'max', 'y')} - {_xacc(g, 'min', 'y')}) / {ddy}) AS INT) + 1)"
    return ddx, ddy, min_x, min_y, span_x, span_y


def st_make_grid(g: str, dx: str, dy: str) -> str:
    """~ ST_MakeGrid (SqlSpatialTypeFunctions.java:67 + GridEnumerable,
    SpatialTypeFunctions.java:1803): regular grid of deltaX x deltaY cells
    covering the envelope of g, aligned to multiples of the deltas. The
    reference exposes it as a table function; here it returns
    array<geom> - `explode()` recovers the table form. Each cell is the
    reference's (left,bottom)-(right,top) rectangle ring."""
    ddx, ddy, min_x, min_y, span_x, span_y = _grid_parts(g, dx, dy)
    left = f"({min_x} + xi * {ddx})"
    bottom = f"({min_y} + yi * {ddy})"
    mk = lambda x, y: f"named_struct('x', {x}, 'y', {y})"
    cell = (
        f"named_struct('kind', 'POLYGON', 'pts', array("
        f"{mk(left, bottom)}, {mk(f'{left} + {ddx}', bottom)}, "
        f"{mk(f'{left} + {ddx}', f'{bottom} + {ddy}')}, {mk(left, f'{bottom} + {ddy}')}))"
    )
    return (
        f"flatten(transform(sequence(0, {span_y} - 1), yi -> "
        f"transform(sequence(0, {span_x} - 1), xi -> {cell})))"
    )


def st_make_grid_points(g: str, dx: str, dy: str) -> str:
    """~ ST_MakeGridPoints: the same grid's cell centres
    ((x + 0.5) * deltaX, SpatialTypeFunctions.java:1840-1841)."""
    ddx, ddy, min_x, min_y, span_x, span_y = _grid_parts(g, dx, dy)
    px = f"{min_x} + (xi + 0.5D) * {ddx}"
    py = f"{min_y} + (yi + 0.5D) * {ddy}"
    return (
        f"flatten(transform(sequence(0, {span_y} - 1), yi -> "
        f"transform(sequence(0, {span_x} - 1), xi -> {make_point(px, py)})))"
    )


def _extreme_coordinate(p: str, g: str, op: str) -> str:
    """argmin/argmax vertex of g by distance to point p, as a POINT.
    ~ ST_ClosestCoordinate / ST_FurthestCoordinate
    (SpatialTypeFunctions.java:1546,1577). Divergence (disclosed): on
    ties the reference returns a MULTIPOINT of all extremes; the struct
    model has no multi kind, so the lowest-index extreme wins."""
    px, py = f"{_pt(p, '1')}.x", f"{_pt(p, '1')}.y"
    d = lambda q: f"(pow({q}.x - {px}, 2) + pow({q}.y - {py}, 2))"
    acc_t = "CAST(NULL AS struct<x: double, y: double>)"
    fold = (
        f"aggregate({g}.pts, {acc_t}, (acc, q) -> "
        f"CASE WHEN acc IS NULL OR {d('q')} {op} {d('acc')} THEN q ELSE acc END)"
    )
    return (
        f"CASE WHEN {p}.kind = 'POINT' THEN "
        f"named_struct('kind', 'POINT', 'pts', array({fold})) END"
    )


def st_closest_coordinate(p: str, g: str) -> str:
    return _extreme_coordinate(p, g, "<")


def st_furthest_coordinate(p: str, g: str) -> str:
    return _extreme_coordinate(p, g, ">")


def st_closest_point(g1: str, g2: str) -> str:
    """~ ST_ClosestPoint(geom1, geom2) (SpatialTypeFunctions.java:1569,
    JTS DistanceOp.nearestPoints[0]): the point OF g1 nearest to g2.
    Supported operand shapes: g2 POINT with g1 POINT (itself), g1
    POLYGON containing g2 (g2 itself - distance 0), or g1 chain edges
    (clamped per-segment projection, min-distance candidate). Other
    combinations NULL (refuse-over-wrong)."""
    px, py = f"{_pt(g2, '1')}.x", f"{_pt(g2, '1')}.y"
    a, b = _pt(g1, "i"), _edge_b(g1, "i")
    ax, ay, bx, by = f"{a}.x", f"{a}.y", f"{b}.x", f"{b}.y"
    len2 = f"(pow({bx} - {ax}, 2) + pow({by} - {ay}, 2))"
    t_raw = f"(({px} - {ax}) * ({bx} - {ax}) + ({py} - {ay}) * ({by} - {ay})) / ({len2} + 1e-300)"
    t = f"greatest(CAST(0.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE), {t_raw}))"
    qx = f"({ax} + {t} * ({bx} - {ax}))"
    qy = f"({ay} + {t} * ({by} - {ay}))"
    n_edges = f"({_n(g1)} - IF({g1}.kind = 'POLYGON', 0, 1))"
    best = (
        f"array_min(transform(sequence(1, {n_edges}), i -> named_struct("
        f"'d', sqrt(pow({px} - {qx}, 2) + pow({py} - {qy}, 2)), 'x', {qx}, 'y', {qy})))"
    )
    return (
        f"CASE WHEN {g2}.kind <> 'POINT' THEN CAST(NULL AS {GEOM_TYPE}) "
        f"WHEN {g1}.kind = 'POINT' THEN {g1} "
        f"WHEN {g1}.kind = 'POLYGON' AND {st_contains(g1, g2)} THEN {g2} "
        f"WHEN {_n(g1)} >= 2 THEN named_struct('kind', 'POINT', 'pts', "
        f"array(named_struct('x', {best}.x, 'y', {best}.y))) END"
    )


def st_crosses(g1: str, g2: str) -> str:
    """~ ST_Crosses (SpatialTypeFunctions.java:1066, JTS `crosses`) for
    LINESTRING x LINESTRING: TRUE iff some edge pair crosses properly
    (strictly opposite orientations both ways - an interior/interior
    0-dimensional intersection). Other kind combinations NULL; crossings
    that coincide exactly with a vertex are reported FALSE (the strict
    test sees a collinear touch - disclosed)."""
    e1 = f"sequence(1, {_n(g1)} - 1)"
    e2 = f"sequence(1, {_n(g2)} - 1)"
    a1, b1 = _pt(g1, "i"), _edge_b(g1, "i")
    a2, b2 = _pt(g2, "j"), _edge_b(g2, "j")
    d1, d2 = _orient(a2, b2, a1), _orient(a2, b2, b1)
    d3, d4 = _orient(a1, b1, a2), _orient(a1, b1, b2)
    proper = (
        f"(( ({d1} > 0 AND {d2} < 0) OR ({d1} < 0 AND {d2} > 0) ) AND "
        f"( ({d3} > 0 AND {d4} < 0) OR ({d3} < 0 AND {d4} > 0) ))"
    )
    return (
        f"CASE WHEN {g1}.kind = 'LINESTRING' AND {g2}.kind = 'LINESTRING' "
        f"THEN exists({e1}, i -> exists({e2}, j -> {proper})) END"
    )


def _on_boundary(g: str, p: str) -> str:
    """Point p lies on the vertex-chain boundary of g (ring closed for
    polygons): some edge has p collinear and inside its bounding box."""
    edges = f"sequence(1, {_n(g)} - IF({g}.kind = 'POLYGON', 0, 1))"
    a, b = _pt(g, "i"), _edge_b(g, "i")
    q = _pt(p, "1")
    return (
        f"exists({edges}, i -> {_orient(a, b, q)} = 0 AND {_on_segment(a, b, q)})"
    )


def st_touches(g1: str, g2: str) -> str:
    """~ ST_Touches (SpatialTypeFunctions.java:1128, JTS `touches`):
    boundaries intersect, interiors do not. Supported shapes - POINT vs
    LINESTRING (point at an endpoint), POINT vs POLYGON (point on the
    ring); symmetric. Line/polygon pairs NULL (DE-9IM interior tests on
    chains are out of the pure-SQL tier's scope)."""

    def point_touch(p, g):
        first, last = _pt(g, "1"), _pt(g, _n(g))
        q = _pt(p, "1")
        at_end = (
            f"(({q}.x = {first}.x AND {q}.y = {first}.y) OR "
            f"({q}.x = {last}.x AND {q}.y = {last}.y))"
        )
        return (
            f"CASE WHEN {g}.kind = 'LINESTRING' THEN {at_end} "
            f"WHEN {g}.kind = 'POLYGON' THEN {_on_boundary(g, p)} "
            f"WHEN {g}.kind = 'POINT' THEN false END"
        )

    return (
        f"CASE WHEN {g1}.kind = 'POINT' THEN {point_touch(g1, g2)} "
        f"WHEN {g2}.kind = 'POINT' THEN {point_touch(g2, g1)} END"
    )


# ---------------------------------------------------------------------
# batch 4 — constructive geometry + geometry collections
#
# ≈ SpatialTypeFunctions.java ST_Intersection / ST_Union / ST_Difference
# / ST_ConvexHull / ST_Collect / ST_GeometryN (the reference delegates
# to JTS OverlayOp). Spark-first design:
#   * a MULTI-geometry / GEOMETRYCOLLECTION is an `array<geom>` of
#     simple geometries ("parts" form) — explode()/size()/element_at()
#     are the native Spark accessors, ST_GeometryN/ST_Collect wrap them;
#   * ST_Intersection is pure SQL: Sutherland–Hodgman polygon clipping
#     as an aggregate() over clip edges whose accumulator is the vertex
#     array, the per-half-plane clip a flatten(transform(...)) over
#     subject edges — nested higher-order functions, JVM codegen, no
#     UDF, no shuffle, embarrassingly parallel at 100 TB. Exact when
#     the clip operand is convex (the S-H precondition);
#   * unsupported configurations raise_error() AT RUNTIME (loud, not
#     wrong) instead of returning an approximation: concave∩concave,
#     overlapping non-nested unions, partial-overlap differences;
#   * ST_ConvexHull is the documented Pandas-UDF slow path (monotone
#     chain), same contract as ST_GeomFromText — a per-row stack
#     algorithm that SQL lambdas cannot express (no loop-until-fixpoint).
# ---------------------------------------------------------------------

_EMPTY_PTS = "CAST(array() AS array<struct<x: double, y: double>>)"


def _let1(val: str, var: str, body: str) -> str:
    """SQL let-binding: evaluate `val` once and expose it as lambda
    variable `var` inside `body` (the transform-over-one-element trick —
    Spark SQL has no LET). Without this, operators that mention an
    operand k times inside helpers that are themselves substituted m
    times blow up multiplicatively: ST_Area(ST_Intersection(a, b)) was
    a 7 MB expression by textual substitution, ~20 KB let-bound."""
    return f"element_at(transform(array({val}), {var} -> {body}), 1)"


def _signed_area2(g: str) -> str:
    """Twice the signed shoelace area (>0 = counter-clockwise ring)."""
    a, b = _pt(g, "i"), _edge_b(g, "i")
    cross = f"({a}.x * {b}.y - {b}.x * {a}.y)"
    return (
        f"aggregate({_edges(g, True)}, CAST(0.0 AS DOUBLE), "
        f"(acc, i) -> acc + {cross})"
    )


def st_is_convex(g: str) -> str:
    """TRUE iff the polygon's ring is convex: the cross product at every
    vertex has one sign (collinear zeros allowed)."""
    n = _n(g)
    a = _pt(g, "i")
    b = f"element_at({g}.pts, pmod(i, {n}) + 1)"
    c = f"element_at({g}.pts, pmod(i + 1, {n}) + 1)"
    crosses = f"transform(sequence(1, {n}), i -> {_orient(a, b, c)})"
    return (
        f"({g}.kind = 'POLYGON' AND {n} >= 3 AND "
        f"(forall({crosses}, c -> c >= -1e-12) OR "
        f"forall({crosses}, c -> c <= 1e-12)))"
    )


def _as_ccw(g: str) -> str:
    """Normalize ring orientation to counter-clockwise (reverse when the
    signed area is negative) — the S-H clip's 'inside = left of directed
    edge' rule needs it."""
    return (
        f"IF({_signed_area2(g)} >= 0, {g}, "
        f"named_struct('kind', {g}.kind, 'pts', reverse({g}.pts)))"
    )


def _sh_clip(subject_pts: str, clip: str) -> str:
    """Sutherland–Hodgman core: clip the vertex array `subject_pts` by
    every directed edge of CCW convex polygon `clip`. Outer aggregate()
    folds over clip edges (accumulator = surviving vertex array); the
    inner flatten(transform(...)) emits 0–2 vertices per subject edge
    (keep Q / entering intersection+Q / leaving intersection / drop).
    The IF(size = 0) guard matters: sequence(1, 0) is DESCENDING in
    Spark, not empty."""
    nc = f"size({clip}.pts)"
    A = f"element_at({clip}.pts, j)"
    B = f"element_at({clip}.pts, pmod(j, {nc}) + 1)"

    def side(pt: str) -> str:  # >=0: on or left of A->B
        return (
            f"(({B}.x - {A}.x) * ({pt}.y - {A}.y) - "
            f"({B}.y - {A}.y) * ({pt}.x - {A}.x))"
        )

    P = "element_at(pts, i)"
    Q = "element_at(pts, pmod(i, size(pts)) + 1)"
    sp, sq = side(P), side(Q)
    # PQ × infinite line AB; the crossing branches below imply strictly
    # opposite sides, so the denominator cannot be 0 there
    denom = (
        f"(({Q}.x - {P}.x) * ({B}.y - {A}.y) - "
        f"({Q}.y - {P}.y) * ({B}.x - {A}.x))"
    )
    t = (
        f"((({A}.x - {P}.x) * ({B}.y - {A}.y) - "
        f"({A}.y - {P}.y) * ({B}.x - {A}.x)) / {denom})"
    )
    ix = (
        f"named_struct('x', {P}.x + {t} * ({Q}.x - {P}.x), "
        f"'y', {P}.y + {t} * ({Q}.y - {P}.y))"
    )
    # slice(array(Q), 1, 0) = typed empty array (bare array() won't
    # coerce to array<struct> inside CASE)
    step = (
        f"CASE WHEN {sq} >= 0 AND {sp} >= 0 THEN array({Q}) "
        f"WHEN {sq} >= 0 THEN array({ix}, {Q}) "
        f"WHEN {sp} >= 0 THEN array({ix}) "
        f"ELSE slice(array({Q}), 1, 0) END"
    )
    one_clip = f"flatten(transform(sequence(1, size(pts)), i -> {step}))"
    return (
        f"aggregate(sequence(1, {nc}), {subject_pts}, "
        f"(pts, j) -> IF(size(pts) = 0, pts, {one_clip}))"
    )


def _contains_xy(poly: str, qx: str, qy: str) -> str:
    """Ray-cast containment of bare coordinates (st_contains without the
    POINT-struct wrapper, for forall() probes over vertex arrays)."""
    a, b = _pt(poly, "i"), _edge_b(poly, "i")
    crosses = (
        f"(({a}.y > {qy}) != ({b}.y > {qy})) AND "
        f"({qx} < ({b}.x - {a}.x) * ({qy} - {a}.y) / ({b}.y - {a}.y) + {a}.x)"
    )
    return (
        f"((aggregate({_edges(poly, True)}, 0, "
        f"(acc, i) -> acc + IF({crosses}, 1, 0)) % 2) = 1)"
    )


def _poly_covers_poly(outer: str, inner: str) -> str:
    """Every vertex of `inner` strictly inside a CONVEX `outer`. The
    convexity gate is what makes vertex containment imply full
    containment: for a concave outer ring an inner edge can cross the
    notch with both endpoints inside (all-vertices-in would then claim
    a nest that isn't one — review finding r5). Concave-outer nests
    therefore fall through to the callers' runtime refusal, matching
    the refuse-over-wrong contract; boundary-touching nests likewise."""
    return (
        f"({st_is_convex(outer)} AND "
        f"forall({inner}.pts, q -> {_contains_xy(outer, 'q.x', 'q.y')}))"
    )


def st_intersection(g1: str, g2: str) -> str:
    """≈ ST_Intersection (JTS OverlayOp.INTERSECTION). Supported pairs:
    POINT∩any (boundary-inclusive distance test), POLYGON∩POLYGON when
    at least one operand is convex (that operand becomes the S-H clip —
    exact; the subject may be concave). A degenerate clip result (< 3
    surviving vertices: disjoint or point/edge touch) is the empty
    POLYGON. Anything else (concave∩concave, LINESTRING overlays)
    raises at runtime — loud, never approximate. Operands are let-bound
    (evaluated once) to keep the expression tree linear."""
    empty_pt = f"named_struct('kind', 'POINT', 'pts', {_EMPTY_PTS})"
    ga, gb = "cs_ga", "cs_gb"

    def poly_clip(subj: str, clip: str) -> str:
        # let-bind the CCW-normalized clip and the S-H result array too:
        # the clip is referenced at every edge test and the result three
        # times in the degeneracy guard
        pts = _let1(_as_ccw(clip), "cs_cc", _sh_clip(f"{subj}.pts", "cs_cc"))
        return _let1(
            pts,
            "cs_res",
            f"named_struct('kind', 'POLYGON', 'pts', "
            f"IF(size(cs_res) >= 3, cs_res, {_EMPTY_PTS}))",
        )

    body = (
        f"CASE WHEN {ga} IS NULL OR {gb} IS NULL THEN NULL "
        f"WHEN {ga}.kind = 'POINT' AND {gb}.kind = 'POINT' THEN "
        f"IF({ga}.pts = {gb}.pts, {ga}, {empty_pt}) "
        f"WHEN {ga}.kind = 'POINT' THEN "
        f"IF({st_distance(ga, gb)} = 0.0, {ga}, {empty_pt}) "
        f"WHEN {gb}.kind = 'POINT' THEN "
        f"IF({st_distance(ga, gb)} = 0.0, {gb}, {empty_pt}) "
        f"WHEN {ga}.kind = 'POLYGON' AND {gb}.kind = 'POLYGON' "
        f"AND {st_is_convex(gb)} THEN {poly_clip(ga, gb)} "
        f"WHEN {ga}.kind = 'POLYGON' AND {gb}.kind = 'POLYGON' "
        f"AND {st_is_convex(ga)} THEN {poly_clip(gb, ga)} "
        f"ELSE raise_error('ST_Intersection: supported for POINT pairs "
        f"and POLYGON/POLYGON with a convex operand; concave/concave and "
        f"LINESTRING overlays need a general clipper (refused, not "
        f"approximated)') END"
    )
    return _let1(g1, ga, _let1(g2, gb, body))


def st_union(g1: str, g2: str) -> str:
    """≈ ST_Union (JTS OverlayOp.UNION), returning the parts form
    `array<geom>` (a 1-part array is a simple geometry, 2 parts a
    MULTI-/GEOMETRYCOLLECTION — explode() recovers rows). Supported:
    empty/POINT absorption, disjoint operands (2 parts), fully nested
    polygons (outer wins). Overlapping non-nested boundaries need
    boundary-walking overlay — runtime refusal. Operands are let-bound
    (evaluated once)."""
    ga, gb = "cs_ga", "cs_gb"
    body = (
        f"CASE WHEN {st_is_empty(ga)} THEN array({gb}) "
        f"WHEN {st_is_empty(gb)} THEN array({ga}) "
        f"WHEN {ga}.kind = 'POINT' AND {gb}.kind = 'POINT' THEN "
        f"IF({ga}.pts = {gb}.pts, array({ga}), array({ga}, {gb})) "
        f"WHEN {ga}.kind = 'POINT' THEN "
        f"IF({st_distance(ga, gb)} = 0.0, array({gb}), array({ga}, {gb})) "
        f"WHEN {gb}.kind = 'POINT' THEN "
        f"IF({st_distance(ga, gb)} = 0.0, array({ga}), array({ga}, {gb})) "
        f"WHEN NOT {st_intersects(ga, gb)} THEN array({ga}, {gb}) "
        f"WHEN {ga}.kind = 'POLYGON' AND {gb}.kind = 'POLYGON' "
        f"AND {_poly_covers_poly(ga, gb)} THEN array({ga}) "
        f"WHEN {ga}.kind = 'POLYGON' AND {gb}.kind = 'POLYGON' "
        f"AND {_poly_covers_poly(gb, ga)} THEN array({gb}) "
        f"ELSE raise_error('ST_Union: overlapping non-nested union needs "
        f"boundary-walking overlay (refused, not approximated)') END"
    )
    return _let1(g1, ga, _let1(g2, gb, body))


def st_difference(g1: str, g2: str) -> str:
    """≈ ST_Difference (JTS OverlayOp.DIFFERENCE). Supported: empty /
    disjoint subtrahend (identity), POINT minuend (kept or emptied by
    the boundary-inclusive distance test), minuend fully inside the
    subtrahend (empty result). Partial polygon overlap would need the
    general clipper — runtime refusal. Operands are let-bound
    (evaluated once)."""
    empty_pt = f"named_struct('kind', 'POINT', 'pts', {_EMPTY_PTS})"
    empty_poly = f"named_struct('kind', 'POLYGON', 'pts', {_EMPTY_PTS})"
    ga, gb = "cs_ga", "cs_gb"
    body = (
        f"CASE WHEN {st_is_empty(gb)} THEN {ga} "
        f"WHEN {ga}.kind = 'POINT' THEN "
        f"IF({st_distance(ga, gb)} = 0.0, {empty_pt}, {ga}) "
        f"WHEN NOT {st_intersects(ga, gb)} THEN {ga} "
        f"WHEN {ga}.kind = 'POLYGON' AND {gb}.kind = 'POLYGON' "
        f"AND {_poly_covers_poly(gb, ga)} THEN {empty_poly} "
        f"ELSE raise_error('ST_Difference: partial-overlap difference "
        f"needs a general clipper (refused, not approximated)') END"
    )
    return _let1(g1, ga, _let1(g2, gb, body))


def register_spatial_functions() -> None:
    """Install the ST_ rows into the function registry. Templates call
    the expression builders above with the {i} placeholders so
    registry.translate() works identically to every other function."""
    from calcite_spark.functions.registry import _reg

    SPATIAL = "SPATIAL"
    _reg("ST_MAKEPOINT", make_point("{0}", "{1}"), (2,), libs=(SPATIAL,))
    _reg("ST_POINT", make_point("{0}", "{1}"), (2,), libs=(SPATIAL,))
    _reg("ST_MAKELINE", make_line("{0}", "{1}"), (2,), libs=(SPATIAL,))
    _reg("ST_X", st_x("{0}"), (1,), libs=(SPATIAL,))
    _reg("ST_Y", st_y("{0}"), (1,), libs=(SPATIAL,))
    _reg("ST_DISTANCE", st_distance("{0}", "{1}"), (2,), libs=(SPATIAL,))
    _reg("ST_DWITHIN", st_dwithin("{0}", "{1}", "{2}"), (3,), libs=(SPATIAL,))
    _reg("ST_CONTAINS", st_contains("{0}", "{1}"), (2,), libs=(SPATIAL,), kind="predicate")
    _reg("ST_WITHIN", st_contains("{1}", "{0}"), (2,), libs=(SPATIAL,), kind="predicate")
    _reg("ST_AREA", st_area("{0}"), (1,), libs=(SPATIAL,))
    _reg("ST_LENGTH", st_length("{0}", closed=False), (1,), libs=(SPATIAL,))
    _reg("ST_PERIMETER", st_length("{0}", closed=True), (1,), libs=(SPATIAL,))
    _reg("ST_CENTROID", st_centroid("{0}"), (1,), libs=(SPATIAL,))
    _reg("ST_ENVELOPE", st_envelope("{0}"), (1,), libs=(SPATIAL,))
    _reg("ST_NUMPOINTS", st_num_points("{0}"), (1,), libs=(SPATIAL,))
    _reg("ST_NPOINTS", st_num_points("{0}"), (1,), libs=(SPATIAL,))
    _reg("ST_POINTN", st_point_n("{0}", "{1}"), (2,), libs=(SPATIAL,))
    _reg("ST_STARTPOINT", st_point_n("{0}", "1"), (1,), libs=(SPATIAL,))
    _reg("ST_ENDPOINT", st_point_n("{0}", f"size({{0}}.pts)"), (1,), libs=(SPATIAL,))
    _reg("ST_ASTEXT", st_as_text("{0}"), (1,), libs=(SPATIAL,))
    _reg("ST_ASWKT", st_as_text("{0}"), (1,), libs=(SPATIAL,))
    _reg("ST_TRANSLATE", st_translate("{0}", "{1}", "{2}"), (3,), libs=(SPATIAL,))
    _reg("ST_SCALE", st_scale("{0}", "{1}", "{2}"), (3,), libs=(SPATIAL,))
    _reg("ST_ROTATE", st_rotate("{0}", "{1}"), (2,), libs=(SPATIAL,))
    _reg("ST_FLIPCOORDINATES", st_flip_coordinates("{0}"), (1,), libs=(SPATIAL,))
    _reg("ST_REVERSE", st_reverse("{0}"), (1,), libs=(SPATIAL,))
    _reg("ST_GEOMETRYTYPE", st_geometry_type("{0}"), (1,), libs=(SPATIAL,))
    _reg("ST_DIMENSION", st_dimension("{0}"), (1,), libs=(SPATIAL,))
    _reg("ST_COORDDIM", "2", (1,), libs=(SPATIAL,))
    _reg("ST_NUMGEOMETRIES", f"CASE WHEN {{0}}.kind IS NOT NULL THEN 1 END", (1,), libs=(SPATIAL,))
    _reg("ST_ISEMPTY", st_is_empty("{0}"), (1,), libs=(SPATIAL,), kind="predicate")
    _reg("ST_ISCLOSED", st_is_closed("{0}"), (1,), libs=(SPATIAL,), kind="predicate")
    _reg("ST_XMIN", _xacc("{0}", "min", "x"), (1,), libs=(SPATIAL,))
    _reg("ST_XMAX", _xacc("{0}", "max", "x"), (1,), libs=(SPATIAL,))
    _reg("ST_YMIN", _xacc("{0}", "min", "y"), (1,), libs=(SPATIAL,))
    _reg("ST_YMAX", _xacc("{0}", "max", "y"), (1,), libs=(SPATIAL,))
    _reg("ST_INTERSECTS", st_intersects("{0}", "{1}"), (2,), libs=(SPATIAL,), kind="predicate")
    _reg("ST_DISJOINT", st_disjoint("{0}", "{1}"), (2,), libs=(SPATIAL,), kind="predicate")
    _reg("ST_ORDERINGEQUALS", st_ordering_equals("{0}", "{1}"), (2,), libs=(SPATIAL,), kind="predicate")
    _reg("ST_BUFFER", st_buffer("{0}", "{1}"), (2,), libs=(SPATIAL,))
    _reg("ST_MAKEENVELOPE", st_make_envelope("{0}", "{1}", "{2}", "{3}"), (4,), libs=(SPATIAL,))
    _reg("ST_EXPAND", st_expand("{0}", "{1}"), (2,), libs=(SPATIAL,))
    _reg(
        "ST_ENVELOPESINTERSECT",
        st_envelopes_intersect("{0}", "{1}"),
        (2,),
        libs=(SPATIAL,),
        kind="predicate",
    )
    _reg("ST_MAXDISTANCE", st_max_distance("{0}", "{1}"), (2,), libs=(SPATIAL,))
    _reg("ST_ISRECTANGLE", st_is_rectangle("{0}"), (1,), libs=(SPATIAL,), kind="predicate")
    _reg("ST_ISSIMPLE", st_is_simple("{0}"), (1,), libs=(SPATIAL,), kind="predicate")
    _reg("ST_ISRING", st_is_ring("{0}"), (1,), libs=(SPATIAL,), kind="predicate")
    _reg("ST_ISVALID", st_is_valid("{0}"), (1,), libs=(SPATIAL,), kind="predicate")
    _reg(
        "ST_ADDPOINT",
        st_add_point("{0}", "{1}", "{2}"),
        (2, 3),
        libs=(SPATIAL,),
        defaults=("-1",),
    )
    _reg("ST_REMOVEPOINT", st_remove_point("{0}", "{1}"), (2,), libs=(SPATIAL,))
    _reg("ST_REMOVEREPEATEDPOINTS", st_remove_repeated_points("{0}"), (1,), libs=(SPATIAL,))
    _reg("ST_PROJECTPOINT", st_project_point("{0}", "{1}"), (2,), libs=(SPATIAL,))
    _reg("ST_ASGEOJSON", st_as_geojson("{0}"), (1,), libs=(SPATIAL,))
    _reg("ST_GEOMFROMGEOJSON", st_geom_from_geojson("{0}"), (1,), libs=(SPATIAL,))
    # our geometries carry no SRID; 0 is the unset-SRID convention the
    # reference uses for geometries built without one (ST_SetSRID is
    # refused rather than a lying no-op)
    _reg("ST_SRID", "0", (1,), libs=(SPATIAL,))
    _reg(
        "ST_GEOMFROMTEXT",
        "cs_geom_from_text({0})",
        (1,),
        libs=(SPATIAL,),
        kind="udf",
        note="WKT parse: Pandas UDF slow path (register_spatial_udfs)",
    )
    # batch 3
    _reg("ST_EXTENT", st_envelope("{0}"), (1,), libs=(SPATIAL,),
         note="unary form per SpatialTypeFunctions.java:709 (= envelope)")
    _reg("ST_MAKEELLIPSE", st_make_ellipse("{0}", "{1}", "{2}"), (3,), libs=(SPATIAL,))
    _reg("ST_MAKEGRID", st_make_grid("{0}", "{1}", "{2}"), (3,), libs=(SPATIAL,),
         note="array<geom> form of the reference's table function; explode() recovers rows")
    _reg("ST_MAKEGRIDPOINTS", st_make_grid_points("{0}", "{1}", "{2}"), (3,), libs=(SPATIAL,))
    _reg("ST_CLOSESTCOORDINATE", st_closest_coordinate("{0}", "{1}"), (2,), libs=(SPATIAL,))
    _reg("ST_FURTHESTCOORDINATE", st_furthest_coordinate("{0}", "{1}"), (2,), libs=(SPATIAL,))
    _reg("ST_CLOSESTPOINT", st_closest_point("{0}", "{1}"), (2,), libs=(SPATIAL,))
    _reg("ST_CROSSES", st_crosses("{0}", "{1}"), (2,), libs=(SPATIAL,), kind="predicate")
    _reg("ST_TOUCHES", st_touches("{0}", "{1}"), (2,), libs=(SPATIAL,), kind="predicate")
    # batch 4 — constructive geometry + collections (array<geom> parts)
    _reg("ST_INTERSECTION", st_intersection("{0}", "{1}"), (2,), libs=(SPATIAL,),
         note="S-H clip, exact with a convex operand; runtime refusal otherwise")
    _reg("ST_UNION", st_union("{0}", "{1}"), (2,), libs=(SPATIAL,),
         note="returns parts array<geom> (multi-geometry form); explode() recovers rows")
    _reg("ST_DIFFERENCE", st_difference("{0}", "{1}"), (2,), libs=(SPATIAL,),
         note="identity/contained/point tiers; partial overlap refuses at runtime")
    _reg("ST_COLLECT", "array({0}, {1})", (2,), libs=(SPATIAL,),
         note="2-arg form; the aggregate form is collect_list(geom) over array<geom>")
    _reg("ST_GEOMETRYN", "element_at({0}, {1})", (2,), libs=(SPATIAL,),
         note="over the parts form array<geom>; size() is the parts count")
    _reg("ST_ISCONVEX", st_is_convex("{0}"), (1,), libs=(SPATIAL,), kind="predicate",
         note="convexity probe backing the ST_Intersection clip-operand gate")
    _reg(
        "ST_CONVEXHULL",
        "cs_convex_hull({0})",
        (1,),
        libs=(SPATIAL,),
        kind="udf",
        note="monotone chain: Pandas UDF slow path (register_spatial_udfs); "
        "materialize as a column before lambda-based ST_ consumers — Spark "
        "refuses Python UDFs inside SQL lambda functions",
    )


register_spatial_functions()


# ---------------------------------------------------------------------------
# compact-SQL surface: ST_*(...) macro calls inside plan expression text


_ST_CALL_RE = _re.compile(r"\bST_[A-Za-z_]\w*\s*\(", _re.I)


def expand_spatial_sql(text: str) -> str:
    """Expand compact ST_*(...) macro calls in SQL expression text into
    their registered struct-geometry lowerings (registry.translate) —
    the textual twin of calling translate() programmatically, so IR
    Filter/Project expressions can be written in the reference's
    compact spatial SQL (spatial.iq style) and still lower to pure
    Spark SQL. Arguments expand recursively (innermost calls first);
    unknown ST_ names raise rather than passing through to a Spark
    parse error far from the source."""
    from calcite_spark.functions import registry
    from calcite_spark.sql import lexer

    while True:
        m = lexer.search(_ST_CALL_RE, text)
        if m is None:
            return text
        name = text[m.start() : text.index("(", m.start())].strip()
        inner, i = lexer.balanced_span(text, m.end())
        args = [expand_spatial_sql(a) for a in lexer.split_top_level(inner)]
        try:
            lowered = registry.translate(name, *args, library="SPATIAL")
        except KeyError:
            raise KeyError(
                f"unknown spatial function {name!r} in expression"
            ) from None
        text = text[: m.start()] + lowered + text[i + 1 :]
