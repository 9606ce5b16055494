"""Spatial ST_ function tier (functions/spatial.py ≈
runtime/SpatialTypeFunctions.java): value checks against hand-computed
planar geometry — shoelace areas, ray-casting containment, point-segment
distances — plus WKT round-trips through both the pure-SQL emitter and
the Pandas-UDF parser.
"""

from __future__ import annotations

import math

import pytest

from calcite_spark.functions import registry
from calcite_spark.functions.spatial import parse_wkt_one

T = lambda name, *args: registry.translate(name, *args, library="SPATIAL")


def _one(spark, expr):
    return spark.sql(f"SELECT {expr} AS v").collect()[0].v


# geometry literals (SQL expressions)
P12 = T("ST_MAKEPOINT", "1", "2")
P45 = T("ST_MAKEPOINT", "4", "6")
# unit-square polygon, implicit ring closure
SQUARE = (
    "named_struct('kind', 'POLYGON', 'pts', array("
    "named_struct('x', 0.0d, 'y', 0.0d), named_struct('x', 4.0d, 'y', 0.0d), "
    "named_struct('x', 4.0d, 'y', 4.0d), named_struct('x', 0.0d, 'y', 4.0d)))"
)
LINE = (
    "named_struct('kind', 'LINESTRING', 'pts', array("
    "named_struct('x', 0.0d, 'y', 0.0d), named_struct('x', 3.0d, 'y', 0.0d), "
    "named_struct('x', 3.0d, 'y', 4.0d)))"
)


def test_point_accessors(spark):
    assert _one(spark, T("ST_X", P12)) == 1.0
    assert _one(spark, T("ST_Y", P12)) == 2.0
    assert _one(spark, T("ST_NUMPOINTS", LINE)) == 3


def test_distance_point_point(spark):
    # (1,2) → (4,6): 3-4-5 triangle
    assert _one(spark, T("ST_DISTANCE", P12, P45)) == pytest.approx(5.0)
    assert _one(spark, T("ST_DWITHIN", P12, P45, "5.0")) is True
    assert _one(spark, T("ST_DWITHIN", P12, P45, "4.9")) is False


def test_distance_point_linestring(spark):
    # point (5, 1) vs L-shaped line: nearest on vertical segment x=3 → 2.0
    p = T("ST_MAKEPOINT", "5", "1")
    assert _one(spark, T("ST_DISTANCE", p, LINE)) == pytest.approx(2.0)
    # symmetric dispatch
    assert _one(spark, T("ST_DISTANCE", LINE, p)) == pytest.approx(2.0)
    # beyond an endpoint: clamps to the vertex (3,4): point (3,6) → 2.0
    p2 = T("ST_MAKEPOINT", "3", "6")
    assert _one(spark, T("ST_DISTANCE", p2, LINE)) == pytest.approx(2.0)


def test_linestring_has_no_implicit_closing_edge(spark):
    # U-shaped OPEN line: (0,0)→(1,0)→(1,1)→(0,1). A point at (0,0.5)
    # sits ON the phantom last→first edge a closed ring would add — the
    # true distance to the open chain is 0.5, not 0.0.
    u_line = (
        "named_struct('kind', 'LINESTRING', 'pts', array("
        "named_struct('x', 0.0d, 'y', 0.0d), named_struct('x', 1.0d, 'y', 0.0d), "
        "named_struct('x', 1.0d, 'y', 1.0d), named_struct('x', 0.0d, 'y', 1.0d)))"
    )
    p = T("ST_MAKEPOINT", "0", "0.5")
    assert _one(spark, T("ST_DISTANCE", p, u_line)) == pytest.approx(0.5)
    # the same ring as a POLYGON keeps the closing edge: distance 0 from
    # a boundary point (inside via containment)
    u_poly = u_line.replace("'LINESTRING'", "'POLYGON'")
    assert _one(spark, T("ST_DISTANCE", T("ST_MAKEPOINT", "0.5", "0.5"), u_poly)) == 0.0


def test_distance_point_polygon(spark):
    inside = T("ST_MAKEPOINT", "2", "2")
    outside = T("ST_MAKEPOINT", "7", "2")
    assert _one(spark, T("ST_DISTANCE", inside, SQUARE)) == 0.0
    assert _one(spark, T("ST_DISTANCE", outside, SQUARE)) == pytest.approx(3.0)
    # linestring-linestring is out of scope → NULL, not an approximation
    assert _one(spark, T("ST_DISTANCE", LINE, LINE)) is None


def test_contains_ray_casting(spark):
    inside = T("ST_MAKEPOINT", "1", "1")
    outside = T("ST_MAKEPOINT", "5", "5")
    assert _one(spark, T("ST_CONTAINS", SQUARE, inside)) is True
    assert _one(spark, T("ST_CONTAINS", SQUARE, outside)) is False
    assert _one(spark, T("ST_WITHIN", inside, SQUARE)) is True
    # concave polygon (arrow): (0,0) (4,0) (4,4) (2,1.5) (0,4) — the
    # notch point (2, 3) is OUTSIDE the polygon
    arrow = (
        "named_struct('kind', 'POLYGON', 'pts', array("
        "named_struct('x', 0.0d, 'y', 0.0d), named_struct('x', 4.0d, 'y', 0.0d), "
        "named_struct('x', 4.0d, 'y', 4.0d), named_struct('x', 2.0d, 'y', 1.5d), "
        "named_struct('x', 0.0d, 'y', 4.0d)))"
    )
    notch = T("ST_MAKEPOINT", "2", "3")
    low = T("ST_MAKEPOINT", "2", "1")
    assert _one(spark, T("ST_CONTAINS", arrow, notch)) is False
    assert _one(spark, T("ST_CONTAINS", arrow, low)) is True


def test_area_length_perimeter_shoelace(spark):
    assert _one(spark, T("ST_AREA", SQUARE)) == pytest.approx(16.0)
    assert _one(spark, T("ST_LENGTH", LINE)) == pytest.approx(7.0)
    assert _one(spark, T("ST_PERIMETER", SQUARE)) == pytest.approx(16.0)
    # concave shoelace: triangle (0,0) (4,0) (0,3) = 6
    tri = (
        "named_struct('kind', 'POLYGON', 'pts', array("
        "named_struct('x', 0.0d, 'y', 0.0d), named_struct('x', 4.0d, 'y', 0.0d), "
        "named_struct('x', 0.0d, 'y', 3.0d)))"
    )
    assert _one(spark, T("ST_AREA", tri)) == pytest.approx(6.0)
    assert _one(spark, T("ST_AREA", P12)) == 0.0


def test_centroid_envelope(spark):
    c = _one(spark, T("ST_CENTROID", SQUARE))
    assert (c.pts[0].x, c.pts[0].y) == (2.0, 2.0)
    env = _one(spark, T("ST_ENVELOPE", LINE))
    assert env.kind == "POLYGON"
    xs = sorted({p.x for p in env.pts})
    ys = sorted({p.y for p in env.pts})
    assert xs == [0.0, 3.0] and ys == [0.0, 4.0]


def test_point_n_endpoints_makeline(spark):
    assert _one(spark, T("ST_STARTPOINT", LINE)).pts[0].x == 0.0
    assert _one(spark, T("ST_ENDPOINT", LINE)).pts[0].y == 4.0
    assert _one(spark, T("ST_POINTN", LINE, "2")).pts[0].x == 3.0
    ml = _one(spark, T("ST_MAKELINE", P12, P45))
    assert ml.kind == "LINESTRING" and len(ml.pts) == 2


def test_wkt_emit_and_parse_roundtrip(spark):
    assert _one(spark, T("ST_ASTEXT", P12)) == "POINT (1.0 2.0)"
    txt = _one(spark, T("ST_ASTEXT", SQUARE))
    assert txt.startswith("POLYGON ((0.0 0.0, 4.0 0.0,")
    assert txt.endswith("0.0 0.0))")  # ring closed in WKT output
    # parser (pure python, used by the pandas UDF)
    g = parse_wkt_one("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    assert g["kind"] == "POLYGON" and len(g["pts"]) == 4  # closing vertex dropped
    assert parse_wkt_one("LINESTRING (0 0, 3 4)")["pts"][1] == {"x": 3.0, "y": 4.0}
    assert parse_wkt_one("garbage") is None and parse_wkt_one(None) is None


def test_wkt_udf_roundtrip_on_cluster(spark):
    """cs_geom_from_text through an actual Spark plan: parse WKT, then
    every downstream ST_ function runs JVM-side on the struct."""
    from calcite_spark.catalog import Catalog

    Catalog(spark)  # registers the UDF on this session
    df = spark.createDataFrame(
        [("POINT (1 2)",), ("LINESTRING (0 0, 3 0, 3 4)",), ("bad wkt",)],
        "wkt string",
    )
    out = df.selectExpr(
        f"{T('ST_GEOMFROMTEXT', 'wkt')} AS g"
    ).selectExpr(
        "g.kind AS kind",
        f"{T('ST_NUMPOINTS', 'g')} AS n",
        f"{T('ST_LENGTH', 'g')} AS len",
    ).collect()
    by_kind = {r.kind: r for r in out}
    assert by_kind["POINT"].n == 1
    assert by_kind["LINESTRING"].len == pytest.approx(7.0)
    assert None in by_kind  # bad wkt → NULL geometry


def test_parse_wkt_is_total():
    """Hypothesis: parse_wkt_one returns a dict or None for ANY string —
    a malformed WKT must never crash the Pandas UDF task."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=60))
    def run(s):
        out = parse_wkt_one(s)
        assert out is None or (isinstance(out, dict) and out["pts"])

    run()
    # WKT-shaped prefixes with broken numerics
    for s in ("POINT (a b)", "LINESTRING (1 2, x)", "POLYGON ((1,2))", "POINT ()"):
        assert parse_wkt_one(s) is None, s


def test_spatial_library_gating(spark):
    """ST_ rows live in the SPATIAL library (SqlLibrary.SPATIAL analog):
    visible there, absent from STANDARD lookups."""
    assert registry.lookup("ST_DISTANCE", "SPATIAL") is not None
    assert registry.lookup("ST_DISTANCE", "BIG_QUERY") is None
    assert "SPATIAL" in registry.libraries()


def test_affine_family(spark):
    # translate then scale a point
    moved = T("ST_TRANSLATE", P12, "10", "20")
    assert _one(spark, T("ST_X", moved)) == 11.0
    assert _one(spark, T("ST_Y", moved)) == 22.0
    scaled = T("ST_SCALE", P12, "2", "3")
    assert (_one(spark, T("ST_X", scaled)), _one(spark, T("ST_Y", scaled))) == (2.0, 6.0)
    # rotate (1,0) by pi/2 → (0,1)
    p10 = T("ST_MAKEPOINT", "1", "0")
    rot = T("ST_ROTATE", p10, "pi() / 2")
    assert _one(spark, T("ST_X", rot)) == pytest.approx(0.0, abs=1e-12)
    assert _one(spark, T("ST_Y", rot)) == pytest.approx(1.0)
    flip = T("ST_FLIPCOORDINATES", P12)
    assert (_one(spark, T("ST_X", flip)), _one(spark, T("ST_Y", flip))) == (2.0, 1.0)


def test_accessors_and_predicates(spark):
    assert _one(spark, T("ST_GEOMETRYTYPE", LINE)) == "LINESTRING"
    assert _one(spark, T("ST_DIMENSION", SQUARE)) == 2
    assert _one(spark, T("ST_DIMENSION", P12)) == 0
    assert _one(spark, T("ST_XMIN", LINE)) == 0.0
    assert _one(spark, T("ST_XMAX", LINE)) == 3.0
    assert _one(spark, T("ST_YMAX", LINE)) == 4.0
    assert _one(spark, T("ST_ISEMPTY", P12)) is False
    assert _one(spark, T("ST_ISCLOSED", SQUARE)) is True
    assert _one(spark, T("ST_ISCLOSED", LINE)) is False
    assert _one(spark, T("ST_NUMGEOMETRIES", LINE)) == 1
    assert _one(spark, T("ST_ORDERINGEQUALS", LINE, LINE)) is True
    assert _one(spark, T("ST_ORDERINGEQUALS", LINE, T("ST_REVERSE", LINE))) is False


def test_intersects(spark):
    # point on polygon boundary: intersects (inclusive), not contained
    edge_pt = T("ST_MAKEPOINT", "0", "2")
    assert _one(spark, T("ST_INTERSECTS", edge_pt, SQUARE)) is True
    inside = T("ST_MAKEPOINT", "2", "2")
    outside = T("ST_MAKEPOINT", "9", "9")
    assert _one(spark, T("ST_INTERSECTS", inside, SQUARE)) is True
    assert _one(spark, T("ST_INTERSECTS", SQUARE, outside)) is False
    assert _one(spark, T("ST_DISJOINT", SQUARE, outside)) is True

    # crossing linestrings
    l1 = (
        "named_struct('kind', 'LINESTRING', 'pts', array("
        "named_struct('x', 0.0d, 'y', 0.0d), named_struct('x', 4.0d, 'y', 4.0d)))"
    )
    l2 = (
        "named_struct('kind', 'LINESTRING', 'pts', array("
        "named_struct('x', 0.0d, 'y', 4.0d), named_struct('x', 4.0d, 'y', 0.0d)))"
    )
    l3 = (
        "named_struct('kind', 'LINESTRING', 'pts', array("
        "named_struct('x', 10.0d, 'y', 10.0d), named_struct('x', 11.0d, 'y', 10.0d)))"
    )
    assert _one(spark, T("ST_INTERSECTS", l1, l2)) is True
    assert _one(spark, T("ST_INTERSECTS", l1, l3)) is False
    # collinear overlap without shared endpoints
    l4 = (
        "named_struct('kind', 'LINESTRING', 'pts', array("
        "named_struct('x', 1.0d, 'y', 1.0d), named_struct('x', 2.0d, 'y', 2.0d)))"
    )
    assert _one(spark, T("ST_INTERSECTS", l1, l4)) is True
    # line fully INSIDE a polygon (no edge crossing): containment probe
    inner_line = (
        "named_struct('kind', 'LINESTRING', 'pts', array("
        "named_struct('x', 1.0d, 'y', 1.0d), named_struct('x', 2.0d, 'y', 3.0d)))"
    )
    assert _one(spark, T("ST_INTERSECTS", inner_line, SQUARE)) is True
    assert _one(spark, T("ST_INTERSECTS", SQUARE, inner_line)) is True


def test_buffer_envelope_expand(spark):
    buf = T("ST_BUFFER", P12, "2")
    # 32-gon around (1,2) radius 2: envelope is [-1,3]x[0,4]; area close
    # to (but below) pi*r^2 for the inscribed polygon
    assert _one(spark, T("ST_XMIN", buf)) == pytest.approx(-1.0)
    assert _one(spark, T("ST_YMAX", buf)) == pytest.approx(4.0)
    area = _one(spark, T("ST_AREA", buf))
    assert 0.99 * math.pi * 4 < area < math.pi * 4
    assert _one(spark, T("ST_NUMPOINTS", buf)) == 32
    # non-point buffers refuse via NULL
    assert _one(spark, T("ST_BUFFER", LINE, "1")) is None

    env = T("ST_MAKEENVELOPE", "0", "0", "4", "4")
    assert _one(spark, T("ST_AREA", env)) == 16.0
    assert _one(spark, T("ST_ORDERINGEQUALS", env, SQUARE)) is True

    grown = T("ST_EXPAND", P12, "3")
    assert _one(spark, T("ST_XMIN", grown)) == -2.0
    assert _one(spark, T("ST_YMAX", grown)) == 5.0
    assert _one(spark, T("ST_AREA", grown)) == 36.0


def test_envelopes_intersect_maxdistance(spark):
    near = T("ST_MAKEPOINT", "5", "5")
    far = T("ST_MAKEPOINT", "50", "50")
    assert _one(spark, T("ST_ENVELOPESINTERSECT", SQUARE, SQUARE)) is True
    assert _one(spark, T("ST_ENVELOPESINTERSECT", SQUARE, near)) is False
    assert _one(spark, T("ST_ENVELOPESINTERSECT", SQUARE, T("ST_EXPAND", near, "1"))) is True
    assert _one(spark, T("ST_ENVELOPESINTERSECT", SQUARE, far)) is False
    # max distance point→square: to corner (4,4) from origin-ish point
    assert _one(spark, T("ST_MAXDISTANCE", T("ST_MAKEPOINT", "0", "0"), SQUARE)) == (
        pytest.approx(math.sqrt(32))
    )


def test_validity_predicates(spark):
    assert _one(spark, T("ST_ISRECTANGLE", SQUARE)) is True
    tri = (
        "named_struct('kind', 'POLYGON', 'pts', array("
        "named_struct('x', 0.0d, 'y', 0.0d), named_struct('x', 4.0d, 'y', 0.0d), "
        "named_struct('x', 2.0d, 'y', 3.0d)))"
    )
    assert _one(spark, T("ST_ISRECTANGLE", tri)) is False
    assert _one(spark, T("ST_ISVALID", tri)) is True
    assert _one(spark, T("ST_ISSIMPLE", LINE)) is True
    # bowtie: self-crossing ring
    bowtie = (
        "named_struct('kind', 'POLYGON', 'pts', array("
        "named_struct('x', 0.0d, 'y', 0.0d), named_struct('x', 4.0d, 'y', 4.0d), "
        "named_struct('x', 4.0d, 'y', 0.0d), named_struct('x', 0.0d, 'y', 4.0d)))"
    )
    assert _one(spark, T("ST_ISVALID", bowtie)) is False
    assert _one(spark, T("ST_ISSIMPLE", bowtie)) is False
    # self-crossing open linestring
    zig = (
        "named_struct('kind', 'LINESTRING', 'pts', array("
        "named_struct('x', 0.0d, 'y', 0.0d), named_struct('x', 4.0d, 'y', 0.0d), "
        "named_struct('x', 2.0d, 'y', 2.0d), named_struct('x', 2.0d, 'y', -2.0d)))"
    )
    assert _one(spark, T("ST_ISSIMPLE", zig)) is False
    # ring: closed + simple
    closed_square_line = (
        "named_struct('kind', 'LINESTRING', 'pts', array("
        "named_struct('x', 0.0d, 'y', 0.0d), named_struct('x', 1.0d, 'y', 0.0d), "
        "named_struct('x', 1.0d, 'y', 1.0d), named_struct('x', 0.0d, 'y', 1.0d), "
        "named_struct('x', 0.0d, 'y', 0.0d)))"
    )
    assert _one(spark, T("ST_ISRING", closed_square_line)) is True
    assert _one(spark, T("ST_ISRING", LINE)) is False


def test_point_surgery(spark):
    added = T("ST_ADDPOINT", LINE, T("ST_MAKEPOINT", "7", "8"))
    assert _one(spark, T("ST_NUMPOINTS", added)) == 4
    assert _one(spark, T("ST_X", T("ST_ENDPOINT", added))) == 7.0
    # 3-arg insert at 0-based position 0 → new start point
    pre = T("ST_ADDPOINT", LINE, T("ST_MAKEPOINT", "-1", "-1"), "0")
    assert _one(spark, T("ST_X", T("ST_STARTPOINT", pre))) == -1.0
    assert _one(spark, T("ST_NUMPOINTS", pre)) == 4
    removed = T("ST_REMOVEPOINT", LINE, "1")
    assert _one(spark, T("ST_NUMPOINTS", removed)) == 2
    assert _one(spark, T("ST_Y", T("ST_ENDPOINT", removed))) == 4.0
    dup_line = (
        "named_struct('kind', 'LINESTRING', 'pts', array("
        "named_struct('x', 0.0d, 'y', 0.0d), named_struct('x', 0.0d, 'y', 0.0d), "
        "named_struct('x', 3.0d, 'y', 0.0d), named_struct('x', 3.0d, 'y', 0.0d), "
        "named_struct('x', 3.0d, 'y', 4.0d)))"
    )
    slim = T("ST_REMOVEREPEATEDPOINTS", dup_line)
    assert _one(spark, T("ST_NUMPOINTS", slim)) == 3
    assert _one(spark, T("ST_ORDERINGEQUALS", slim, LINE)) is True


def test_project_point(spark):
    # (5,1) projects onto the vertical segment x=3 at (3,1)
    p = T("ST_MAKEPOINT", "5", "1")
    proj = T("ST_PROJECTPOINT", p, LINE)
    assert _one(spark, T("ST_X", proj)) == pytest.approx(3.0)
    assert _one(spark, T("ST_Y", proj)) == pytest.approx(1.0)
    # beyond the end: clamps to vertex (3,4)
    p2 = T("ST_MAKEPOINT", "4", "9")
    proj2 = T("ST_PROJECTPOINT", p2, LINE)
    assert _one(spark, T("ST_X", proj2)) == pytest.approx(3.0)
    assert _one(spark, T("ST_Y", proj2)) == pytest.approx(4.0)


def test_geojson_round_trip(spark):
    gj = _one(spark, T("ST_ASGEOJSON", P12))
    assert gj == '{"type":"Point","coordinates":[1.0,2.0]}'
    back = T("ST_GEOMFROMGEOJSON", f"'{gj}'")
    assert _one(spark, T("ST_ORDERINGEQUALS", back, P12)) is True
    for g in (LINE, SQUARE):
        gj = _one(spark, T("ST_ASGEOJSON", g))
        back = T("ST_GEOMFROMGEOJSON", f"'{gj}'")
        assert _one(spark, T("ST_ORDERINGEQUALS", back, g)) is True
    # external GeoJSON with a closed polygon ring parses to our open form
    ext = '{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}'
    assert _one(spark, T("ST_ORDERINGEQUALS", T("ST_GEOMFROMGEOJSON", f"'{ext}'"), SQUARE)) is True
    assert _one(spark, T("ST_SRID", P12)) == 0


# -- batch 3 ----------------------------------------------------------


def test_extent_alias(spark):
    """ST_Extent (unary, SpatialTypeFunctions.java:709) = envelope."""
    env = _one(spark, T("ST_EXTENT", LINE))
    assert env.kind == "POLYGON"
    xs = [p.x for p in env.pts]
    ys = [p.y for p in env.pts]
    assert (min(xs), max(xs), min(ys), max(ys)) == (0.0, 3.0, 0.0, 4.0)


def test_make_ellipse(spark):
    e = _one(spark, T("ST_MAKEELLIPSE", P12, "6", "4"))
    assert e.kind == "POLYGON" and len(e.pts) == 32
    # vertices satisfy the ellipse equation around (1,2), a=3 b=2
    for p in e.pts:
        assert ((p.x - 1) / 3.0) ** 2 + ((p.y - 2) / 2.0) ** 2 == pytest.approx(1.0)
    # non-point input -> NULL, like the reference
    assert _one(spark, T("ST_MAKEELLIPSE", LINE, "6", "4")) is None


def test_make_grid_matches_reference_cell_math(spark):
    """GridEnumerable (SpatialTypeFunctions.java:1815-1828): base =
    floor(min/delta), span = floor((max-min)/delta)+1 — the unit square
    [0,4]x[0,4] with delta 2 spans 3x3 cells aligned at 0."""
    cells = _one(spark, T("ST_MAKEGRID", SQUARE, "2", "2"))
    assert len(cells) == 9
    assert all(c.kind == "POLYGON" and len(c.pts) == 4 for c in cells)
    first = cells[0].pts
    assert (first[0].x, first[0].y) == (0.0, 0.0)
    assert (first[2].x, first[2].y) == (2.0, 2.0)
    pts = _one(spark, T("ST_MAKEGRIDPOINTS", SQUARE, "2", "2"))
    assert len(pts) == 9
    assert (pts[0].pts[0].x, pts[0].pts[0].y) == (1.0, 1.0)  # cell centre


def test_closest_furthest_coordinate(spark):
    # from (1,1): (0,0) d²=2 closest, (3,4) d²=13 uniquely furthest
    p11 = T("ST_MAKEPOINT", "1", "1")
    c = _one(spark, T("ST_CLOSESTCOORDINATE", p11, LINE))
    assert (c.pts[0].x, c.pts[0].y) == (0.0, 0.0)
    f = _one(spark, T("ST_FURTHESTCOORDINATE", p11, LINE))
    assert (f.pts[0].x, f.pts[0].y) == (3.0, 4.0)


def test_furthest_coordinate_tie_break(spark):
    # documented divergence (functions/spatial.py): on exact ties the
    # LOWEST-INDEX extreme wins. From (1,2), LINE's (3,0) and (3,4) are
    # both at d²=8 — (3,0) comes first in the coordinate list.
    f = _one(spark, T("ST_FURTHESTCOORDINATE", P12, LINE))
    assert (f.pts[0].x, f.pts[0].y) == (3.0, 0.0)


def test_closest_point(spark):
    # point of LINE closest to (1,2): foot on the vertical segment x=3
    # vs clamped (1,0) on the horizontal — (1,0) at distance 2 wins
    p = _one(spark, T("ST_CLOSESTPOINT", LINE, P12))
    assert (p.pts[0].x, p.pts[0].y) == (1.0, 0.0)
    # polygon containing the point -> the point itself (distance 0)
    p = _one(spark, T("ST_CLOSESTPOINT", SQUARE, P12))
    assert (p.pts[0].x, p.pts[0].y) == (1.0, 2.0)
    # non-point second operand refused -> NULL
    assert _one(spark, T("ST_CLOSESTPOINT", LINE, SQUARE)) is None


def test_crosses(spark):
    x_line = (
        "named_struct('kind', 'LINESTRING', 'pts', array("
        "named_struct('x', 1.0d, 'y', -1.0d), named_struct('x', 1.0d, 'y', 1.0d)))"
    )
    flat = (
        "named_struct('kind', 'LINESTRING', 'pts', array("
        "named_struct('x', 0.0d, 'y', 0.0d), named_struct('x', 3.0d, 'y', 0.0d)))"
    )
    assert _one(spark, T("ST_CROSSES", x_line, flat)) is True
    # parallel lines do not cross
    shifted = x_line.replace("'x', 1.0d", "'x', 9.0d")
    assert _one(spark, T("ST_CROSSES", shifted, flat)) is False
    # non-line operands -> NULL (refused shape)
    assert _one(spark, T("ST_CROSSES", P12, flat)) is None


def test_touches(spark):
    end = T("ST_MAKEPOINT", "3", "4")  # endpoint of LINE
    mid = T("ST_MAKEPOINT", "1", "0")  # interior of LINE
    assert _one(spark, T("ST_TOUCHES", end, LINE)) is True
    assert _one(spark, T("ST_TOUCHES", mid, LINE)) is False
    on_ring = T("ST_MAKEPOINT", "2", "0")  # on SQUARE's bottom edge
    inside = P12
    assert _one(spark, T("ST_TOUCHES", on_ring, SQUARE)) is True
    assert _one(spark, T("ST_TOUCHES", inside, SQUARE)) is False
    # symmetric dispatch
    assert _one(spark, T("ST_TOUCHES", SQUARE, on_ring)) is True


# ---------------------------------------------------------------------
# batch 4 — constructive geometry + collections
# ---------------------------------------------------------------------

def _poly(*xy):
    pts = ", ".join(f"named_struct('x', {x}d, 'y', {y}d)" for x, y in xy)
    return f"named_struct('kind', 'POLYGON', 'pts', array({pts}))"


# convex 2x2 square shifted to overlap SQUARE's top-right corner:
# [3,5]x[3,5] ∩ [0,4]x[0,4] = [3,4]x[3,4], area 1
OVERLAP = _poly((3.0, 3.0), (5.0, 3.0), (5.0, 5.0), (3.0, 5.0))
# concave L-shape (unit thickness arms of a 2x2 square missing the
# top-right 1x1 block)
LSHAPE = _poly((0.0, 0.0), (2.0, 0.0), (2.0, 1.0), (1.0, 1.0), (1.0, 2.0), (0.0, 2.0))
FAR = _poly((10.0, 10.0), (11.0, 10.0), (11.0, 11.0), (10.0, 11.0))
INNER = _poly((1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0))


def test_intersection_convex_convex(spark):
    out = _one(spark, T("ST_AREA", T("ST_INTERSECTION", SQUARE, OVERLAP)))
    assert out == pytest.approx(1.0)
    # symmetric
    out2 = _one(spark, T("ST_AREA", T("ST_INTERSECTION", OVERLAP, SQUARE)))
    assert out2 == pytest.approx(1.0)


def test_intersection_concave_subject_convex_clip(spark):
    # L-shape ∩ [0,2]x[0.5,2] (convex clip): removes the y<0.5 strip of
    # the bottom arm. Area = 3 (L) - 2*0.5 = 2.0
    clip = _poly((0.0, 0.5), (2.0, 0.5), (2.0, 2.0), (0.0, 2.0))
    out = _one(spark, T("ST_AREA", T("ST_INTERSECTION", LSHAPE, clip)))
    assert out == pytest.approx(2.0)
    # clip operand order: convex operand is picked as clip either way
    out2 = _one(spark, T("ST_AREA", T("ST_INTERSECTION", clip, LSHAPE)))
    assert out2 == pytest.approx(2.0)


def test_intersection_disjoint_is_empty(spark):
    g = T("ST_INTERSECTION", SQUARE, FAR)
    assert _one(spark, T("ST_ISEMPTY", g)) is True


def test_intersection_point_cases(spark):
    inside = T("ST_INTERSECTION", SQUARE, P12)  # (1,2) in [0,4]^2
    assert _one(spark, T("ST_ASTEXT", inside)) == "POINT (1.0 2.0)"
    outside = T("ST_INTERSECTION", T("ST_MAKEPOINT", "9", "9"), SQUARE)
    assert _one(spark, T("ST_ISEMPTY", outside)) is True


def test_intersection_concave_concave_refuses_at_runtime(spark):
    shifted_l = _poly(
        (0.5, 0.5), (2.5, 0.5), (2.5, 1.5), (1.5, 1.5), (1.5, 2.5), (0.5, 2.5)
    )
    with pytest.raises(Exception, match="ST_Intersection"):
        _one(spark, T("ST_INTERSECTION", LSHAPE, shifted_l))


def test_union_disjoint_and_nested(spark):
    parts = T("ST_UNION", SQUARE, FAR)
    assert _one(spark, f"size({parts})") == 2
    # ST_GeometryN over the parts form
    assert _one(spark, T("ST_AREA", T("ST_GEOMETRYN", parts, "1"))) == pytest.approx(16.0)
    assert _one(spark, T("ST_AREA", T("ST_GEOMETRYN", parts, "2"))) == pytest.approx(1.0)
    # nested: inner square inside SQUARE -> 1 part, the outer
    nested = T("ST_UNION", SQUARE, INNER)
    assert _one(spark, f"size({nested})") == 1
    assert _one(spark, T("ST_AREA", T("ST_GEOMETRYN", nested, "1"))) == pytest.approx(16.0)


def test_union_point_absorption(spark):
    absorbed = T("ST_UNION", P12, SQUARE)  # (1,2) inside
    assert _one(spark, f"size({absorbed})") == 1
    apart = T("ST_UNION", T("ST_MAKEPOINT", "9", "9"), SQUARE)
    assert _one(spark, f"size({apart})") == 2
    same = T("ST_UNION", P12, T("ST_MAKEPOINT", "1", "2"))
    assert _one(spark, f"size({same})") == 1


def test_union_overlapping_refuses_at_runtime(spark):
    with pytest.raises(Exception, match="ST_Union"):
        _one(spark, f"size({T('ST_UNION', SQUARE, OVERLAP)})")


def test_difference_tiers(spark):
    # disjoint subtrahend: identity
    ident = T("ST_DIFFERENCE", SQUARE, FAR)
    assert _one(spark, T("ST_AREA", ident)) == pytest.approx(16.0)
    # minuend inside subtrahend: empty
    gone = T("ST_DIFFERENCE", INNER, SQUARE)
    assert _one(spark, T("ST_ISEMPTY", gone)) is True
    # point minuend on/inside the subtrahend: empty; outside: identity
    assert _one(spark, T("ST_ISEMPTY", T("ST_DIFFERENCE", P12, SQUARE))) is True
    kept = T("ST_DIFFERENCE", T("ST_MAKEPOINT", "9", "9"), SQUARE)
    assert _one(spark, T("ST_ASTEXT", kept)) == "POINT (9.0 9.0)"
    # partial overlap: runtime refusal
    with pytest.raises(Exception, match="ST_Difference"):
        _one(spark, T("ST_AREA", T("ST_DIFFERENCE", SQUARE, OVERLAP)))


def test_collect(spark):
    parts = T("ST_COLLECT", P12, P45)
    assert _one(spark, f"size({parts})") == 2
    assert _one(spark, T("ST_X", T("ST_GEOMETRYN", parts, "2"))) == 4.0


def test_is_convex(spark):
    assert _one(spark, T("ST_ISCONVEX", SQUARE)) is True
    assert _one(spark, T("ST_ISCONVEX", LSHAPE)) is False
    assert _one(spark, T("ST_ISCONVEX", P12)) is False
    # clockwise square is still convex (sign-uniform crosses)
    cw = _poly((0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0))
    assert _one(spark, T("ST_ISCONVEX", cw)) is True


def test_spatial_udfs_register_once_per_session(spark, monkeypatch):
    """A second catalog on the same session registers no UDF; a new
    session gets both spatial UDFs when its first catalog opens."""
    from pyspark.sql.udf import UDFRegistration

    from calcite_spark.catalog import Catalog

    Catalog(spark)
    registered = []
    real = UDFRegistration.register

    def register(self, name, *args, **kwargs):
        registered.append(name)
        return real(self, name, *args, **kwargs)

    monkeypatch.setattr(UDFRegistration, "register", register)
    Catalog(spark)
    assert registered == []
    other = spark.newSession()
    Catalog(other)
    spatial = {"cs_geom_from_text", "cs_convex_hull"}
    assert spatial <= set(registered)
    assert all(other.catalog.functionExists(f) for f in spatial)


def test_convex_hull(spark):
    from calcite_spark.functions.spatial import register_spatial_udfs

    register_spatial_udfs(spark)

    # Spark refuses Python-UDF results inside SQL lambda functions, so
    # the hull must be materialized as a column before lambda-based ST_
    # functions (area, convexity) consume it — the documented pattern.
    def via_column(inner, outer_name):
        return spark.sql(
            f"SELECT {T(outer_name, 'h')} AS v FROM (SELECT {inner} AS h)"
        ).collect()[0].v

    # hull of the concave L-shape: the 5-gon (0,0)(2,0)(2,1)(1,2)(0,2)
    # — shoelace area 3.5 (the notch corner (1,1) drops out; (2,2) was
    # never an input vertex, so the hull is NOT the full 2x2 square)
    hull = T("ST_CONVEXHULL", LSHAPE)
    assert via_column(hull, "ST_AREA") == pytest.approx(3.5)
    assert via_column(hull, "ST_ISCONVEX") is True
    # collinear input degrades to a LINESTRING
    seg = (
        "named_struct('kind', 'LINESTRING', 'pts', array("
        "named_struct('x', 0.0d, 'y', 0.0d), named_struct('x', 1.0d, 'y', 1.0d), "
        "named_struct('x', 2.0d, 'y', 2.0d)))"
    )
    assert via_column(T("ST_CONVEXHULL", seg), "ST_GEOMETRYTYPE") == "LINESTRING"
    # single point degrades to POINT
    assert via_column(T("ST_CONVEXHULL", P12), "ST_GEOMETRYTYPE") == "POINT"


def test_convex_hull_unit():
    from calcite_spark.functions.spatial import convex_hull_one

    out = convex_hull_one(
        "POLYGON",
        [{"x": 0.0, "y": 0.0}, {"x": 2.0, "y": 0.0}, {"x": 2.0, "y": 1.0},
         {"x": 1.0, "y": 1.0}, {"x": 1.0, "y": 2.0}, {"x": 0.0, "y": 2.0}],
    )
    assert out["kind"] == "POLYGON"
    assert {(p["x"], p["y"]) for p in out["pts"]} == {
        (0.0, 0.0), (2.0, 0.0), (2.0, 1.0), (1.0, 2.0), (0.0, 2.0)
    }


def test_union_concave_outer_vertex_trap_refuses(spark):
    """All vertices of the second polygon sit inside the U's arms, but
    its bottom edge crosses the notch — vertex containment alone would
    claim a nest (review finding r5). The convexity gate on
    _poly_covers_poly must push this to the runtime refusal instead of
    returning the outer ring."""
    u_shape = _poly(
        (0.0, 0.0), (3.0, 0.0), (3.0, 3.0), (2.0, 3.0),
        (2.0, 1.0), (1.0, 1.0), (1.0, 3.0), (0.0, 3.0),
    )
    spanner = _poly((0.5, 2.5), (2.5, 2.5), (2.5, 2.8), (0.5, 2.8))
    with pytest.raises(Exception, match="ST_Union"):
        _one(spark, f"size({T('ST_UNION', u_shape, spanner)})")
    with pytest.raises(Exception, match="ST_Difference"):
        _one(spark, T("ST_AREA", T("ST_DIFFERENCE", spanner, u_shape)))
