"""Distributed spatial join — grid-cell bucketing over the planar
geometry struct (functions/spatial.py).

≈ the reference's SpatialRules.java, which rewrites ST_DWithin /
ST_Contains joins onto an ST_MakeGrid-style Hilbert-tile prefilter
(SpatialRules, core/src/main/java/org/apache/calcite/rel/rules/spatial).
The Spark-first shape is the classic PBSM / Sedona partition join:

  1. each geometry emits the grid cells its envelope covers
     (`explode` of a small per-row array — narrow, no Python);
  2. candidates come from a plain EQUI-join on the cell id — one hash
     shuffle on the cell key, exactly the LSH-bucket pattern used by
     llm/dedup.py, so skew/AQE handling is Spark's own;
  3. duplicate pairs (two geometries sharing several cells) are
     eliminated with the REFERENCE-POINT technique: a pair is emitted
     only in the single canonical cell that contains the top-left
     corner of their envelope intersection — a per-row filter, NOT a
     distinct (no second shuffle);
  4. a bounding-box prefilter, then the exact predicate, both
     whole-stage-codegen SQL.

At 100 TB the only shuffle is step 2's equi-join; cell_size tunes the
bucket fan-out exactly like LSH band count. All-pairs never happens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from calcite_spark.functions import spatial as S


def _cells_from_bounds(
    minx: str, maxx: str, miny: str, maxy: str, cell: float, expand: float
) -> str:
    lo_x = f"floor(({minx} - {expand!r}) / {cell!r})"
    hi_x = f"floor(({maxx} + {expand!r}) / {cell!r})"
    lo_y = f"floor(({miny} - {expand!r}) / {cell!r})"
    hi_y = f"floor(({maxy} + {expand!r}) / {cell!r})"
    return (
        f"flatten(transform(sequence({lo_x}, {hi_x}), ix -> "
        f"transform(sequence({lo_y}, {hi_y}), iy -> "
        "named_struct('ix', ix, 'iy', iy))))"
    )


def spatial_join(
    left: DataFrame,
    right: DataFrame,
    left_geom: str,
    right_geom: str,
    *,
    cell_size: float,
    predicate: str = "intersects",
    distance: float | None = None,
) -> DataFrame:
    """Join rows whose geometries satisfy `predicate`:

      * ``intersects`` — ST_Intersects(l, r)
      * ``dwithin``    — ST_DWithin(l, r, distance) (distance required;
        at least one side of each pair must be a POINT, the ST_Distance
        contract)

    Geometry columns are renamed __lg/__rg in the output; other column
    names must be disjoint between the two inputs (standard join rule).
    ``cell_size`` should be ≥ the typical envelope diagonal (and ≥ the
    dwithin distance) so most geometries land in O(1) cells.
    """
    if predicate == "dwithin":
        if distance is None:
            raise ValueError("dwithin requires distance=")
        expand = float(distance)
        exact = S.st_dwithin("__lg", "__rg", repr(expand))
    elif predicate == "intersects":
        expand = 0.0
        exact = S.st_intersects("__lg", "__rg")
    else:
        raise ValueError(f"unknown predicate {predicate!r}")

    # Envelope bounds are hoisted to per-ROW columns before the join
    # (r14, guide §2.3 "shuffle keys and metadata" / the same
    # per-pair→per-row argument as the cosine-norm hoist): the bbox
    # prefilter and the reference-point dedup below used to re-run
    # array_min/array_max(transform(pts, ...)) HOFs PER CANDIDATE PAIR
    # even though each bound depends on one side only. Same arithmetic,
    # evaluated once per row; candidate pairs ≫ rows at scale. The
    # 4×8-byte bounds ride the one cell-key shuffle.
    def bounds(g):
        return {
            f"{g}minx": S._xacc(g, "min", "x"),
            f"{g}maxx": S._xacc(g, "max", "x"),
            f"{g}miny": S._xacc(g, "min", "y"),
            f"{g}maxy": S._xacc(g, "max", "y"),
        }

    bbox = (
        f"(__lgminx - {expand!r} <= __rgmaxx AND "
        f"__rgminx <= __lgmaxx + {expand!r} AND "
        f"__lgminy - {expand!r} <= __rgmaxy AND "
        f"__rgminy <= __lgmaxy + {expand!r})"
    )
    canonical = (
        f"(__cell.ix = floor(greatest(__lgminx - {expand!r}, __rgminx) / {cell_size!r}) AND "
        f"__cell.iy = floor(greatest(__lgminy - {expand!r}, __rgminy) / {cell_size!r}))"
    )

    lc = left.withColumnRenamed(left_geom, "__lg")
    for name, expr in bounds("__lg").items():
        lc = lc.withColumn(name, F.expr(expr))
    lc = lc.withColumn(
        "__cell",
        F.explode(F.expr(_cells_from_bounds(
            "__lgminx", "__lgmaxx", "__lgminy", "__lgmaxy",
            cell_size, expand,
        ))),
    )
    rc = right.withColumnRenamed(right_geom, "__rg")
    for name, expr in bounds("__rg").items():
        rc = rc.withColumn(name, F.expr(expr))
    rc = rc.withColumn(
        "__cell",
        F.explode(F.expr(_cells_from_bounds(
            "__rgminx", "__rgmaxx", "__rgminy", "__rgmaxy",
            cell_size, 0.0,
        ))),
    )
    joined = lc.join(rc, on="__cell")
    return (
        joined.where(F.expr(canonical))
        .where(F.expr(bbox))
        .where(F.expr(exact))
        .drop("__cell", *bounds("__lg"), *bounds("__rg"))
    )
