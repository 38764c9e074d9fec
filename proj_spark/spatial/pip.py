"""Point-in-polygon join: cell-cover candidate equi-join + exact test.

The theta-join "point inside polygon" becomes:
  1. polygon -> set of covering cells at resolution z (bbox cover,
     exploded; analogue of the reference's grid bbox containment test,
     src/apply_gridshift.cpp:182+)
  2. equi-join points.cell == cover.cell  (hash join; the cover table is
     small -> Catalyst broadcasts it)
  3. exact point-in-ring test as the post-filter

The exact test is one ray-crossing count (`_ring_crossings`, pure Spark
SQL over an array<struct<lon,lat>> ring using aggregate() — no UDF,
stays JVM-side) over one ring edge list (`_ring_edges`): `pip_expr` is
that count mod 2, `pip_expr_multi` sums it over a polygon's rings, and
`cover_cells` tests its interior cells against the same edge list.

At 100 TB the points side never shuffles: the cover explode is tiny and
broadcast, and the exact filter is a map-side operation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from proj_spark.spatial import cells


def polygon_bbox(ring_col: Column) -> Column:
    """struct(minx, miny, maxx, maxy) of an array<struct<lon,lat>> ring."""
    return F.struct(
        F.array_min(F.transform(ring_col, lambda v: v["lon"])).alias("minx"),
        F.array_min(F.transform(ring_col, lambda v: v["lat"])).alias("miny"),
        F.array_max(F.transform(ring_col, lambda v: v["lon"])).alias("maxx"),
        F.array_max(F.transform(ring_col, lambda v: v["lat"])).alias("maxy"),
    )


def cover_cells(polygons: DataFrame, z: int, ring_col: str = "ring",
                id_col: str = "admin_id") -> DataFrame:
    """Explode each polygon into the quad-cells covering its bbox at zoom z.

    Returns (cell, <id_col>, ring) — one row per covering cell.  The
    sequence() x sequence() cross product is generated JVM-side; for admin
    polygons at sensible z the cover is 1..10^3 cells.
    """
    bbox = polygon_bbox(F.col(ring_col))
    p = polygons.withColumn("_bbox", bbox)
    x0 = cells.tile_x(F.col("_bbox.minx"), z)
    x1 = cells.tile_x(F.col("_bbox.maxx"), z)
    # note: tile_y DEcreases with latitude -> maxy gives the smaller y
    y0 = cells.tile_y(F.col("_bbox.maxy"), z)
    y1 = cells.tile_y(F.col("_bbox.miny"), z)
    p = (p.withColumn("_xs", F.sequence(x0, x1))
          .withColumn("_ys", F.sequence(y0, y1))
          .withColumn("_x", F.explode("_xs"))
          .withColumn("_y", F.explode("_ys")))
    # interior/boundary split: a cell certainly lies fully inside the
    # polygon when one of its corners is inside AND no ring edge's bbox
    # overlaps the cell rectangle (conservative: boundary-marking a few
    # extra cells costs only the exact test, never correctness).  Points
    # landing in interior cells skip the exact ray-cast entirely —
    # essential for continent-sized polygons whose cover is dominated by
    # interior cells.
    n = float(1 << z)
    cx0 = F.col("_x") / F.lit(n) * 360.0 - 180.0
    cx1 = (F.col("_x") + 1) / F.lit(n) * 360.0 - 180.0
    cy0 = F.degrees(F.atan(F.sinh(
        F.lit(np.pi) * (1.0 - 2.0 * (F.col("_y") + 1) / F.lit(n)))))
    cy1 = F.degrees(F.atan(F.sinh(
        F.lit(np.pi) * (1.0 - 2.0 * F.col("_y") / F.lit(n)))))
    edges = _ring_edges(F.col(ring_col))

    def _edge_touches(e):
        # exact segment / axis-aligned-rect test: bboxes overlap AND the
        # rect's corners do not all lie strictly on one side of the
        # edge's supporting line
        bbox_overlap = ~((F.greatest(e["x1"], e["x2"]) < cx0)
                         | (F.least(e["x1"], e["x2"]) > cx1)
                         | (F.greatest(e["y1"], e["y2"]) < cy0)
                         | (F.least(e["y1"], e["y2"]) > cy1))
        dx = e["x2"] - e["x1"]
        dy = e["y2"] - e["y1"]

        def side(px, py):
            return dx * (py - e["y1"]) - dy * (px - e["x1"])

        d1, d2 = side(cx0, cy0), side(cx1, cy0)
        d3, d4 = side(cx0, cy1), side(cx1, cy1)
        one_side = ((F.greatest(d1, d2, d3, d4) < 0)
                    | (F.least(d1, d2, d3, d4) > 0))
        return bbox_overlap & ~one_side

    edge_touches = F.exists(edges, _edge_touches)
    interior = (~edge_touches) & pip_expr(cx0, cy0, F.col(ring_col))
    return p.select(
        cells.pack_cell(z, F.col("_x"), F.col("_y")).alias("cell"),
        F.col(id_col), F.col(ring_col),
        interior.alias("interior"),
    )


def _ring_edges(ring: Column) -> Column:
    """The edges (v[i], v[i+1]) of an array<struct<lon,lat>> ring as an
    array<struct<x1,y1,x2,y2>>: zip_with over the ring and its
    rotation."""
    return F.zip_with(
        F.slice(ring, 1, F.size(ring) - 1),
        F.slice(ring, 2, F.size(ring) - 1),
        lambda a, b: F.struct(a["lon"].alias("x1"), a["lat"].alias("y1"),
                              b["lon"].alias("x2"), b["lat"].alias("y2")),
    )


def _ring_crossings(lon: Column, lat: Column, ring: Column) -> Column:
    """How many edges of `ring` the horizontal ray from (lon, lat) to
    +inf crosses, as a pure SQL aggregate expression.  Boundary
    convention: half-open edges [min, max) — matches the NumPy oracle."""
    return F.aggregate(
        _ring_edges(ring),
        F.lit(0),
        lambda acc, e: acc + F.when(
            ((e["y1"] > lat) != (e["y2"] > lat))
            & (lon < (e["x2"] - e["x1"]) * (lat - e["y1"]) / (e["y2"] - e["y1"]) + e["x1"]),
            F.lit(1)).otherwise(F.lit(0)),
    )


def pip_expr(lon: Column, lat: Column, ring: Column) -> Column:
    """Ray-crossing point-in-ring: an odd crossing count is inside."""
    return _ring_crossings(lon, lat, ring) % 2 == 1


def pip_expr_multi(lon: Column, lat: Column, rings: Column) -> Column:
    """Point-in-polygon for a polygon WITH HOLES: even-odd rule over an
    array<array<struct<lon,lat>>> column (outer ring first, then holes).
    Total ray crossings over every ring odd <=> inside the filled area
    minus the holes — no per-ring bookkeeping needed."""
    total = F.aggregate(
        rings, F.lit(0),
        lambda acc, ring: acc + _ring_crossings(lon, lat, ring))
    return total % 2 == 1


def pip_join_multi(points: DataFrame, polygons: DataFrame, z: int = 7,
                   lon_col: str = "lon", lat_col: str = "lat",
                   id_col: str = "admin_id",
                   rings_col: str = "rings") -> DataFrame:
    """pip_join for polygons with holes (array-of-rings column).

    Cover cells come from the OUTER ring's bbox (holes are subsets of
    it); the exact even-odd test handles the holes.  Interior-cell
    skipping is not applied here — a cell interior to the outer ring may
    still intersect a hole — so every candidate runs the exact test."""
    outer = polygons.withColumn("_outer", F.col(rings_col)[0])
    cover = F.broadcast(
        cover_cells(outer, z, "_outer", id_col)
        .drop("interior", "_outer")
        .join(polygons.select(F.col(id_col), F.col(rings_col)), id_col))
    pts = points.withColumn("_cell",
                            cells.cell_id(F.col(lon_col), F.col(lat_col), z))
    joined = pts.join(cover, pts["_cell"] == cover["cell"], "inner")
    exact = pip_expr_multi(F.col(lon_col), F.col(lat_col), F.col(rings_col))
    return joined.where(exact).drop("_cell", "cell", rings_col)


def pip_join(points: DataFrame, polygons: DataFrame, z: int = 7,
             lon_col: str = "lon", lat_col: str = "lat",
             id_col: str = "admin_id", ring_col: str = "ring") -> DataFrame:
    """points x polygons containment join via cell cover + exact test.

    The cover side is explicitly broadcast: admin tables are small
    (10^2..10^5 polygons), so the big points relation never shuffles.
    """
    cover = F.broadcast(cover_cells(polygons, z, ring_col, id_col))
    pts = points.withColumn("_cell", cells.cell_id(F.col(lon_col), F.col(lat_col), z))
    joined = pts.join(cover, pts["_cell"] == cover["cell"], "inner")
    exact = pip_expr(F.col(lon_col), F.col(lat_col), F.col(ring_col))
    # interior cells need no exact test (Or short-circuits in codegen)
    return (joined.where(F.col("interior") | exact)
            .drop("_cell", "cell", ring_col, "interior"))
