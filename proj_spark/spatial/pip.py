"""Point-in-polygon join: cell-cover candidate equi-join + exact test.

The theta-join "point inside polygon" becomes:
  1. polygon -> set of covering cells at resolution z (bbox cover,
     exploded; analogue of the reference's grid bbox containment test,
     src/apply_gridshift.cpp:182+)
  2. equi-join points.cell == cover.cell  (hash join; the cover table is
     small -> Catalyst broadcasts it)
  3. exact point-in-ring test as the post-filter

The exact test is expressed two ways:
  - `pip_expr`: pure Spark SQL ray-crossing over an array<struct<lon,lat>>
    ring using aggregate() — no UDF, stays JVM-side; preferred.
  - `pip_pandas_udf`: Arrow-batched NumPy fallback for very large rings.

At 100 TB the points side never shuffles: the cover explode is tiny and
broadcast, and the exact filter is a map-side operation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import BooleanType

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
    edges = F.zip_with(
        F.slice(F.col(ring_col), 1, F.size(F.col(ring_col)) - 1),
        F.slice(F.col(ring_col), 2, F.size(F.col(ring_col)) - 1),
        lambda a, b: F.struct(a["lon"].alias("x1"), a["lat"].alias("y1"),
                              b["lon"].alias("x2"), b["lat"].alias("y2")),
    )
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


def pip_expr(lon: Column, lat: Column, ring: Column) -> Column:
    """Ray-crossing point-in-ring as a pure SQL aggregate expression.

    Walks ring edges (v[i], v[i+1]) with zip_with over the ring and its
    rotation, counting crossings of the horizontal ray to +inf.  Boundary
    convention: half-open edges [min, max) — matches the NumPy oracle.
    """
    edges = F.zip_with(
        F.slice(ring, 1, F.size(ring) - 1),
        F.slice(ring, 2, F.size(ring) - 1),
        lambda a, b: F.struct(a["lon"].alias("x1"), a["lat"].alias("y1"),
                              b["lon"].alias("x2"), b["lat"].alias("y2")),
    )
    crossings = F.aggregate(
        edges,
        F.lit(0),
        lambda acc, e: acc + F.when(
            ((e["y1"] > lat) != (e["y2"] > lat))
            & (lon < (e["x2"] - e["x1"]) * (lat - e["y1"]) / (e["y2"] - e["y1"]) + e["x1"]),
            F.lit(1)).otherwise(F.lit(0)),
    )
    return crossings % 2 == 1


@pandas_udf(BooleanType())
def pip_pandas_udf(lon: pd.Series, lat: pd.Series, ring: pd.Series) -> pd.Series:
    """NumPy ray-crossing fallback (one python call per Arrow batch)."""
    out = np.zeros(len(lon), dtype=bool)
    lon_v = lon.to_numpy(dtype=np.float64)
    lat_v = lat.to_numpy(dtype=np.float64)
    # group identical rings within the batch to vectorize over points
    ring_key = ring.map(lambda r: id(r))
    for _, idx in pd.Series(range(len(ring))).groupby(ring_key).groups.items():
        idx = np.asarray(idx)
        r = ring.iloc[idx[0]]
        vx = np.array([v["lon"] for v in r])
        vy = np.array([v["lat"] for v in r])
        x1, y1 = vx[:-1], vy[:-1]
        x2, y2 = vx[1:], vy[1:]
        px = lon_v[idx][:, None]
        py = lat_v[idx][:, None]
        with np.errstate(divide="ignore", invalid="ignore"):
            cond = ((y1 > py) != (y2 > py)) & (
                px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)
        out[idx] = (cond.sum(axis=1) % 2).astype(bool)
    return pd.Series(out)


def pip_expr_multi(lon: Column, lat: Column, rings: Column) -> Column:
    """Point-in-polygon for a polygon WITH HOLES: even-odd rule over an
    array<array<struct<lon,lat>>> column (outer ring first, then holes).
    Total ray crossings over every ring odd <=> inside the filled area
    minus the holes — no per-ring bookkeeping needed."""
    def ring_crossings(acc0, ring):
        edges = F.zip_with(
            F.slice(ring, 1, F.size(ring) - 1),
            F.slice(ring, 2, F.size(ring) - 1),
            lambda a, b: F.struct(a["lon"].alias("x1"), a["lat"].alias("y1"),
                                  b["lon"].alias("x2"), b["lat"].alias("y2")),
        )
        return acc0 + F.aggregate(
            edges, F.lit(0),
            lambda acc, e: acc + F.when(
                ((e["y1"] > lat) != (e["y2"] > lat))
                & (lon < (e["x2"] - e["x1"]) * (lat - e["y1"])
                   / (e["y2"] - e["y1"]) + e["x1"]),
                F.lit(1)).otherwise(F.lit(0)))

    total = F.aggregate(rings, F.lit(0), ring_crossings)
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
             id_col: str = "admin_id", ring_col: str = "ring",
             use_udf: bool = False) -> DataFrame:
    """points x polygons containment join via cell cover + exact test.

    The cover side is explicitly broadcast: admin tables are small
    (10^2..10^5 polygons), so the big points relation never shuffles.
    """
    cover = F.broadcast(cover_cells(polygons, z, ring_col, id_col))
    pts = points.withColumn("_cell", cells.cell_id(F.col(lon_col), F.col(lat_col), z))
    joined = pts.join(cover, pts["_cell"] == cover["cell"], "inner")
    exact = (pip_pandas_udf(F.col(lon_col), F.col(lat_col), F.col(ring_col))
             if use_udf else pip_expr(F.col(lon_col), F.col(lat_col), F.col(ring_col)))
    # interior cells need no exact test (Or short-circuits in codegen)
    return (joined.where(F.col("interior") | exact)
            .drop("_cell", "cell", ring_col, "interior"))
