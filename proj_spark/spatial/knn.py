"""kNN via cell-ring expansion + exact distance re-rank.

Contract: the *query* side is small (10^0..10^5 points — per-city probes,
admin centroids); the *data* side is the trillion-row pages table.  Each
round therefore broadcasts the query ring-cells against the big side
(map-side hash join, no shuffle of the data), keeps top-k per query with
a window, and returns only k x |Q| rows — which the driver can hold.

The round loop is coordinated on the driver, but all per-row work stays
distributed: ring cells are generated with native ``sequence``/
``explode`` expressions (no Python cell loops), each round's top-k rows
are persisted DataFrames (never collected), and the only driver
materializations are the query coordinates (once, |Q| rows) and a
per-round (query_id, count, k-th distance) stats aggregate used to
decide completion.  Deciding "done" in Python avoids the anti-join
lineage chains that would otherwise recompute every prior round at each
iteration.

Correctness of the expansion: a query is complete only when its k-th
neighbor distance is <= a *lower bound* of the distance to the ring-box
boundary, so no point outside the searched box can be closer:
  - to the N/S box edges (parallels): d >= R * |phi_q - phi_edge|
    (any path must traverse that latitude change);
  - to the E/W box edges (meridians): the exact great-circle distance
    to the pole-to-pole meridian at longitude offset dlam, valid for
    ALL dlam in [0, pi] (not just the cross-track small-dlam case):
      max over phi_e of (sin(phi_q) sin(phi_e)
                          + cos(phi_q) cos(dlam) cos(phi_e))
    is hypot(sin phi_q, cos phi_q cos dlam) when cos(dlam) >= 0 (the
    perpendicular foot lies on the meridian) and |sin phi_q| otherwise
    (the supremum moves to the pole endpoint), so
      d >= R * acos(...) lower-bounds the distance to the actual edge
    segment (which is a subset of that meridian).
Both bounds are exact on the sphere used by the haversine ranking; for
the ellipsoidal (vincenty) ranking a 0.995 safety factor absorbs the
<0.34% flattening discrepancy.

Ring columns WRAP across the antimeridian (x is taken modulo 2^z, capped
at a full-world span), so queries near +/-180 see neighbors on the other
side of the dateline; rows clamp at the mercator pole rows.

Distance column: haversine by default (closed-form, expressible in ANSI
SQL for oracles); `distance="vincenty"` swaps in the ellipsoidal UDF for
exact re-ranking.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType
from pyspark.sql.window import Window

from proj_spark.spatial import cells

EARTH_R = 6371008.8  # IUGG mean radius


def haversine_expr(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in meters, pure SQL (codegen-friendly)."""
    p1 = F.radians(lat1)
    p2 = F.radians(lat2)
    dphi = p2 - p1
    dlam = F.radians(lon2) - F.radians(lon1)
    h = (F.sin(dphi / 2) ** 2 + F.cos(p1) * F.cos(p2) * F.sin(dlam / 2) ** 2)
    return F.lit(2.0 * EARTH_R) * F.asin(F.sqrt(h))


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Same formula as haversine_expr in ANSI SQL (DuckDB oracle parity)."""
    return (
        f"2.0 * {EARTH_R} * ASIN(SQRT("
        f"POWER(SIN((RADIANS({lat2}) - RADIANS({lat1}))/2), 2) + "
        f"COS(RADIANS({lat1})) * COS(RADIANS({lat2})) * "
        f"POWER(SIN((RADIANS({lon2}) - RADIANS({lon1}))/2), 2)))"
    )


@pandas_udf(DoubleType())
def vincenty_dist_udf(lon1: pd.Series, lat1: pd.Series,
                      lon2: pd.Series, lat2: pd.Series) -> pd.Series:
    from proj_spark.operations.geodesic import vincenty_inverse
    s12, _, _ = vincenty_inverse(
        np.radians(lon1.to_numpy(np.float64)), np.radians(lat1.to_numpy(np.float64)),
        np.radians(lon2.to_numpy(np.float64)), np.radians(lat2.to_numpy(np.float64)))
    return pd.Series(s12)


@pandas_udf(DoubleType())
def karney_dist_udf(lon1: pd.Series, lat1: pd.Series,
                    lon2: pd.Series, lat2: pd.Series) -> pd.Series:
    """Round-off-exact WGS84 ellipsoidal distance (Karney order-6 series;
    reference src/geodesic.c geod_inverse)."""
    from proj_spark.operations.karney import Geodesic
    g = Geodesic(6378137.0, 1 / 298.257223563)
    s12, _, _ = g.inverse(
        np.radians(lat1.to_numpy(np.float64)), np.radians(lon1.to_numpy(np.float64)),
        np.radians(lat2.to_numpy(np.float64)), np.radians(lon2.to_numpy(np.float64)))
    return pd.Series(s12)


def _tile_x(lon: float, z: int) -> int:
    n = 1 << z
    return min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)


def _tile_y(lat: float, z: int) -> int:
    n = 1 << z
    phi = math.radians(lat)
    v = math.floor((1.0 - math.asinh(math.tan(phi)) / math.pi) / 2.0 * n)
    return min(max(int(v), 0), n - 1)


def _tile2lon(x: int, z: int) -> float:
    return x / (1 << z) * 360.0 - 180.0


def _tile2lat(y: int, z: int) -> float:
    return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y / (1 << z)))))


def _meridian_dist(phi_q: float, dlam: float) -> float:
    """Exact great-circle distance (m) from (phi_q, 0) to the pole-to-pole
    meridian at longitude offset dlam — a true lower bound on the distance
    to any box edge lying on that meridian, valid for all dlam in [0, pi]
    (the previous cross-track formula was only valid for dlam < pi/2)."""
    a = math.sin(phi_q)
    b = math.cos(phi_q) * math.cos(dlam)
    best = math.hypot(a, b) if b >= 0.0 else abs(a)
    return EARTH_R * math.acos(min(1.0, max(-1.0, best)))


def _safe_radius(qlon: float, qlat: float, ring: int, z: int) -> float:
    """Lower bound (meters) of distance from the query to the boundary of
    its wrapped (2*ring+1)^2 cell box; +inf for pole-clamped / fully-
    wrapped edges (x wraps across the antimeridian, y clamps)."""
    n = 1 << z
    qx, qy = _tile_x(qlon, z), _tile_y(qlat, z)
    phi_q = math.radians(qlat)
    bounds = []
    if qy - ring > 0:
        bounds.append(EARTH_R * abs(phi_q - math.radians(_tile2lat(qy - ring, z))))
    if qy + ring + 1 < n:
        bounds.append(EARTH_R * abs(phi_q - math.radians(_tile2lat(qy + ring + 1, z))))
    xr = min(ring, (n - 1) // 2)
    if 2 * xr + 1 < n:   # a full wrap has no E/W boundary at all
        for xedge in (qx - xr, qx + xr + 1):
            dlam = abs(math.radians(qlon - _tile2lon(xedge % n, z)))
            if dlam > math.pi:
                dlam = 2.0 * math.pi - dlam
            bounds.append(_meridian_dist(phi_q, dlam))
    return min(bounds) if bounds else math.inf


def knn_join(queries: DataFrame, data: DataFrame, k: int, z: int = 9,
             query_id: str = "query_id", data_id: str = "data_id",
             q_lon: str = "lon", q_lat: str = "lat",
             d_lon: str = "lon", d_lat: str = "lat",
             distance: str = "haversine", max_ring: int = 16) -> DataFrame:
    """k nearest data points per query point.

    Returns (query_id, data_id, dist_m, rank) with deterministic
    tie-break on (dist_m, data_id).  Ring starts at 1 and doubles until
    every query's k-th distance fits inside the proven-covered radius;
    stragglers (empty oceans) fall back to a brute-force pass.

    Distributed-loop contract: result rows are NEVER collected to the
    driver — each round's top-k is a persisted DataFrame, completed
    queries are split off with a broadcast semi-join, and the returned
    DataFrame is the union of the persisted parts.  The only collects
    are the |Q| query coordinates (once) and a |pending|-row stats
    aggregate per round.
    """
    spark = data.sparkSession
    d = data.select(
        F.col(data_id), F.col(d_lon).alias("_dlon"), F.col(d_lat).alias("_dlat"),
        cells.cell_id(F.col(d_lon), F.col(d_lat), z).alias("_dcell"))

    qid_field = queries.schema[query_id]
    did_field = data.schema[data_id]
    # |Q| is small by contract (<= ~1e5): coordinates are needed driver-side
    # only to evaluate the per-query completion bound.
    qrows = [(r[0], float(r[1]), float(r[2]))
             for r in queries.select(query_id, q_lon, q_lat).collect()]
    safety = 0.995 if distance in ("vincenty", "karney") else 1.0

    def dist_col():
        if distance == "vincenty":
            return vincenty_dist_udf(F.col("_qlon"), F.col("_qlat"),
                                     F.col("_dlon"), F.col("_dlat"))
        if distance == "karney":
            return karney_dist_udf(F.col("_qlon"), F.col("_qlat"),
                                   F.col("_dlon"), F.col("_dlat"))
        return haversine_expr(F.col("_qlon"), F.col("_qlat"),
                              F.col("_dlon"), F.col("_dlat"))

    q_schema = StructType([
        StructField(query_id, qid_field.dataType),
        StructField("_qlon", DoubleType()),
        StructField("_qlat", DoubleType()),
    ])
    id_schema = StructType([StructField(query_id, qid_field.dataType)])

    w = Window.partitionBy(query_id).orderBy(F.col("dist_m"), F.col(data_id))

    def topk_of(cand: DataFrame) -> DataFrame:
        return (cand.withColumn("dist_m", dist_col())
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select(query_id, F.col(data_id), "dist_m", "rank"))

    n = 1 << z
    nl = F.lit(n - 1).cast("long")
    zero = F.lit(0).cast("long")

    parts: list[DataFrame] = []
    remaining = qrows
    ring = 1
    while remaining and ring <= max_ring:
        rem_df = spark.createDataFrame(remaining, q_schema)
        # Ring box as native sequence/explode generators (no Python cell
        # loops, no literal offset arrays — scales to ring=16's 33x33 box).
        # x WRAPS across the antimeridian (pmod; capped at a full-world
        # span so wrapped columns never duplicate); y clamps at the poles
        # as mercator tiles do.
        xr = min(ring, (n - 1) // 2)
        rl = F.lit(ring).cast("long")
        xrl = F.lit(xr).cast("long")
        cand = (rem_df
                .withColumn("_qx", cells.tile_x(F.col("_qlon"), z))
                .withColumn("_qy", cells.tile_y(F.col("_qlat"), z))
                .withColumn("_xr", F.explode(F.sequence(
                    F.col("_qx") - xrl, F.col("_qx") + xrl)))
                .withColumn("_x", F.pmod(F.col("_xr"), F.lit(n)))
                .withColumn("_y", F.explode(F.sequence(
                    F.greatest(F.col("_qy") - rl, zero),
                    F.least(F.col("_qy") + rl, nl))))
                .withColumn("_cell", cells.pack_cell(z, F.col("_x"), F.col("_y"))))
        joined = F.broadcast(cand).join(d, F.col("_cell") == F.col("_dcell"), "inner")
        topk = topk_of(joined).persist()
        stats = {r[0]: (r[1], r[2]) for r in
                 topk.groupBy(query_id)
                     .agg(F.count("*").alias("cnt"), F.max("dist_m").alias("kth"))
                     .collect()}
        done_ids, still = [], []
        for qid, qlon, qlat in remaining:
            qy = _tile_y(qlat, z)
            world = (2 * ring + 1 >= n
                     and qy - ring <= 0 and qy + ring + 1 >= n)
            cnt, kth = stats.get(qid, (0, math.inf))
            bound = safety * _safe_radius(qlon, qlat, ring, z)
            if world or (cnt >= k and kth <= bound):
                done_ids.append((qid,))
            else:
                still.append((qid, qlon, qlat))
        if done_ids:
            done = topk.join(
                F.broadcast(spark.createDataFrame(done_ids, id_schema)),
                query_id, "semi").persist()
            done.count()  # materialize before the round's topk is unpersisted
            parts.append(done)
        topk.unpersist()
        remaining = still
        ring *= 2
    if remaining:
        # brute force the stragglers: tiny query side x full data scan
        rem_df = F.broadcast(spark.createDataFrame(remaining, q_schema))
        brute = topk_of(rem_df.crossJoin(d)).persist()
        brute.count()
        parts.append(brute)

    out_schema = StructType([
        StructField(query_id, qid_field.dataType),
        StructField(data_id, did_field.dataType),
        StructField("dist_m", DoubleType()),
        StructField("rank", IntegerType()),
    ])
    if not parts:
        return spark.createDataFrame([], out_schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _pair_dists(pts: DataFrame, z: int, ring: int, id_col: str,
                lon_col: str, lat_col: str) -> DataFrame:
    """(_ida, _idb, dist_m): every unordered pair of points whose zoom-z
    cells lie within Chebyshev `ring`, once, with its haversine
    distance (cells.half_pairs over cells.half_neighbor_cells)."""
    base = pts.select(
        F.col(id_col), F.col(lon_col), F.col(lat_col),
        cells.cell_id(F.col(lon_col), F.col(lat_col), z).alias("cell"))
    pairs = cells.half_pairs(
        base, ["cell"], cells.half_neighbor_cells(F.col("cell"), ring), id_col)
    return pairs.select(
        F.col(f"a_{id_col}").alias("_ida"), F.col(f"b_{id_col}").alias("_idb"),
        haversine_expr(F.col(f"a_{lon_col}"), F.col(f"a_{lat_col}"),
                       F.col(f"b_{lon_col}"), F.col(f"b_{lat_col}"))
        .alias("dist_m"))


def radius_join(pts: DataFrame, radius_m: float, z: int = 13,
                id_col: str = "url", lon_col: str = "lon",
                lat_col: str = "lat",
                max_abs_lat: float | None = None) -> DataFrame:
    """Distance-bounded spatial self-join: every unordered point pair
    within ``radius_m`` meters (haversine), as (id_a < id_b, dist_m).

    Same candidate machinery as :func:`knn_self_join` — equi-join each
    point's cell against the Chebyshev ring-1 cells of the other side at
    zoom ``z`` — but with a PROVEN-complete contract: web-mercator cells
    are locally square with ground size 2*pi*R*cos(lat)/2^z, so one ring
    covers every neighbor within ``radius_m`` provided the radius is at
    most ~the cell size at the data's highest |latitude|.  That bound is
    validated up front (against ``max_abs_lat``, or a one-pass max over
    the data when None) with a 0.9 safety factor for the cells' local
    non-squareness; a violating (radius, z) raises instead of silently
    under-reporting pairs.

    Scale shape: one shuffle on the cell key (dense cells AQE-split),
    candidate fan-out bounded by cell occupancy x 5 (half-neighborhood:
    each unordered pair generated once, not twice), work sum(cell^2),
    never n^2 — the standard DISTANCE-join grid plan (reference
    analogue: grid bbox containment dispatch, src/apply_gridshift.cpp).
    """
    if max_abs_lat is None:
        max_abs_lat = float(pts.agg(
            F.max(F.abs(F.col(lat_col)))).collect()[0][0])
    min_dim = (2.0 * math.pi * EARTH_R
               * math.cos(math.radians(min(abs(max_abs_lat), 85.06)))
               / (1 << z))
    if radius_m > 0.9 * min_dim:
        raise ValueError(
            f"radius {radius_m} m exceeds 0.9x the zoom-{z} cell size "
            f"({min_dim:.0f} m) at |lat|={max_abs_lat:.2f}; ring-1 cover "
            f"would be incomplete — lower z or the radius")
    pair = _pair_dists(pts, z, 1, id_col, lon_col, lat_col)
    # half-neighbourhood candidates arrive in arbitrary id order: emit
    # sorted
    return (pair.select(F.least("_ida", "_idb").alias("id_a"),
                        F.greatest("_ida", "_idb").alias("id_b"), "dist_m")
            .where(F.col("dist_m") <= F.lit(float(radius_m))))


def knn_self_join(pts: DataFrame, k: int = 3, z: int = 10, ring: int = 1,
                  id_col: str = "url", lon_col: str = "lon",
                  lat_col: str = "lat") -> DataFrame:
    """Bounded-radius kNN JOIN: every point's <=k nearest OTHER points,
    fully distributed — no driver loop, no per-query broadcast.

    This is the spatial-join flavor of kNN (every row is a query): each
    point joins candidates whose cell lies within Chebyshev `ring` of its
    own cell at zoom `z`, then a per-point window keeps the k nearest by
    haversine.  The contract is *bounded radius*: neighbors beyond the
    ring box are not searched, so isolated points return fewer than k
    rows (or none) — the standard grid-bounded kNN-join contract at
    corpus scale, where unbounded per-point expansion would be a full
    cross join.  For guaranteed-complete small query sets use `knn_join`.

    Scale shape: one shuffle on the cell key for the equi-join (skewed
    dense cells are AQE-split; candidate fan-out is the HALF
    neighborhood — (2*ring+1)^2 / 2 x the cell occupancy, each
    unordered pair joined and haversine'd ONCE, then mirrored into both
    orientations by a cheap explode of the slim (id, id, dist) rows —
    bounded by choosing z so cells hold O(10) points), one shuffle on
    the point id for the window.  Work is sum(cell^2)/2, never n^2.
    """
    pair = _pair_dists(pts, z, ring, id_col, lon_col, lat_col)
    # kNN is per-point: mirror each pair into both orientations
    both = F.explode(F.array(
        F.struct(F.col("_ida").alias(id_col), F.col("_idb").alias("nbr_id")),
        F.struct(F.col("_idb").alias(id_col), F.col("_ida").alias("nbr_id"))))
    scored = (pair.select(both.alias("_p"), "dist_m")
              .select(F.col(f"_p.{id_col}").alias(id_col),
                      F.col("_p.nbr_id").alias("nbr_id"), "dist_m"))
    w = Window.partitionBy(id_col).orderBy("dist_m", "nbr_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def nn_dist(pts: DataFrame, z: int = 10, ring: int = 1,
            id_col: str = "url", lon_col: str = "lon",
            lat_col: str = "lat") -> DataFrame:
    """Bounded-radius nearest-neighbor DISTANCE per point: (id, nn_m).

    Same candidate generation as ``knn_self_join`` (half-neighborhood
    cell join at zoom `z`, each unordered pair haversine'd once) but
    the per-point reduction is a plain MIN hash-aggregate — no window,
    no sort, partial-aggregated map-side — because only the distance is
    needed, not the neighbor's identity.  Points with no candidate in
    the ring box are absent from the output (the bounded-radius
    contract; callers count them against the full point count).
    """
    pair = _pair_dists(pts, z, ring, id_col, lon_col, lat_col)
    both = F.explode(F.array(
        F.struct(F.col("_ida").alias(id_col)),
        F.struct(F.col("_idb").alias(id_col))))
    return (pair.select(both.alias("_p"), "dist_m")
            .select(F.col(f"_p.{id_col}").alias(id_col), "dist_m")
            .groupBy(id_col)
            .agg(F.min("dist_m").alias("nn_m")))
