"""pandas-UDF wrappers around the NumPy coordinate kernels.

One compiled Operation (plan-time constants only: floats + small ndarrays)
is closed over by a scalar pandas UDF; Spark serializes the closure to
executors once per task. Each Arrow batch (~64k rows) is transformed by a
single NumPy call — no per-row Python, mirroring the columnar contract of
the reference's proj_trans_generic (src/4D_api.cpp:353-460).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import DoubleType, StructField, StructType

XY_SCHEMA = StructType([
    StructField("x", DoubleType()),
    StructField("y", DoubleType()),
])

LONLAT_SCHEMA = StructType([
    StructField("lon", DoubleType()),
    StructField("lat", DoubleType()),
])


def fwd_udf(op) -> "pandas_udf":
    """(lon_deg, lat_deg) -> struct(x, y) meters, via op.fwd_deg."""

    @pandas_udf(XY_SCHEMA)
    def _f(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        x, y = op.fwd_deg(lon.to_numpy(dtype=np.float64), lat.to_numpy(dtype=np.float64))
        return pd.DataFrame({"x": x, "y": y})

    return _f


def project(df: DataFrame, projstring: str, lon_col: str = "lon", lat_col: str = "lat",
            out_x: str = "x", out_y: str = "y") -> DataFrame:
    """Project lon/lat degree columns with any registered operation.

    Web Mercator is special-cased to *native Spark expressions* (no UDF,
    stays inside whole-stage codegen) since its math is closed-form.
    """
    from proj_spark import create

    if projstring.strip().startswith("+proj=webmerc"):
        op = create(projstring)
        a = op.a
        lam = F.radians(F.col(lon_col))
        phi = F.radians(F.col(lat_col))
        return df.withColumn(out_x, a * lam).withColumn(
            out_y, a * F.log(F.tan(F.lit(np.pi / 4) + phi / 2)))
    op = create(projstring)
    u = fwd_udf(op)
    tmp = "_prj"
    out = df.withColumn(tmp, u(F.col(lon_col), F.col(lat_col)))
    return (out.withColumn(out_x, F.col(f"{tmp}.x"))
               .withColumn(out_y, F.col(f"{tmp}.y"))
               .drop(tmp))


def utm_fwd_udf(ellps: str = "GRS80", south: bool = False) -> "pandas_udf":
    """(lon_deg, lat_deg) -> struct(zone int, x, y): auto-zoned UTM.

    One UDF handles every zone: per Arrow batch, rows are grouped by zone
    (np.unique — at most 60 groups) and each group runs the exact etmerc
    kernel for its zone.  This keeps the whole-table projection a single
    map-side pass — no per-zone filtering, no repartition — which is the
    shape that scales: zone mix within a batch costs one extra indexed
    gather, while 60 filtered passes would scan the table 60 times.
    Zone logic mirrors src/projections/tmerc.cpp:541-589.
    """
    from pyspark.sql.types import IntegerType

    schema = StructType([
        StructField("zone", IntegerType()),
        StructField("x", DoubleType()),
        StructField("y", DoubleType()),
    ])
    suffix = " +south" if south else ""

    @pandas_udf(schema)
    def _f(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        from proj_spark.operations.tmerc import UTMBatch

        key = (ellps, south)
        op = _UTM_OP_CACHE.get(key)
        if op is None:
            params = {"ellps": ellps}
            if south:
                params["south"] = True
            op = _UTM_OP_CACHE[key] = UTMBatch(params)
        zone, x, y = op.fwd_deg(lon.to_numpy(dtype=np.float64),
                                lat.to_numpy(dtype=np.float64))
        return pd.DataFrame({"zone": zone.astype(np.int32), "x": x, "y": y})

    return _f


# per-executor-worker UTM kernel cache (setup amortized across batches)
_UTM_OP_CACHE: dict = {}


def webmerc_x(lon: Column, a: float = 6378137.0) -> Column:
    return F.lit(a) * F.radians(lon)


def webmerc_y(lat: Column, a: float = 6378137.0) -> Column:
    return F.lit(a) * F.log(F.tan(F.lit(np.pi / 4) + F.radians(lat) / 2))


def datum_pipeline_udf(cart, helmert) -> "pandas_udf":
    """(lon_deg, lat_deg) -> struct(lon, lat) after the canonical
    cart -> helmert -> cart^-1 datum pipeline, FUSED into one Arrow pass.

    Mirrors the reference pipeline composer's elision of intermediate
    prepare/finalize steps (src/fwd.cpp:173,192; SURVEY.md 4.1): one
    JVM->Python transfer for the whole chain instead of three.
    """

    @pandas_udf(LONLAT_SCHEMA)
    def _f(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        lam = np.radians(lon.to_numpy(dtype=np.float64))
        phi = np.radians(lat.to_numpy(dtype=np.float64))
        x, y, z = cart.fwd3d(lam, phi, np.zeros_like(lam))
        x, y, z = helmert.fwd(x, y, z)
        lam2, phi2, _ = cart.inv3d(x, y, z)
        return pd.DataFrame({"lon": np.degrees(lam2), "lat": np.degrees(phi2)})

    return _f


def factors_udf(op) -> "pandas_udf":
    """(lon_deg, lat_deg) -> struct(h, k, conv, s): proj_factors
    (src/factors.cpp:15-106) as one vectorized Arrow pass — meridional
    scale h, parallel scale k, meridian convergence (rad) and areal
    scale s via the reference's 4-corner central differences on the raw
    projection kernel."""
    from proj_spark.operations.factors import factors

    schema = StructType([
        StructField("h", DoubleType()),
        StructField("k", DoubleType()),
        StructField("conv", DoubleType()),
        StructField("s", DoubleType()),
    ])

    @pandas_udf(schema)
    def _f(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        fac = factors(op,
                      np.radians(lon.to_numpy(dtype=np.float64)),
                      np.radians(lat.to_numpy(dtype=np.float64)))
        return pd.DataFrame({"h": fac["h"], "k": fac["k"],
                             "conv": fac["conv"], "s": fac["s"]})

    return _f


def geod_inverse_udf(a: float, f: float) -> "pandas_udf":
    """(lat1, lon1, lat2, lon2 degrees) -> struct(s12 m, azi1, azi2 deg):
    the geodesic inverse problem (geod_inverse, src/geodesic.c) batch-
    solved by the vectorized Karney kernel.  Azimuths are normalized to
    [0, 360) with the sign-safe `d < 0 ? d + 360 : d + 0.0` form (the
    `+ 0.0` collapses IEEE -0.0 so downstream hashing is stable)."""
    from proj_spark.operations.karney import Geodesic

    schema = StructType([
        StructField("s12", DoubleType()),
        StructField("azi1", DoubleType()),
        StructField("azi2", DoubleType()),
    ])
    g = Geodesic(a, f)

    @pandas_udf(schema)
    def _f(lat1: pd.Series, lon1: pd.Series,
           lat2: pd.Series, lon2: pd.Series) -> pd.DataFrame:
        s12, azi1, azi2 = g.inverse(
            np.radians(lat1.to_numpy(dtype=np.float64)),
            np.radians(lon1.to_numpy(dtype=np.float64)),
            np.radians(lat2.to_numpy(dtype=np.float64)),
            np.radians(lon2.to_numpy(dtype=np.float64)))
        a1 = np.degrees(azi1)
        a2 = np.degrees(azi2)
        a1 = np.where(a1 < 0.0, a1 + 360.0, a1 + 0.0)
        a2 = np.where(a2 < 0.0, a2 + 360.0, a2 + 0.0)
        return pd.DataFrame({"s12": s12, "azi1": a1, "azi2": a2})

    return _f


def geod_edge_area_udf(a: float, f: float) -> "pandas_udf":
    """(lat1, lon1, lat2, lon2 degrees) -> struct(s12 m, area12 m^2): one
    geodesic polygon EDGE's length and signed area term, the per-edge
    accumulation of the reference's geod_polygonarea
    (src/geodesic.c geod_polygon_addpoint).  Summing S12 over a closed
    ring (and negating, per areareduceA's clockwise flip) gives the
    polygon's geodesic area — done JVM-side by a groupBy, so the Python
    kernel stays a flat per-edge batch and the reduction distributes."""
    from proj_spark.operations.karney import Geodesic

    schema = StructType([
        StructField("s12", DoubleType()),
        StructField("area12", DoubleType()),
    ])
    g = Geodesic(a, f)

    @pandas_udf(schema)
    def _f(lat1: pd.Series, lon1: pd.Series,
           lat2: pd.Series, lon2: pd.Series) -> pd.DataFrame:
        s12, _, _, area = g.inverse(
            np.radians(lat1.to_numpy(dtype=np.float64)),
            np.radians(lon1.to_numpy(dtype=np.float64)),
            np.radians(lat2.to_numpy(dtype=np.float64)),
            np.radians(lon2.to_numpy(dtype=np.float64)),
            want_area=True)
        return pd.DataFrame({"s12": s12, "area12": area})

    return _f


def crs_transform_udf(src: str, dst: str, area: tuple | None = None):
    """pandas UDF transforming (x, y[, z]) columns from CRS `src` to
    `dst` through the planner (candidate ranking + per-point dispatch),
    the Spark-level proj_create_crs_to_crs analogue.

    `src`/`dst` accept proj-strings, EPSG codes, or WKT/PROJJSON text.
    Returns struct(x, y, z); geographic ends are DEGREES at the UDF
    boundary (the convention every engine table uses).  The compiled
    CRSTransform — candidates, bboxes, kernels — is closed over and
    broadcast once per executor.
    """
    from proj_spark.planner import crs_to_crs

    t = crs_to_crs(src, dst, area)
    schema = StructType([StructField("x", DoubleType()),
                         StructField("y", DoubleType()),
                         StructField("z", DoubleType())])

    def _f(x, y, z=None):
        xv = x.to_numpy(np.float64)
        yv = y.to_numpy(np.float64)
        zv = (np.zeros_like(xv) if z is None
              else np.nan_to_num(z.to_numpy(np.float64)))
        if t.src.is_geographic:
            xv, yv = np.radians(xv), np.radians(yv)
        ox, oy, oz = t.fwd3d(xv, yv, zv)
        if t.dst.is_geographic:
            ox, oy = np.degrees(ox), np.degrees(oy)
        return pd.DataFrame({"x": ox, "y": oy, "z": oz})

    return pandas_udf(_f, schema)


def transform_crs(df: DataFrame, src: str, dst: str,
                  x_col: str = "lon", y_col: str = "lat",
                  z_col: str | None = None,
                  out_prefix: str = "t_") -> DataFrame:
    """DataFrame-level CRS->CRS transform: adds {out_prefix}x/y/z columns
    transformed from `src` to `dst` (a one-liner for the common case)."""
    udf = crs_transform_udf(src, dst)
    args = [F.col(x_col), F.col(y_col)]
    if z_col is not None:
        args.append(F.col(z_col))
    tmp = f"_{out_prefix}crs"
    return (df.withColumn(tmp, udf(*args))
            .withColumn(f"{out_prefix}x", F.col(f"{tmp}.x"))
            .withColumn(f"{out_prefix}y", F.col(f"{tmp}.y"))
            .withColumn(f"{out_prefix}z", F.col(f"{tmp}.z"))
            .drop(tmp))
