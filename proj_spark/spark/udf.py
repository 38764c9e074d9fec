"""pandas-UDF wrappers around the NumPy coordinate kernels.

Every coordinate kernel crosses the JVM/Python boundary through one
factory, `kernel_udf`: a scalar pandas UDF that closes over the compiled
Operation (plan-time constants only: floats + small ndarrays), which
Spark serializes to executors once per task. Each Arrow batch (~64k
rows) is transformed by a single NumPy call — no per-row Python,
mirroring the columnar contract of the reference's proj_trans_generic
(src/4D_api.cpp:353-460).

A UDF stage also pays a fixed cost per task, whatever its kernel does.
Each task opens with `importlib.invalidate_caches()`, which on CPython
3.11 makes every zip importer in the worker re-read its archive's
directory: ~0.25 CPU-s per task over pyspark.zip.  The engine's worker
daemon (`daemon.py`, named by `get_spark`) re-reads only a changed
archive; what remains per task is the UDF's unpickling and Arrow set-up.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def kernel_udf(fn, schema: str):
    """Scalar pandas UDF running the NumPy kernel `fn` once per Arrow
    batch.  `fn` receives each input column as a float64 ndarray; a
    tuple it returns fills the fields of the struct DDL `schema`
    (e.g. "x double, y double") in order, a single array fills a
    scalar `schema` such as "double".  Spark parses the DDL when the UDF
    is made, so a SparkSession must be active."""
    from pyspark.sql.pandas.functions import pandas_udf

    def _f(*cols):
        out = fn(*(c.to_numpy(np.float64) for c in cols))
        if isinstance(out, tuple):
            # integer column labels assign the struct fields by position
            return pd.DataFrame(dict(enumerate(out)))
        return pd.Series(out)

    return pandas_udf(_f, schema)


def fwd_udf(op):
    """(lon_deg, lat_deg) -> struct(x, y) meters, via op.fwd_deg."""

    def fwd(lon, lat):
        x, y = op.fwd_deg(lon, lat)
        return x, y

    return kernel_udf(fwd, "x double, y double")


def project(df: DataFrame, projstring: str, lon_col: str = "lon", lat_col: str = "lat",
            out_x: str = "x", out_y: str = "y") -> DataFrame:
    """Project lon/lat degree columns with any registered operation.

    Web Mercator is special-cased to *native Spark expressions* (no UDF,
    stays inside whole-stage codegen) since its math is closed-form.
    """
    from proj_spark import create

    op = create(projstring)
    if projstring.strip().startswith("+proj=webmerc"):
        return df.withColumn(out_x, webmerc_x(F.col(lon_col), op.a)).withColumn(
            out_y, webmerc_y(F.col(lat_col), op.a))
    tmp = "_prj"
    out = df.withColumn(tmp, fwd_udf(op)(F.col(lon_col), F.col(lat_col)))
    return (out.withColumn(out_x, F.col(f"{tmp}.x"))
               .withColumn(out_y, F.col(f"{tmp}.y"))
               .drop(tmp))


def utm_fwd_udf():
    """(lon_deg, lat_deg) -> struct(zone int, x, y): auto-zoned UTM on
    GRS80.

    One UDF handles every zone: per Arrow batch, UTMBatch runs the exact
    etmerc kernel with a per-row zone.  This keeps the whole-table
    projection a single map-side pass — no per-zone filtering, no
    repartition — which is the shape that scales: 60 filtered passes
    would scan the table 60 times.
    Zone logic mirrors src/projections/tmerc.cpp:541-589.
    """
    from proj_spark.operations.tmerc import UTMBatch

    op = UTMBatch({"ellps": "GRS80"})

    def utm(lon, lat):
        zone, x, y = op.fwd_deg(lon, lat)
        return zone.astype(np.int32), x, y

    return kernel_udf(utm, "zone int, x double, y double")


def webmerc_x(lon: Column, a: float = 6378137.0) -> Column:
    return F.lit(a) * F.radians(lon)


def webmerc_y(lat: Column, a: float = 6378137.0) -> Column:
    return F.lit(a) * F.log(F.tan(F.lit(np.pi / 4) + F.radians(lat) / 2))


def datum_pipeline_udf(cart, helmert):
    """(lon_deg, lat_deg) -> struct(lon, lat) after the canonical
    cart -> helmert -> cart^-1 datum pipeline, FUSED into one Arrow pass.

    Mirrors the reference pipeline composer's elision of intermediate
    prepare/finalize steps (src/fwd.cpp:173,192; SURVEY.md 4.1): one
    JVM->Python transfer for the whole chain instead of three.
    """

    def datum(lon, lat):
        lam, phi = np.radians(lon), np.radians(lat)
        x, y, z = cart.fwd3d(lam, phi, np.zeros_like(lam))
        x, y, z = helmert.fwd(x, y, z)
        lam2, phi2, _ = cart.inv3d(x, y, z)
        return np.degrees(lam2), np.degrees(phi2)

    return kernel_udf(datum, "lon double, lat double")


def factors_udf(op):
    """(lon_deg, lat_deg) -> struct(h, k, conv, s): proj_factors
    (src/factors.cpp:15-106) as one vectorized Arrow pass — meridional
    scale h, parallel scale k, meridian convergence (rad) and areal
    scale s via the reference's 4-corner central differences on the raw
    projection kernel."""
    from proj_spark.operations.factors import factors

    def fac(lon, lat):
        f = factors(op, np.radians(lon), np.radians(lat))
        return f["h"], f["k"], f["conv"], f["s"]

    return kernel_udf(fac, "h double, k double, conv double, s double")


def geod_inverse_udf(a: float, f: float):
    """(lat1, lon1, lat2, lon2 degrees) -> struct(s12 m, azi1, azi2 deg):
    the geodesic inverse problem (geod_inverse, src/geodesic.c) batch-
    solved by the vectorized Karney kernel.  Azimuths are normalized to
    [0, 360) with the sign-safe `d < 0 ? d + 360 : d + 0.0` form (the
    `+ 0.0` collapses IEEE -0.0 so downstream hashing is stable)."""
    from proj_spark.operations.karney import Geodesic

    g = Geodesic(a, f)

    def inverse(lat1, lon1, lat2, lon2):
        s12, azi1, azi2 = g.inverse(np.radians(lat1), np.radians(lon1),
                                    np.radians(lat2), np.radians(lon2))
        a1, a2 = np.degrees(azi1), np.degrees(azi2)
        return (s12, np.where(a1 < 0.0, a1 + 360.0, a1 + 0.0),
                np.where(a2 < 0.0, a2 + 360.0, a2 + 0.0))

    return kernel_udf(inverse, "s12 double, azi1 double, azi2 double")


def geod_edge_area_udf(a: float, f: float):
    """(lat1, lon1, lat2, lon2 degrees) -> struct(s12 m, area12 m^2): one
    geodesic polygon EDGE's length and signed area term, the per-edge
    accumulation of the reference's geod_polygonarea
    (src/geodesic.c geod_polygon_addpoint).  Summing S12 over a closed
    ring (and negating, per areareduceA's clockwise flip) gives the
    polygon's geodesic area — done JVM-side by a groupBy, so the Python
    kernel stays a flat per-edge batch and the reduction distributes."""
    from proj_spark.operations.karney import Geodesic

    g = Geodesic(a, f)

    def edge_area(lat1, lon1, lat2, lon2):
        s12, _, _, area = g.inverse(np.radians(lat1), np.radians(lon1),
                                    np.radians(lat2), np.radians(lon2),
                                    want_area=True)
        return s12, area

    return kernel_udf(edge_area, "s12 double, area12 double")


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

    def transform(x, y, z=None):
        z = np.zeros_like(x) if z is None else np.nan_to_num(z)
        if t.src.is_geographic:
            x, y = np.radians(x), np.radians(y)
        ox, oy, oz = t.fwd3d(x, y, z)
        if t.dst.is_geographic:
            ox, oy = np.degrees(ox), np.degrees(oy)
        return ox, oy, oz

    return kernel_udf(transform, "x double, y double, z double")


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
