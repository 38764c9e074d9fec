"""Hierarchical spatial cell index (S2/H3-style) + web-mercator tiles.

Design: a quadtree on the Web Mercator plane ("slippy map" tiling),
packed into one LongType id:

    cell_id = (z << 58) | (x << 29) | y          (z <= 28, x/y < 2^29)

This is the quad-cell analogue of S2's face-quadtree (the reference's
qsc projection, src/projections/qsc.cpp, is S2's ancestor geometry; its
healpix/isea operators are the equal-area DGGS cousins).  Properties the
engine relies on:

  - hierarchy: parent(z,x,y) = (z-1, x>>1, y>>1)  → prefix aggregation
  - locality:  neighbors differ by ±1 in x/y      → ring expansion kNN
  - partition: cell_prefix = cell at a coarse z   → co-located joins

Everything here is *pure Spark SQL expressions* — no UDFs, fully inside
whole-stage codegen, and pushdown-friendly.  `half_pairs`, the grid pair
join over the half neighbourhood, is built from them alone.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Z_SHIFT = 58
X_SHIFT = 29
MAX_Z = 28


def tile_x(lon: Column, z: int) -> Column:
    """Slippy-map tile x from longitude degrees at zoom z."""
    n = float(1 << z)
    raw = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    return F.least(F.greatest(raw, F.lit(0)), F.lit((1 << z) - 1)).cast("long")


def tile_y(lat: Column, z: int) -> Column:
    """Slippy-map tile y from latitude degrees at zoom z.

    y = floor((1 - asinh(tan(phi))/pi) / 2 * 2^z); asinh spelled with
    log(tan+sec) so the same closed form is expressible in ANSI SQL.
    """
    n = float(1 << z)
    phi = F.radians(lat)
    asinh_tan = F.log(F.tan(phi) + F.lit(1.0) / F.cos(phi))
    raw = F.floor((F.lit(1.0) - asinh_tan / F.lit(math.pi)) / F.lit(2.0) * F.lit(n))
    return F.least(F.greatest(raw, F.lit(0)), F.lit((1 << z) - 1)).cast("long")


def pack_cell(z: int, x: Column, y: Column) -> Column:
    return (F.lit(z).cast("long") * F.lit(1 << Z_SHIFT).cast("long")
            + x * F.lit(1 << X_SHIFT).cast("long") + y)


def cell_id(lon: Column, lat: Column, z: int) -> Column:
    """lon/lat degrees -> packed quad-cell id at resolution z."""
    if not 0 <= z <= MAX_Z:
        raise ValueError(f"cell resolution must be 0..{MAX_Z}")
    return pack_cell(z, tile_x(lon, z), tile_y(lat, z))


def cell_z(cell: Column) -> Column:
    return (cell / F.lit(1 << Z_SHIFT)).cast("long")


def cell_x(cell: Column) -> Column:
    return ((cell % F.lit(1 << Z_SHIFT)) / F.lit(1 << X_SHIFT)).cast("long")


def cell_y(cell: Column) -> Column:
    return (cell % F.lit(1 << X_SHIFT)).cast("long")


def cell_parent(cell: Column, steps: int = 1) -> Column:
    """Ancestor cell `steps` levels up (prefix aggregation / partitioning)."""
    z = cell_z(cell)
    x = F.shiftright(cell_x(cell), steps)
    y = F.shiftright(cell_y(cell), steps)
    return ((z - F.lit(steps)) * F.lit(1 << Z_SHIFT).cast("long")
            + x * F.lit(1 << X_SHIFT).cast("long") + y)


def neighbor_cells(cell: Column, ring: int = 1) -> Column:
    """Array of cells within Chebyshev distance `ring` (incl. self).

    Implemented as a static array of (dx, dy) offsets -> transform, so the
    explode that usually follows stays a native UDTF-style operation.
    Edge cells clamp (no wraparound in x for simplicity; the engine's
    test corpora avoid the antimeridian; full wrap arrives with dateline
    support).
    """
    z = cell_z(cell)
    n_minus1 = F.pow(F.lit(2.0), z).cast("long") - 1
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in range(-ring, ring + 1) for dy in range(-ring, ring + 1)
    ])
    x = cell_x(cell)
    y = cell_y(cell)
    return F.array_distinct(F.transform(
        offsets,
        lambda o: (z * F.lit(1 << Z_SHIFT).cast("long")
                   + F.least(F.greatest(x + o["dx"], F.lit(0).cast("long")), n_minus1)
                   * F.lit(1 << X_SHIFT).cast("long")
                   + F.least(F.greatest(y + o["dy"], F.lit(0).cast("long")), n_minus1)),
    ))


def half_neighbor_cells(cell: Column, ring: int = 1) -> Column:
    """Array of struct(cell, home) over the lexicographic HALF
    neighborhood: (0,0) plus every offset with (dx > 0) or (dx == 0 and
    dy > 0), Chebyshev distance <= ring (for ring=1:
    {(0,0), (0,1), (1,-1), (1,0), (1,1)}).

    For a symmetric pair join (distance/radius self-join), exploding one
    side over this half set generates each unordered pair of in-ring
    cells exactly ONCE — for any cell difference v != 0 exactly one of
    {v, -v} is in the set — instead of the full-ring-then-`id_a < id_b`
    plan that builds every candidate twice and discards half.  The home
    entry (flag true) still needs the id tiebreak for same-cell pairs.

    Out-of-world offsets are DROPPED, not clamped: a clamped offset can
    collapse onto a real neighbor's cell and would double-generate edge
    pairs under the half-set argument (clamping is only safe with the
    full ring + global id filter, as in :func:`neighbor_cells`).
    """
    z = cell_z(cell)
    n = F.pow(F.lit(2.0), z).cast("long")
    x = cell_x(cell)
    y = cell_y(cell)
    entries = []
    for dx, dy in half_offsets(ring):
        nx = x + F.lit(dx).cast("long")
        ny = y + F.lit(dy).cast("long")
        packed = (z * F.lit(1 << Z_SHIFT).cast("long")
                  + nx * F.lit(1 << X_SHIFT).cast("long") + ny)
        valid = ((nx >= 0) & (nx < n) & (ny >= 0) & (ny < n))
        entries.append(F.when(valid, F.struct(
            packed.alias("cell"),
            F.lit(dx == 0 and dy == 0).alias("home"))))
    return F.filter(F.array(*entries), lambda e: e.isNotNull())


def half_offsets(ring: int = 1) -> list[tuple[int, int]]:
    """The lexicographic half neighbourhood as (dx, dy) offsets: (0, 0)
    first, then every offset within Chebyshev distance `ring` with
    dx > 0, or dx == 0 and dy > 0."""
    return [(0, 0)] + [(dx, dy)
                       for dx in range(0, ring + 1)
                       for dy in range(-ring, ring + 1)
                       if (dx > 0) or (dx == 0 and dy > 0)]


def half_pairs(pts: DataFrame, key: list[str], half: Column,
               id_col: str) -> DataFrame:
    """Every unordered pair of points whose cells are equal or
    half-neighbours, each exactly once: the candidate step of a grid
    distance join.

    `pts` carries each point's cell in the `key` columns.  `half` is an
    expression over `pts` giving the point's half neighbourhood as
    array<struct<*key, home>>: its own cell flagged `home`, plus one of
    each pair of opposite neighbour offsets (:func:`half_offsets`,
    :func:`half_neighbor_cells`).  One side explodes over `half` and
    equi-joins the other side on the key, so a pair of distinct cells
    meets once; a same-cell pair is kept only as a_<id> < b_<id>.

    Returns a_<c> (the exploded side) and b_<c> for every non-key column
    c of `pts`.  The caller applies its own distance predicate.
    """
    cols = [c for c in pts.columns if c not in key]
    a = (pts.withColumn("_nb", F.explode(half))
         .select(*[F.col(c).alias(f"a_{c}") for c in cols],
                 *[F.col(f"_nb.{k}").alias(k) for k in key],
                 F.col("_nb.home").alias("_home")))
    b = pts.select(*[F.col(c).alias(f"b_{c}") for c in cols], *key)
    return (a.join(b, key)
            .where(~F.col("_home")
                   | (F.col(f"a_{id_col}") < F.col(f"b_{id_col}")))
            .drop("_home", *key))


# --- SQL string builders (for oracle parity, ANSI/DuckDB dialect) --------

def tile_x_sql(lon_expr: str, z: int) -> str:
    n = 1 << z
    return (f"CAST(LEAST(GREATEST(FLOOR(({lon_expr} + 180.0) / 360.0 * {n}.0), 0), {n - 1}) AS BIGINT)")


def tile_y_sql(lat_expr: str, z: int) -> str:
    n = 1 << z
    return (
        f"CAST(LEAST(GREATEST(FLOOR((1.0 - LN(TAN(RADIANS({lat_expr})) + 1.0/COS(RADIANS({lat_expr}))) / PI()) / 2.0 * {n}.0), 0), {n - 1}) AS BIGINT)"
    )


def cell_id_sql(lon_expr: str, lat_expr: str, z: int) -> str:
    return (f"({z} * {1 << Z_SHIFT} + {tile_x_sql(lon_expr, z)} * {1 << X_SHIFT} "
            f"+ {tile_y_sql(lat_expr, z)})")
