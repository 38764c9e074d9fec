"""Z-order (Morton) spatial data layout: key encoding, bbox range
decomposition, and cluster-by-zkey writes.

At 100 TB the dominant cost of a bbox query is the SCAN, and the only
lever that removes scan work (rather than speeding it up) is data
layout: rows sorted/clustered by a space-filling curve let parquet
row-group min/max statistics prune everything outside the query window.
This module provides the three pieces:

  - ``zorder_key(lon, lat, bits)``  — pure Spark SQL expression (no
    UDF, fully codegen): quantize lon/lat onto a 2^bits x 2^bits grid
    and bit-interleave with the classic binary-magic-numbers spread.
  - ``bbox_ranges(...)``            — driver-side decomposition of a
    lon/lat window into a bounded set of contiguous zkey intervals
    (quadtree refinement; quad nodes are contiguous in z by
    construction), the predicate a z-clustered scan can push down.
  - ``cluster_by_zorder(df, ...)``  — range-repartition + in-partition
    sort by zkey, so each output file owns a tight zkey interval and
    min/max pruning works.

The curve mirrors the cell hierarchy of spatial/cells.py (a z-order key
at 2b bits IS the packed quadtree path at depth b); the reference's
analogue is the grid bbox containment dispatch of
src/apply_gridshift.cpp:182+ — find the subgrids (here: key ranges)
that can contain the point, skip the rest.

Geohash (the public base32 z-order, lon-first interleave) is provided
as a pure expression too — it is the interoperable string form of the
same curve.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# binary magic numbers: spread the low 16 bits of v so bit k lands at
# bit 2k (Morton encode; public-domain bit-twiddling identity)
_SPREAD_MASKS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)

MAX_BITS = 16  # per axis; zkey then fits in 32 bits of a long

GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _spread_col(v: Column) -> Column:
    """Spark expression: bit k of (16-bit) v -> bit 2k of the result."""
    out = v
    for sh, mask in _SPREAD_MASKS:
        out = (out.bitwiseOR(F.shiftleft(out, sh))).bitwiseAND(F.lit(mask))
    return out


def _spread_int(v: int) -> int:
    out = v
    for sh, mask in _SPREAD_MASKS:
        out = (out | (out << sh)) & mask
    return out


def _quant(val: Column, lo: float, hi: float, bits: int) -> Column:
    n = 1 << bits
    raw = F.floor((val - F.lit(lo)) / F.lit(hi - lo) * F.lit(float(n)))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1)).cast("long")


def _quant_i(val: float, lo: float, hi: float, bits: int) -> int:
    n = 1 << bits
    raw = int(((val - lo) / (hi - lo)) * n)  # floor for val >= lo
    return min(max(raw, 0), n - 1)


def zorder_key(lon: Column, lat: Column, bits: int = MAX_BITS) -> Column:
    """Morton key of (lon, lat) on the 2^bits x 2^bits grid.

    lat bits at even positions, lon bits at odd positions (x-major,
    matching the (z, x, y) packing order of cells.py).  Pure SQL
    expressions — stays inside whole-stage codegen.
    """
    if not 1 <= bits <= MAX_BITS:
        raise ValueError(f"bits must be in [1, {MAX_BITS}]")
    ix = _quant(lon, -180.0, 180.0, bits)
    iy = _quant(lat, -90.0, 90.0, bits)
    return F.shiftleft(_spread_col(ix), 1).bitwiseOR(_spread_col(iy))


def zorder_key_int(lon: float, lat: float, bits: int = MAX_BITS) -> int:
    """Driver-side scalar twin of ``zorder_key`` (same arithmetic)."""
    ix = _quant_i(lon, -180.0, 180.0, bits)
    iy = _quant_i(lat, -90.0, 90.0, bits)
    return (_spread_int(ix) << 1) | _spread_int(iy)


def _spread_sql(expr: str) -> str:
    out = expr
    for sh, mask in _SPREAD_MASKS:
        out = f"(({out} | ({out} << {sh})) & {mask})"
    return out


def zorder_key_sql(lon: str, lat: str, bits: int = MAX_BITS) -> str:
    """ANSI-SQL (DuckDB) rendering of ``zorder_key`` — identical
    integer arithmetic, for value-exact oracles."""
    n = 1 << bits
    ix = (f"LEAST(GREATEST(CAST(FLOOR((({lon}) - -180.0) / 360.0 * {n}.0) "
          f"AS BIGINT), 0), {n - 1})")
    iy = (f"LEAST(GREATEST(CAST(FLOOR((({lat}) - -90.0) / 180.0 * {n}.0) "
          f"AS BIGINT), 0), {n - 1})")
    return f"(({_spread_sql(ix)} << 1) | {_spread_sql(iy)})"


# ---------------------------------------------------------------------------
# bbox -> zkey interval cover (quadtree refinement)
# ---------------------------------------------------------------------------

def bbox_ranges(lon_min: float, lon_max: float, lat_min: float,
                lat_max: float, bits: int = MAX_BITS,
                max_ranges: int = 32) -> list[tuple[int, int]]:
    """Decompose a lon/lat window into <= max_ranges contiguous zkey
    intervals that together COVER every grid cell intersecting it
    (never under-covers; an exact lon/lat predicate removes the
    quantization slop).

    Quadtree refinement: a depth-d node is a contiguous zkey interval
    of length 4^(bits-d).  Starting from the root, repeatedly split the
    partially-overlapping node with the widest interval while the
    budget allows; fully-inside nodes are emitted whole, fully-outside
    nodes dropped.  Adjacent/overlapping intervals are merged, so the
    result is minimal for its granularity.  Driver-side, O(max_ranges)
    work — the plan-time analogue of subgrid selection in
    src/apply_gridshift.cpp:182+.
    """
    if lon_min > lon_max or lat_min > lat_max:
        raise ValueError("empty bbox")
    qx0 = _quant_i(lon_min, -180.0, 180.0, bits)
    qx1 = _quant_i(lon_max, -180.0, 180.0, bits)
    qy0 = _quant_i(lat_min, -90.0, 90.0, bits)
    qy1 = _quant_i(lat_max, -90.0, 90.0, bits)

    # node = (depth, x, y) quadtree cell; its zkey interval is
    # [base, base + 4^(bits-depth) - 1] with base = the interleave of
    # the node coords left-shifted to full depth (quad nodes are
    # contiguous in z by construction)
    def span(d: int, x: int, y: int) -> tuple[int, int]:
        side = bits - d
        lo = (_spread_int(x << side) << 1) | _spread_int(y << side)
        return lo, lo + (1 << (2 * side)) - 1

    def rel(d: int, x: int, y: int) -> int:
        """2 = node fully inside the quantized window, 1 = partial,
        0 = disjoint."""
        side = bits - d
        nx0, nx1 = x << side, ((x + 1) << side) - 1
        ny0, ny1 = y << side, ((y + 1) << side) - 1
        if nx1 < qx0 or nx0 > qx1 or ny1 < qy0 or ny0 > qy1:
            return 0
        if nx0 >= qx0 and nx1 <= qx1 and ny0 >= qy0 and ny1 <= qy1:
            return 2
        return 1

    inside: list[tuple[int, int]] = []
    partial: list[tuple[int, int, int]] = [(0, 0, 0)]
    # refine the widest partial node while the total emitted count can
    # stay within budget (each split replaces 1 node by <= 4)
    while partial and len(inside) + len(partial) + 3 <= max_ranges:
        partial.sort(key=lambda n: n[0])  # shallowest (widest) first
        d, x, y = partial.pop(0)
        if d == bits:
            inside.append(span(d, x, y))
            continue
        for cx in (x << 1, (x << 1) | 1):
            for cy in (y << 1, (y << 1) | 1):
                r = rel(d + 1, cx, cy)
                if r == 2:
                    inside.append(span(d + 1, cx, cy))
                elif r == 1:
                    partial.append((d + 1, cx, cy))
    # whatever is still partial is emitted whole (over-cover)
    for d, x, y in partial:
        inside.append(span(d, x, y))

    inside.sort()
    merged: list[list[int]] = []
    for lo, hi in inside:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return [(lo, hi) for lo, hi in merged]


def ranges_predicate(zkey: Column,
                     ranges: list[tuple[int, int]]) -> Column:
    """OR-of-BETWEEN predicate over zkey intervals — the shape parquet
    min/max row-group pruning and data skipping understand."""
    if not ranges:
        raise ValueError("no ranges")
    pred = None
    for lo, hi in ranges:
        term = zkey.between(F.lit(lo), F.lit(hi))
        pred = term if pred is None else (pred | term)
    return pred


def ranges_semi_join(df: DataFrame, ranges: list[tuple[int, int]],
                     key_col: str = "zkey") -> DataFrame:
    """Keep the rows whose ``key_col`` falls in any interval, via a
    broadcast LEFT SEMI range join against the (tiny) interval table.

    Use this when the key is a COMPUTED column: an OR-of-BETWEEN filter
    would inline the key expression once per interval bound (64 copies
    for 32 ranges — enough to blow codegen's 64 KB method limit for a
    Morton-spread expression), while a join condition references the
    projected attribute, so the key is evaluated once per row.  It is
    also the shape that survives a range list too long for a predicate.
    ``ranges_predicate`` remains the right tool for a STORED key column
    (plain attribute, min/max pushdown).
    """
    if not ranges:
        raise ValueError("no ranges")
    spark = df.sparkSession
    rdf = spark.createDataFrame(ranges, "z_lo long, z_hi long")
    cond = (F.col(key_col) >= F.col("z_lo")) & (F.col(key_col) <= F.col("z_hi"))
    return df.join(F.broadcast(rdf), cond, "left_semi")


def cluster_by_zorder(df: DataFrame, lon: str = "lon", lat: str = "lat",
                      bits: int = MAX_BITS, n_files: int = 32,
                      key_col: str = "zkey") -> DataFrame:
    """Attach the z-order key and lay the rows out so each output file
    owns a tight zkey interval: range-repartition on the key (contiguous,
    balanced splits sampled by Spark) + in-partition sort.  Writing the
    result to parquet yields per-file/row-group min/max statistics that
    a ``ranges_predicate`` scan can prune against — the Delta/Iceberg
    Z-ORDER clustering primitive, built from stock Spark operators.
    """
    keyed = df.withColumn(key_col, zorder_key(F.col(lon), F.col(lat), bits))
    return (keyed.repartitionByRange(n_files, F.col(key_col))
            .sortWithinPartitions(key_col))


# ---------------------------------------------------------------------------
# geohash (public base32 z-order, lon-first interleave)
# ---------------------------------------------------------------------------

def geohash(lon: Column, lat: Column, precision: int = 5) -> Column:
    """Geohash string of (lon, lat) at the given precision (chars), as
    a pure Spark SQL expression.

    A geohash is the same Morton curve with lon taking the FIRST
    (most significant) bit and 5 bits per character: precision p uses
    t = 5p total bits = ceil(t/2) lon + floor(t/2) lat.  Encoded here
    by spreading both quantized axes and indexing the base32 alphabet
    per 5-bit group — no UDF.
    """
    if not 1 <= precision <= 6:
        # 6 chars = 30 bits -> 15+15, the widest an int32 spread covers
        raise ValueError("precision must be in [1, 6]")
    t = 5 * precision
    xb = (t + 1) // 2
    yb = t // 2
    ix = _quant(lon, -180.0, 180.0, xb)
    iy = _quant(lat, -90.0, 90.0, yb)
    # alternation starts at lon from the MSB (position t-1), so the
    # LSB is a lon bit when t is odd, a lat bit when t is even
    if t % 2:
        z = _spread_col(ix).bitwiseOR(F.shiftleft(_spread_col(iy), 1))
    else:
        z = F.shiftleft(_spread_col(ix), 1).bitwiseOR(_spread_col(iy))
    alphabet = F.array(*[F.lit(c) for c in GEOHASH_B32])
    chars = [
        F.element_at(
            alphabet,
            (F.shiftright(z, t - 5 * (i + 1)).bitwiseAND(F.lit(31)) + 1
             ).cast("int"))
        for i in range(precision)
    ]
    return F.concat(*chars)


def geohash_sql(lon: str, lat: str, precision: int = 5) -> str:
    """DuckDB rendering of ``geohash`` (identical integer arithmetic)."""
    t = 5 * precision
    xb = (t + 1) // 2
    yb = t // 2
    nx, ny = 1 << xb, 1 << yb
    ix = (f"LEAST(GREATEST(CAST(FLOOR((({lon}) - -180.0) / 360.0 * {nx}.0) "
          f"AS BIGINT), 0), {nx - 1})")
    iy = (f"LEAST(GREATEST(CAST(FLOOR((({lat}) - -90.0) / 180.0 * {ny}.0) "
          f"AS BIGINT), 0), {ny - 1})")
    if t % 2:
        z = f"({_spread_sql(ix)} | ({_spread_sql(iy)} << 1))"
    else:
        z = f"(({_spread_sql(ix)} << 1) | {_spread_sql(iy)})"
    lst = ", ".join(f"'{c}'" for c in GEOHASH_B32)
    parts = [
        f"([{lst}])[CAST((({z} >> {t - 5 * (i + 1)}) & 31) AS INT) + 1]"
        for i in range(precision)
    ]
    return " || ".join(parts)
