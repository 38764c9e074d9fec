"""Spatial statistics over the cell lattice: global Moran's I.

Moran's I is THE standard global spatial-autocorrelation measure
(Moran 1950; the textbook form in Cliff & Ord 1981): for cell values
x_i with binary rook contiguity weights w_ij (1 iff cells share an
edge), with x_bar the mean over the N occupied cells and
W = number of directed neighbor pairs,

    I = (N / W) * sum_ij (x_i - x_bar)(x_j - x_bar)
                / sum_i  (x_i - x_bar)^2

Engine formulation — exact-integer sufficient statistics.  Expanding
the centered products keeps every aggregate an exact BIGINT sum of
integer cell counts (no order-dependent float accumulation, the repo's
oracle-parity rule):

    sum_ij (x_i-xb)(x_j-xb) = S_pairs - xb * S_i + W * xb^2
    sum_i  (x_i-xb)^2       = S_sq    - N * xb^2

with S_pairs = sum over pairs of x_i*x_j, S_i = sum over pairs of
(x_i + x_j), S_sq = sum of x_i^2, T = sum x_i, xb = T/N.  Only the
final assembly touches doubles, from exactly-representable integers
with one fixed parenthesization, so any engine reproduces it bit-for-
bit.

Scale shape: one groupBy of the points to cells (the only big
shuffle), then a neighbor equi-join of the CELL table against itself
(4 shifted keys via explode — rows = 4x occupied cells, never points),
then single-row aggregates.  Rook neighbors are in-lattice only: no
x wraparound (consistent with cells.neighbor_cells; the dateline
carries no test data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import cells


def cell_counts(pts: DataFrame, z: int,
                lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Occupied-cell page counts at zoom z: (tx, ty, x)."""
    return (pts
            .select(cells.tile_x(F.col(lon_col), z).alias("tx"),
                    cells.tile_y(F.col(lat_col), z).alias("ty"))
            .groupBy("tx", "ty")
            .agg(F.count("*").alias("x")))


def morans_i(counts: DataFrame) -> DataFrame:
    """Global Moran's I over (tx, ty, x) cell counts with rook weights.

    Returns ONE row: the exact integer sufficient statistics
    (n_cells, w_pairs, t_sum, s_sq, s_i, s_pairs) plus morans_i
    rounded to 6 dp.  Degenerate lattices (no neighbor pairs, or zero
    variance) yield NULL morans_i rather than a division error.
    """
    # directed neighbor pairs among occupied cells: explode the 4 rook
    # offsets on the left, equi-join the shifted key against the cells
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
    ])
    left = (counts
            .withColumn("_o", F.explode(offsets))
            .select((F.col("tx") + F.col("_o.dx")).alias("ntx"),
                    (F.col("ty") + F.col("_o.dy")).alias("nty"),
                    F.col("x").alias("xi")))
    right = counts.select(F.col("tx").alias("ntx"), F.col("ty").alias("nty"),
                          F.col("x").alias("xj"))
    pairs = left.join(right, ["ntx", "nty"])

    node = counts.agg(
        F.count("*").alias("n_cells"),
        F.sum("x").alias("t_sum"),
        F.sum(F.col("x") * F.col("x")).alias("s_sq"))
    edge = pairs.agg(
        F.count("*").alias("w_pairs"),
        F.sum(F.col("xi") + F.col("xj")).alias("s_i"),
        F.sum(F.col("xi") * F.col("xj")).alias("s_pairs"))

    j = node.crossJoin(edge)
    xb = F.col("t_sum").cast("double") / F.col("n_cells")
    num = (F.col("s_pairs") - xb * F.col("s_i")
           + F.col("w_pairs") * xb * xb)
    den = F.col("s_sq") - F.col("n_cells") * xb * xb
    i_val = F.when(
        (F.col("w_pairs") > 0) & (den != 0.0),
        F.round((F.col("n_cells").cast("double") / F.col("w_pairs"))
                * num / den, 6))
    return j.select("n_cells", "w_pairs", "t_sum", "s_sq", "s_i", "s_pairs",
                    i_val.alias("morans_i"))


def gearys_c(counts: DataFrame) -> DataFrame:
    """Global Geary's C over (tx, ty, x) cell counts with rook weights
    — Moran's I's local-contrast complement (C < 1 clustered, C > 1
    dispersed; sensitive to neighbor DIFFERENCES where I measures
    covariance with the mean).

    Same exact-integer discipline as morans_i above: the sufficient
    statistics (n_cells, w_pairs, s_sq, t_sum, s_diff2 = Σ(xi-xj)²
    over directed rook pairs) are BIGINT-exact under any partial-agg
    reordering; the single one-row float assembly uses one fixed
    parenthesization the oracle mirrors:
        C = ((n-1) / (2·W)) · s_diff2 / (s_sq - n·x̄²).
    """
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
    ])
    left = (counts
            .withColumn("_o", F.explode(offsets))
            .select((F.col("tx") + F.col("_o.dx")).alias("ntx"),
                    (F.col("ty") + F.col("_o.dy")).alias("nty"),
                    F.col("x").alias("xi")))
    right = counts.select(F.col("tx").alias("ntx"), F.col("ty").alias("nty"),
                          F.col("x").alias("xj"))
    pairs = left.join(right, ["ntx", "nty"])

    node = counts.agg(
        F.count("*").alias("n_cells"),
        F.sum("x").alias("t_sum"),
        F.sum(F.col("x") * F.col("x")).alias("s_sq"))
    edge = pairs.agg(
        F.count("*").alias("w_pairs"),
        F.sum((F.col("xi") - F.col("xj"))
              * (F.col("xi") - F.col("xj"))).alias("s_diff2"))

    j = node.crossJoin(edge)
    xb = F.col("t_sum").cast("double") / F.col("n_cells")
    den = F.col("s_sq") - F.col("n_cells") * xb * xb
    c_val = F.when(
        (F.col("w_pairs") > 0) & (den != 0.0),
        F.round(((F.col("n_cells") - 1).cast("double")
                 / (2.0 * F.col("w_pairs"))
                 * F.col("s_diff2")) / den, 6))
    return j.select("n_cells", "w_pairs", "t_sum", "s_sq", "s_diff2",
                    c_val.alias("gearys_c"))


# 3x3 binomial (Gaussian-approximating) kernel — INTEGER weights so the
# convolution is an exact BIGINT sum any engine reproduces bit-for-bit
def lisa_quadrants(counts: DataFrame) -> DataFrame:
    """Moran-scatterplot (LISA) quadrant classification per occupied
    cell, aggregated: each cell is HH / HL / LH / LL by whether its own
    count and its rook-neighbor lag MEAN sit above the global mean
    (Anselin 1995's local-Moran quadrants — HH/LL are spatial clusters,
    HL/LH spatial outliers); isolated cells (no occupied rook
    neighbor) are ISO.

    Exactness: both comparisons are integer CROSS-MULTIPLICATIONS —
    x_i > x̄ = T/N  ⇔  x_i * N > T, and lag_i / k_i > T / N  ⇔
    lag_i * N > T * k_i — so the classification involves no float at
    all and any engine reproduces it bit-for-bit (ties land on the
    "not greater" = L side deterministically).  Magnitudes: lag * N <=
    corpus * cells, far under 2^63 at any realistic zoom.

    Scale shape: same as morans_i — one points->cells shuffle, a
    4-offset explode join of the CELL table (rows = 4x occupied cells,
    never points), one broadcast of the single-row totals, one final
    5-row hash agg.
    """
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
    ])
    left = (counts
            .withColumn("_o", F.explode(offsets))
            .select((F.col("tx") + F.col("_o.dx")).alias("ntx"),
                    (F.col("ty") + F.col("_o.dy")).alias("nty"),
                    F.col("tx"), F.col("ty")))
    right = counts.select(F.col("tx").alias("ntx"), F.col("ty").alias("nty"),
                          F.col("x").alias("xj"))
    lag = (left.join(right, ["ntx", "nty"])
           .groupBy("tx", "ty")
           .agg(F.sum("xj").alias("lag"), F.count("*").alias("k")))
    node = counts.agg(F.count("*").alias("n_cells"),
                      F.sum("x").alias("t_sum"))
    per = (counts.join(lag, ["tx", "ty"], "left")
           .select("x", F.coalesce("lag", F.lit(0)).alias("lag"),
                   F.coalesce("k", F.lit(0)).alias("k"))
           .crossJoin(F.broadcast(node)))
    hi_x = F.col("x") * F.col("n_cells") > F.col("t_sum")
    hi_lag = F.col("lag") * F.col("n_cells") > F.col("t_sum") * F.col("k")
    quad = (F.when(F.col("k") == 0, F.lit("ISO"))
            .when(hi_x & hi_lag, F.lit("HH"))
            .when(hi_x & ~hi_lag, F.lit("HL"))
            .when(~hi_x & hi_lag, F.lit("LH"))
            .otherwise(F.lit("LL")))
    return (per.select(quad.alias("quadrant"), "x", "lag", "k")
            .groupBy("quadrant")
            .agg(F.count("*").alias("n_cells"),
                 F.sum("x").alias("sum_x"),
                 F.sum("lag").alias("sum_lag"),
                 F.sum("k").alias("sum_k")))


KERNEL_3X3 = [(dx, dy, (2 - abs(dx)) * (2 - abs(dy)))
              for dx in (-1, 0, 1) for dy in (-1, 0, 1)]


def kernel_smooth(counts: DataFrame, z: int) -> DataFrame:
    """Raster convolution: 3x3 binomial smoothing of tile counts (the
    KDE-style heatmap step of every web-map density layer).

    Scatter formulation: each occupied tile EXPLODES its 9 weighted
    contributions onto shifted targets, then one hash agg on the target
    tile sums them — rows = 9x occupied TILES (never points), one
    shuffle.  At 100 TB the tile table is the already-aggregated small
    relation, so the convolution costs a rounding error next to the
    point scan.  Targets outside the z-lattice are dropped (no x wrap:
    consistent with cells.neighbor_cells; the dateline carries no data).

    Output per target tile: (tx, ty, n_pages = its own raw count or 0,
    density = sum of weighted neighbor counts, weight total 16).
    """
    n = 1 << z
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                 F.lit(w).alias("w"))
        for dx, dy, w in KERNEL_3X3])
    scat = (counts
            .withColumn("_o", F.explode(offsets))
            .select((F.col("tx") + F.col("_o.dx")).alias("tx"),
                    (F.col("ty") + F.col("_o.dy")).alias("ty"),
                    (F.col("x") * F.col("_o.w")).alias("wx"),
                    F.when((F.col("_o.dx") == 0) & (F.col("_o.dy") == 0),
                           F.col("x")).otherwise(F.lit(0)).alias("own")))
    return (scat
            .where((F.col("tx") >= 0) & (F.col("tx") < n)
                   & (F.col("ty") >= 0) & (F.col("ty") < n))
            .groupBy("tx", "ty")
            .agg(F.sum("own").cast("long").alias("n_pages"),
                 F.sum("wx").cast("long").alias("density")))


def getis_gi(counts: DataFrame) -> DataFrame:
    """Getis-Ord Gi* hotspot z-scores over occupied cells (Getis & Ord
    1992; Ord & Getis 1995 eq. 6) with binary 3x3 queen weights
    INCLUDING self (the * variant), study region = the occupied cells.

        Gi* = (W_i - xb*k_i) / (S * sqrt((n*k_i - k_i^2) / (n - 1)))

    with W_i = sum of x_j over occupied window cells, k_i their count,
    xb/S the global mean/std (ddof=0), n the occupied-cell count.

    Exactness contract (the morans_i discipline): W_i, k_i, n, T=sum x,
    S_sq=sum x^2 are exact BIGINTs; the per-row assembly is a fixed
    parenthesization of correctly-rounded IEEE ops (/ * - sqrt), so the
    SQL oracle reproduces the rounded double bit-for-bit.

    Scale shape: one 9-offset explode of the CELL table joined back on
    the shifted key (rows = 9x cells), one agg, one broadcastable
    1-row global join.
    """
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx, dy, _ in KERNEL_3X3])
    left = (counts
            .withColumn("_o", F.explode(offsets))
            .select((F.col("tx") + F.col("_o.dx")).alias("ntx"),
                    (F.col("ty") + F.col("_o.dy")).alias("nty"),
                    F.col("tx").alias("tx"), F.col("ty").alias("ty")))
    right = counts.select(F.col("tx").alias("ntx"), F.col("ty").alias("nty"),
                          F.col("x").alias("xj"))
    win = (left.join(right, ["ntx", "nty"])
           .groupBy("tx", "ty")
           .agg(F.sum("xj").cast("long").alias("w_sum"),
                F.count("*").cast("long").alias("k")))
    glob = counts.agg(F.count("*").alias("n_cells"),
                      F.sum("x").cast("long").alias("t_sum"),
                      F.sum(F.col("x") * F.col("x")).cast("long")
                      .alias("s_sq"))
    j = win.join(counts, ["tx", "ty"]).crossJoin(F.broadcast(glob))
    n = F.col("n_cells").cast("double")
    xb = F.col("t_sum") / n
    s = F.sqrt(F.col("s_sq") / n - xb * xb)
    varterm = (n * F.col("k") - F.col("k") * F.col("k")) / (n - F.lit(1.0))
    gi = F.when((F.col("n_cells") > 1) & (s > 0.0) & (varterm > 0.0),
                F.round((F.col("w_sum") - xb * F.col("k"))
                        / (s * F.sqrt(varterm)), 6))
    return j.select("tx", "ty", F.col("x").alias("n_pages"),
                    "w_sum", "k", gi.alias("gi_star"))


# Shifts that keep the centered deviations non-negative: |x - cx| is at
# most the full lon/lat span in µdeg, so adding the span yields u, v in
# [0, 2*span] — every integer division below sees non-negative operands
# (Spark's `div` truncates toward zero, DuckDB's `//` floors; they only
# agree on non-negative values — the domain_gyration discipline).
_SDE_USHIFT = 360_000_000   # lon span in µdeg
_SDE_VSHIFT = 180_000_000   # lat span in µdeg
_RAD2DEG = 57.29577951308232


def std_ellipse(pts: DataFrame, id_col: str = "domain",
                lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Standard deviational ellipse (directional distribution) per
    group: mean center, orientation and the major/minor standard
    deviations of the point scatter (Lefever 1926; the classic GIS
    "directional distribution" tool) in µdeg planar coordinates.

    Exactness contract (the morans_i/domain_gyration discipline): all
    sufficient statistics are exact BIGINT sums of integer µdeg values
    — coords quantized to µdeg, deviations shifted non-negative, and
    the second-moment products div-quantized by 1e6 per row BEFORE
    summing (bounds: (2*360e6)^2/1e6 = 5.2e11 per row, far below 2^63
    even at 10^9 rows/group).  Only the final per-group assembly
    touches doubles, from exactly-representable integers with one
    fixed parenthesization, so the SQL oracle reproduces every rounded
    output bit-for-bit.

    Derivation: with centered deviations dx, dy and covariance moments
    Cxx, Cyy, Cxy (computed from the shifted-quantized sums via the
    same fixed expression in both engines), the ellipse rotation is
    theta = 0.5*atan2(2*Cxy, Cxx - Cyy) and the axis variances are the
    eigenvalues (Cxx + Cyy +/- sqrt((Cxx - Cyy)^2 + 4*Cxy^2)) / 2.

    Scale shape: two shuffles on the group key (centroid, then
    moments) + one broadcast join back — identical to the
    radius-of-gyration plan; output is one row per group.
    """
    t = pts.select(
        F.col(id_col),
        (F.round(F.col(lon_col) * 1e6, 0).cast("long")
         + F.lit(180_000_000)).alias("x"),
        (F.round(F.col(lat_col) * 1e6, 0).cast("long")
         + F.lit(90_000_000)).alias("y"))
    c = (t.groupBy(id_col)
         .agg(F.count("*").alias("n_pages"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"))
         .select(id_col, "n_pages",
                 F.expr("sx div n_pages").alias("cx"),
                 F.expr("sy div n_pages").alias("cy")))
    j = (t.join(F.broadcast(c), id_col)
         .select(id_col, "n_pages", "cx", "cy",
                 (F.col("x") - F.col("cx") + _SDE_USHIFT).alias("u"),
                 (F.col("y") - F.col("cy") + _SDE_VSHIFT).alias("v")))
    agg = (j.groupBy(id_col, "n_pages", "cx", "cy")
           .agg(F.sum("u").alias("su"), F.sum("v").alias("sv"),
                F.sum(F.expr("(u * u) div 1000000")).alias("suuq"),
                F.sum(F.expr("(v * v) div 1000000")).alias("svvq"),
                F.sum(F.expr("(u * v) div 1000000")).alias("suvq")))
    # final assembly: fixed parenthesization, doubles from exact ints
    nd = F.col("n_pages").cast("double")
    mu = F.col("su") / nd
    mv = F.col("sv") / nd
    cxx = F.col("suuq") / nd * 1e6 - mu * mu
    cyy = F.col("svvq") / nd * 1e6 - mv * mv
    cxy = F.col("suvq") / nd * 1e6 - mu * mv
    disc = F.sqrt((cxx - cyy) * (cxx - cyy) + 4.0 * cxy * cxy)
    lam1 = (cxx + cyy + disc) / 2.0
    lam2 = (cxx + cyy - disc) / 2.0
    theta = F.atan2(2.0 * cxy, cxx - cyy) / 2.0
    return agg.select(
        id_col, "n_pages",
        (F.col("cx") - 180_000_000).alias("cx_udeg"),
        (F.col("cy") - 90_000_000).alias("cy_udeg"),
        "suuq", "svvq", "suvq",
        F.round(theta * _RAD2DEG, 4).alias("theta_deg"),
        F.round(F.sqrt(F.greatest(lam1, F.lit(0.0))), 2)
        .alias("sig_maj_udeg"),
        F.round(F.sqrt(F.greatest(lam2, F.lit(0.0))), 2)
        .alias("sig_min_udeg"))


def kulldorff_scan(counts: DataFrame, top_k: int = 20,
                   max_r: int = 2) -> DataFrame:
    """Kulldorff-style spatial scan statistic over a cell lattice:
    find the zones (an occupied cell + its Chebyshev-radius-r
    neighborhood, r = 0..max_r) where the case class is most
    over-represented relative to the baseline population
    (Kulldorff 1997, the SaTScan statistic; Poisson/binomial LLR).

    Input: (tx, ty, n, c) — per occupied cell, baseline count n and
    case count c.

    Exactness contract: the candidate CUT and ORDER use only exact
    BIGINT arithmetic — a zone qualifies iff c_zone*n_tot >
    c_tot*n_zone (exactly "observed > expected" cross-multiplied; no
    float ratio), and zones are ranked by the exact integer excess
    c_zone*n_tot - c_tot*n_zone with (cx, cy, r) tie-breaks — so the
    top-k set is engine-independent.  The LLR itself is reported as
    ONE fixed-parenthesization double expression over the exact
    integer counts (products bounded by count^2 < 2^63 up to ~3e9
    rows; at larger scale widen to DECIMAL).

    Scale shape: the neighborhood sums are computed by exploding each
    AGGREGATED cell row to its (2*max_r+1)^2 neighbor centers tagged
    with dr = Chebyshev distance, then one hash-agg per (center, r) —
    work is |occupied cells| * 25, never |points| * 25; one shuffle on
    the center key, TakeOrdered for the top-k.
    """
    offs = [(dx, dy) for dx in range(-max_r, max_r + 1)
            for dy in range(-max_r, max_r + 1)]
    off = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                             F.lit(max(abs(dx), abs(dy))).alias("dr"))
                    for dx, dy in offs])
    contrib = (counts.withColumn("_o", F.explode(off))
               .select((F.col("tx") + F.col("_o.dx")).alias("cx"),
                       (F.col("ty") + F.col("_o.dy")).alias("cy"),
                       F.explode(F.sequence(F.col("_o.dr"),
                                            F.lit(max_r))).alias("r"),
                       "n", "c"))
    zone = (contrib.groupBy("cx", "cy", "r")
            .agg(F.sum("n").alias("n_zone"), F.sum("c").alias("c_zone")))
    occ = zone.join(counts.select(F.col("tx").alias("cx"),
                                  F.col("ty").alias("cy")), ["cx", "cy"])
    tot = counts.agg(F.sum("n").alias("n_tot"), F.sum("c").alias("c_tot"))
    j = (occ.crossJoin(F.broadcast(tot))
         .where((F.col("c_zone") * F.col("n_tot")
                 > F.col("c_tot") * F.col("n_zone"))
                & (F.col("n_zone") < F.col("n_tot"))))
    ctd = F.col("c_tot").cast("double")
    nzd = F.col("n_zone").cast("double")
    ntd = F.col("n_tot").cast("double")
    czd = F.col("c_zone").cast("double")
    e = (ctd * nzd) / ntd
    t1 = czd * F.log(czd / e)
    t2 = (ctd - czd) * F.log((ctd - czd) / (ctd - e))
    llr = F.when(F.col("c_zone") == F.col("c_tot"), t1).otherwise(t1 + t2)
    return (j.select(
        "cx", "cy", "r", "n_zone", "c_zone", "n_tot", "c_tot",
        (F.col("c_zone") * F.col("n_tot")
         - F.col("c_tot") * F.col("n_zone")).alias("excess"),
        F.round(llr, 4).alias("llr"))
        .orderBy(F.desc("excess"), "cx", "cy", "r")
        .limit(top_k))


def _class_pair_lattice(obs: DataFrame, cls_col: str, ax_col: str,
                        cnt_col: str) -> tuple[DataFrame, DataFrame]:
    """The class-pair x axis-value lattice the pairwise distribution
    tests run on, and the axis values.

    One partial-agg shuffle of ``obs`` to (class, axis value) counts;
    every unordered class pair cls_a < cls_b with its totals n_a, n_b,
    crossed with every axis value of the aggregated counts, carries
    that value's counts c_a and c_b (0 where a class has none).
    Returns (lattice (cls_b, ax, cls_a, n_a, n_b, c_a, c_b), axis
    values (ax))."""
    cnt = (obs.groupBy(cls_col, ax_col)
           .agg(F.sum(cnt_col).cast("long").alias("_c")))
    tot = cnt.groupBy(cls_col).agg(F.sum("_c").alias("_n"))
    classes = tot.select(F.col(cls_col).alias("_cls"), "_n")
    pairs = (classes.alias("a").crossJoin(classes.alias("b"))
             .where(F.col("a._cls") < F.col("b._cls"))
             .select(F.col("a._cls").alias("cls_a"),
                     F.col("b._cls").alias("cls_b"),
                     F.col("a._n").alias("n_a"),
                     F.col("b._n").alias("n_b")))
    axis = cnt.select(ax_col).distinct()
    grid = pairs.crossJoin(F.broadcast(axis))
    ca = cnt.select(F.col(cls_col).alias("cls_a"),
                    F.col(ax_col), F.col("_c").alias("c_a"))
    cb = cnt.select(F.col(cls_col).alias("cls_b"),
                    F.col(ax_col), F.col("_c").alias("c_b"))
    lattice = (grid.join(ca, ["cls_a", ax_col], "left")
               .join(cb, ["cls_b", ax_col], "left")
               .fillna(0, subset=["c_a", "c_b"]))
    return lattice, axis


def emd_pairs(obs: DataFrame, cls_col: str = "cls",
              pos_col: str = "pos", cnt_col: str = "c",
              span: int | None = None) -> DataFrame:
    """Pairwise 1-D earth mover's (Wasserstein-1) distance between the
    distributions of every unordered class pair along an integer
    position axis (e.g. a Hilbert-curve key, so 2-D spatial
    distributions compare along a locality-preserving 1-D order —
    the sliced-Wasserstein idea, Rabin et al. 2011).

    For empirical CDFs F_a, F_b over positions p_0 < ... < p_m,

        W1 = sum_i |F_a(p_i) - F_b(p_i)| * (p_{i+1} - p_i)

    Exactness: cross-multiplying the CDFs by the class totals keeps
    every term integer — ``emd_q = sum |cum_a*n_b - cum_b*n_a| * gap``
    is exact BIGINT (no float accumulation); the normalized distance
    ``emd = emd_q / (n_a * n_b * span)`` is ONE float expression over
    exact integers, bit-identical in any engine.

    Scale shape: the corpus is touched by exactly one partial-agg
    shuffle to (class, position); everything after runs on the
    aggregated lattice (`_class_pair_lattice`) — |class pairs| *
    |positions| rows — with one window cumsum per pair.
    ``span`` defaults to max(pos) - min(pos) over the observed lattice.

    Input ``obs``: one row per (class, position) with a count column.
    Returns (cls_a, cls_b, emd_q, emd) for cls_a < cls_b.
    """
    g, pos = _class_pair_lattice(obs, cls_col, pos_col, cnt_col)
    w = Window.partitionBy("cls_a", "cls_b").orderBy(pos_col)
    g = (g.withColumn("cum_a", F.sum("c_a").over(w))
         .withColumn("cum_b", F.sum("c_b").over(w))
         .withColumn("gap", F.lead(pos_col).over(w) - F.col(pos_col)))
    term = F.abs(F.col("cum_a") * F.col("n_b")
                 - F.col("cum_b") * F.col("n_a")) * F.col("gap")
    res = (g.where(F.col("gap").isNotNull())
           .groupBy("cls_a", "cls_b", "n_a", "n_b")
           .agg(F.sum(term).cast("long").alias("emd_q")))
    if span is None:
        span_df = pos.agg((F.max(pos_col) - F.min(pos_col))
                          .cast("long").alias("_span"))
        res = res.crossJoin(F.broadcast(span_df))
        span_col = F.col("_span")
    else:
        span_col = F.lit(int(span))
    return res.select(
        "cls_a", "cls_b", "emd_q",
        F.round(F.col("emd_q").cast("double")
                / (F.col("n_a") * F.col("n_b") * span_col).cast("double"),
                8).alias("emd"))


def ks_pairs(obs: DataFrame, cls_col: str = "cls",
             val_col: str = "v", cnt_col: str = "c") -> DataFrame:
    """Pairwise exact two-sample Kolmogorov-Smirnov statistic between
    the distributions of every unordered class pair over an integer
    value axis:  D = max_v |F_a(v) - F_b(v)|.

    Same cross-multiplied-CDF exactness as :func:`emd_pairs`:
    ``ks_q = max |cum_a*n_b - cum_b*n_a|`` is exact BIGINT (the max of
    integers, engine-independent), and ``ks = ks_q / (n_a*n_b)`` is one
    float expression over exact integers.  Also returns the smallest
    value attaining the max (``arg_v``, integer tie-break) so the
    location of the largest divergence is part of the checked result.

    Scale shape: the same `_class_pair_lattice` as :func:`emd_pairs`;
    the window cumsums run on the aggregated lattice only.
    """
    g = _class_pair_lattice(obs, cls_col, val_col, cnt_col)[0]
    w = Window.partitionBy("cls_a", "cls_b").orderBy(val_col)
    g = (g.withColumn("_d", F.abs(
        F.sum("c_a").over(w) * F.col("n_b")
        - F.sum("c_b").over(w) * F.col("n_a")))
        .withColumn("_mx", F.max("_d").over(
            Window.partitionBy("cls_a", "cls_b"))))
    return (g.groupBy("cls_a", "cls_b", "n_a", "n_b")
            .agg(F.max("_d").cast("long").alias("ks_q"),
                 F.min(F.when(F.col("_d") == F.col("_mx"),
                              F.col(val_col))).cast("long").alias("arg_v"))
            .select("cls_a", "cls_b", "ks_q", "arg_v",
                    F.round(F.col("ks_q").cast("double")
                            / (F.col("n_a") * F.col("n_b")).cast("double"),
                            8).alias("ks")))


def mwu_pairs(obs: DataFrame, cls_col: str = "cls",
              val_col: str = "v", cnt_col: str = "c") -> DataFrame:
    """Pairwise exact Mann-Whitney U (Wilcoxon rank-sum) between every
    unordered class pair over an integer value axis — the rank-based
    location-shift complement to :func:`ks_pairs` (KS sees any shape
    difference; U sees stochastic dominance).

    Exactness: with per-value counts c_a(v), c_b(v) and the combined
    running count, the tie-averaged rank sum in DOUBLED units

        r2 = sum_v c_a(v) * (2 * before(v) + ct(v) + 1)

    is exact BIGINT (average ranks are half-integers, so 2x clears the
    fraction), giving ``u2q = r2 - n_a*(n_a+1) = 2*U_a`` exact.  The
    tie-corrected normal z-score

        z = (2U - n_a*n_b) / (2 * sigma),
        sigma^2 = n_a*n_b/12 * ((n+1) - T/(n*(n-1))),  T = sum(t^3 - t)

    is ONE float expression over the exact integers (u2q, n_a, n_b, T).

    Scale shape: identical to ks_pairs — the same
    `_class_pair_lattice`, window cumsums on the aggregate only.
    """
    g = (_class_pair_lattice(obs, cls_col, val_col, cnt_col)[0]
         .withColumn("ct", F.col("c_a") + F.col("c_b")))
    w = Window.partitionBy("cls_a", "cls_b").orderBy(val_col)
    g = g.withColumn("before",
                     F.sum("ct").over(w) - F.col("ct"))
    r2 = F.sum(F.col("c_a")
               * (2 * F.col("before") + F.col("ct") + 1)).cast("long")
    tie = F.sum(F.col("ct") * F.col("ct") * F.col("ct")
                - F.col("ct")).cast("long")
    agg = (g.groupBy("cls_a", "cls_b", "n_a", "n_b")
           .agg(r2.alias("_r2"), tie.alias("tie_t")))
    n = F.col("n_a") + F.col("n_b")
    u2q = F.col("_r2") - F.col("n_a") * (F.col("n_a") + 1)
    var4 = (F.col("n_a").cast("double") * F.col("n_b").cast("double") / 3.0
            * ((n + 1).cast("double")
               - F.col("tie_t").cast("double")
               / (n.cast("double") * (n - 1).cast("double"))))
    z = ((u2q.cast("double") - F.col("n_a").cast("double")
          * F.col("n_b").cast("double"))
         / F.sqrt(var4))
    return agg.select("cls_a", "cls_b", u2q.alias("u2q"), "tie_t",
                      F.round(z, 6).alias("z"))
