"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes the engine's operator surface (SURVEY.md §2) as
(spark, sf_dir) -> DataFrame callables; `oracle_sql()` gives each one a
DuckDB-runnable oracle on the same inputs.

To add a query, define `q_<name>(spark, sf_dir)` and its oracle
`_sql_<name>()` — or `_sql_<name>(n)`, which receives the oracle's page
count — and nothing else: both dicts are built from the module's
functions by name, and bench.py's headline set follows `queries()`.

The geospatial queries run over the engine's `pages` table
(url, warc_ts, html binary, text, lang — BASELINE.json input_hint),
synthesized deterministically by pure integer arithmetic
(proj_spark.pages.synth_pages) so the DuckDB oracle can regenerate the
*identical* rows from `range()` + the same closed-form math.  The Spark
side runs the REAL pipeline — html synthesis → regexp geotag extraction
→ kernels/joins — while the oracle computes lat/lon directly; the two
agree exactly because extraction is a lossless %.6f round-trip.

Float-parity rules used throughout (Spark JVM vs DuckDB libm):
  - outputs are integers, strings, or doubles rounded coarsely enough
    that a 1-2 ulp libm difference cannot flip the rounded value;
  - no order-dependent float aggregates (sums of doubles) — counts,
    min/max, and exact-rational divisions only;
  - identical parenthesization in both dialects.
"""

from __future__ import annotations

import math
import re
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from proj_spark import temporal
from proj_spark.graph import edge_sample, undirected
from proj_spark.pages import CITY_CENTERS, extract_geotags, pages_table
from proj_spark.spark.udf import kernel_udf
from proj_spark.spatial import cells
from proj_spark.spatial.knn import (EARTH_R, haversine_expr, haversine_sql,
                                    knn_join, knn_self_join, radius_join)
from proj_spark.spatial.pip import pip_join
from proj_spark.text import analysis

# ---------------------------------------------------------------------------
# pages synthesis parameters (must mirror proj_spark.pages.synth_pages)
# ---------------------------------------------------------------------------

N_DOMAINS = 1000
ORACLE_SF = 0.01          # the driver's correctness gate runs at sf=0.01
PAGES_PER_SF = 6_000_000  # sf0.01 -> 60k pages (lineitem-scale)


def _n_pages(sf_dir: str) -> int:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else ORACLE_SF
    return int(round(PAGES_PER_SF * sf))


def _n_docs(sf_dir: str) -> int:
    """documents-table cardinality by scale factor (50k/sf, floored at
    the 500-doc sf0.001/sf0.01 corpora)."""
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else ORACLE_SF
    return max(500, int(round(50_000 * sf)))


def mh_params(n_docs: int) -> tuple[int, int]:
    """Density-matched MinHash-LSH (num_hashes, rows_per_band): 64
    hashes in 16 bands of 4 is tuned for <= 20k docs (S-curve midpoint
    (1/16)^(1/4) = 0.50, the verify threshold).  On a corpus whose
    shingle mass concentrates on few hot shingles (web boilerplate; the
    31-word synthetic corpus is the extreme), the fixed per-hash
    minimum is shared by every doc containing the hot shingle, so
    4-hash band keys saturate and candidate volume grows ~n^2
    (measured: 1.07M band pairs at 5k docs -> 102.8M at 50k, hottest
    bucket 807 -> 7,576 docs; the verify join then ships shingle-set
    arrays per pair — 100s of GB of shuffle at 50k docs).  Beyond 20k
    docs: 128 hashes in 16 bands of 8 — the production web-dedup
    operating point (cf. datatrove's 112/14x8) — cuts sf1 to 2.03M
    band pairs / 1,445 max bucket (50x) at the cost of a sharper
    S-curve (midpoint (1/16)^(1/8) = 0.71): near-threshold J~0.5 pairs
    lose candidate recall, exact/boilerplate dups (J~1, every band
    identical) keep 100%.  sf0.01/sf0.1 keep 64/4, so the DuckDB
    oracle (sf0.01) and bench history are unchanged."""
    if n_docs <= 20_000:
        return 64, 4
    return 128, 8


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages -> geotagged points (url, domain, lang, lat, lon).

    Full engine path: html synthesis -> geotag regexp extraction.  The
    `text`/`html` columns are pruned by Catalyst everywhere they are not
    referenced (verified via ReadSchema in the plan).
    """
    pages = pages_table(spark, _n_pages(sf_dir), N_DOMAINS)
    pts = extract_geotags(pages).where(F.col("lat").isNotNull())
    return pts.select(
        "url",
        F.regexp_extract("url", r"site(\d+)\.", 1).alias("domain"),
        "lang", "lat", "lon",
    )


def _page_seq() -> Column:
    """A `_points` row's page ordinal (`i` in `_pages_cte`), parsed
    from its url."""
    return F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long")


def _udeg(deg: str, shift: int = 0) -> Column:
    """Degree column `deg` as exact µdeg integers, round(deg·1e6) as
    BIGINT, plus `shift`."""
    v = F.round(F.col(deg) * 1e6, 0).cast("long")
    return v + F.lit(shift) if shift else v


def _udeg_xy(shift: bool = False) -> list[Column]:
    """`_points`' lon/lat as the µdeg point columns x, y; `shift` adds
    180e6 / 90e6 so both are non-negative."""
    return [_udeg("lon", 180_000_000 * shift).alias("x"),
            _udeg("lat", 90_000_000 * shift).alias("y")]


def _sql_udeg(deg: str, shift: int = 0) -> str:
    """SQL twin of `_udeg`."""
    v = f"CAST(ROUND({deg} * 1e6, 0) AS BIGINT)"
    return f"{v} + {shift}" if shift else v


def _sql_udeg_xy(shift: bool = False) -> str:
    """SQL twin of `_udeg_xy`: the select items x, y over `pages`."""
    return (f"{_sql_udeg('lon', 180_000_000 * shift)} AS x, "
            f"{_sql_udeg('lat', 90_000_000 * shift)} AS y")


def _udeg_pairs(t: DataFrame, s: int) -> DataFrame:
    """Point pairs of `t` (pid, x, y in µdeg, plus payload) within
    Chebyshev distance `s`, each unordered pair once, as a_<c>, b_<c>
    and their distance d: cells.half_pairs on the floor grid of cell
    width `s`."""
    cx = F.floor(F.col("x") / F.lit(float(s)))
    cy = F.floor(F.col("y") / F.lit(float(s)))
    half = F.array(*[F.struct((cx + dx).alias("cx"), (cy + dy).alias("cy"),
                              F.lit(dx == 0 and dy == 0).alias("home"))
                     for dx, dy in cells.half_offsets()])
    d = F.greatest(F.abs(F.col("a_x") - F.col("b_x")),
                   F.abs(F.col("a_y") - F.col("b_y")))
    return (cells.half_pairs(t.withColumn("cx", cx).withColumn("cy", cy),
                             ["cx", "cy"], half, "pid")
            .withColumn("d", d).where(F.col("d") <= s))


def _sql_udeg_pairs(t: str, s: int, cols: tuple[str, ...] = ()) -> str:
    """SQL twin of `_udeg_pairs`: the CTE `pairs` of the point pairs of
    CTE `t` (pid, x, y in µdeg, plus `cols`) within Chebyshev distance
    `s`, each unordered pair once, as a_<c>, b_<c> and their distance
    d.  Grid cells of width `s` over the shifted, non-negative
    coordinates and each point's 3x3 neighbour cells are CTE columns,
    so the pair join is a hash equi-join before the exact box test."""
    ab = ", ".join(f"a.{c} AS a_{c}, b.{c} AS b_{c}"
                   for c in ("pid", "x", "y", *cols))
    return f"""{t}_cell AS (SELECT *, (x + 180000000) // {s} AS cx,
                       (y + 90000000) // {s} AS cy FROM {t}),
{t}_ring AS (SELECT *, cx + dx AS rx, cy + dy AS ry FROM {t}_cell
             CROSS JOIN (VALUES (-1), (0), (1)) dxs(dx)
             CROSS JOIN (VALUES (-1), (0), (1)) dys(dy)),
pairs AS (SELECT {ab}, GREATEST(ABS(a.x - b.x), ABS(a.y - b.y)) AS d
          FROM {t}_ring a JOIN {t}_cell b
            ON b.cx = a.rx AND b.cy = a.ry AND a.pid < b.pid
           AND ABS(a.x - b.x) <= {s} AND ABS(a.y - b.y) <= {s})"""


def _sql_toks(text: str = "text") -> str:
    """SQL twin of analysis.tokens: the whitespace token list of
    `text`."""
    return (f"list_filter(regexp_split_to_array(trim({text}), '\\s+'), "
            "x -> x != '')")


_SQL_TOKS = _sql_toks("lower(text)")


def _sql_cell_counts(z: int) -> str:
    """SQL twin of stats.cell_counts over `pages`: the CTE cl(tx, ty,
    x) of occupied zoom-`z` tile page counts."""
    return f"""cl AS (SELECT {cells.tile_x_sql('lon', z)} AS tx,
              {cells.tile_y_sql('lat', z)} AS ty, COUNT(*) AS x
       FROM pages GROUP BY 1, 2)"""


def _pages_cte(n: int) -> str:
    """DuckDB CTE regenerating the exact (url, domain, lang, lat, lon)
    rows of `_points` by the same deterministic integer arithmetic."""
    lons = ", ".join(repr(c[0]) for c in CITY_CENTERS)
    lats = ", ".join(repr(c[1]) for c in CITY_CENTERS)
    return f"""
pages_base AS (
  SELECT range AS i,
         (range * 2654435761) % 2147483648 AS h,
         ((range * 48271) % 20001 - 10000) / 10000.0 AS j1,
         ((range * 69621) % 20001 - 10000) / 10000.0 AS j2
  FROM range(0, {n})
),
pages_geo AS (
  SELECT i, h, j1, j2,
         h % (h % {N_DOMAINS} + 1) AS dom,
         CAST(h % 40 AS INT) AS cidx,
         (h % 10) < 7 AS clustered
  FROM pages_base
),
pages AS (
  SELECT i,
         'https://site' || CAST(dom AS VARCHAR) || '.example/page/' || CAST(i AS VARCHAR) AS url,
         CAST(dom AS VARCHAR) AS domain,
         (['en','de','fr','es','pt','ja'])[CAST(dom % 6 AS INT) + 1] AS lang,
         ROUND(CASE WHEN clustered THEN ([{lats}])[cidx + 1] + j2 * 1.0
                    ELSE ROUND(j2 * 59.99, 6) END, 6) AS lat,
         ROUND(CASE WHEN clustered THEN ([{lons}])[cidx + 1] + j1 * 1.5
                    ELSE ROUND(j1 * 179.99, 6) END, 6) AS lon
  FROM pages_geo
)"""


def _links_cte(n: int) -> str:
    """`_pages_cte` plus `links(src, dst)`: the directed domain link
    edges, one row per page and out-link, self-links dropped.  The SQL
    twin of `_domain_links`, re-derived from the page urls."""
    return f"""{_pages_cte(n)},
link_h AS (SELECT CAST(domain AS BIGINT) AS src,
                  (CAST(regexp_extract(url, 'page/(\\d+)', 1) AS BIGINT)
                   * 2654435761) % 2147483648 AS h
           FROM pages),
links AS (SELECT src, dst FROM (
            SELECT src, (h // 131) % {N_DOMAINS} AS dst FROM link_h
            UNION ALL
            SELECT src, (h // 17) % {N_DOMAINS} AS dst FROM link_h)
          WHERE src != dst)"""


def _sql_edge_sample(a: str, b: str, mod: int) -> str:
    """SQL twin of graph.edge_sample."""
    return f"({a} * 1000003 + {b}) % {mod} = 0"


def _sql_und(mod: int | None = None, name: str = "und") -> str:
    """SQL twin of graph.undirected over `_links_cte`'s links: the CTE
    `name`(a, b), sampled at 1/`mod` when given."""
    und = ("SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b"
           "\n          FROM links")
    if mod is None:
        return f"{name} AS ({und})"
    return f"""{name} AS (SELECT a, b FROM (
          {und})
        WHERE {_sql_edge_sample('a', 'b', mod)})"""


# The a < b < c triangles of CTE und(a, b), each once, as tri(x, y, z).
_SQL_TRI = """tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
)"""


# ---------------------------------------------------------------------------
# admin polygons (diamonds around the first 12 city centers)
# ---------------------------------------------------------------------------

N_ADMINS = 12


def _admin_specs() -> list[tuple[int, float, float, float, float]]:
    out = []
    for d in range(N_ADMINS):
        cx, cy = CITY_CENTERS[d]
        rx = 0.5 + (d % 5) * 0.1
        ry = 0.4 + (d % 3) * 0.1
        out.append((d, cx, cy, rx, ry))
    return out


def _admin_polygons(spark: SparkSession) -> DataFrame:
    rows = []
    for d, cx, cy, rx, ry in _admin_specs():
        ring = [(cx + rx, cy), (cx, cy + ry), (cx - rx, cy), (cx, cy - ry),
                (cx + rx, cy)]
        rows.append((d, [{"lon": x, "lat": y} for x, y in ring]))
    return spark.createDataFrame(
        rows, "admin_id long, ring array<struct<lon:double,lat:double>>")


def _admin_values_sql() -> str:
    vals = ", ".join(f"({d}, {cx!r}, {cy!r}, {rx!r}, {ry!r})"
                     for d, cx, cy, rx, ry in _admin_specs())
    return (f"(VALUES {vals}) AS admins(admin_id, cx, cy, rx, ry)")


# ---------------------------------------------------------------------------
# knn query points (10 cities)
# ---------------------------------------------------------------------------

N_KNN_QUERIES = 10
KNN_K = 5


def _knn_queries_df(spark: SparkSession) -> DataFrame:
    rows = [(q, CITY_CENTERS[2 * q][0], CITY_CENTERS[2 * q][1])
            for q in range(N_KNN_QUERIES)]
    return spark.createDataFrame(rows, "query_id long, lon double, lat double")


def _knn_values_sql() -> str:
    vals = ", ".join(
        f"({q}, {CITY_CENTERS[2 * q][0]!r}, {CITY_CENTERS[2 * q][1]!r})"
        for q in range(N_KNN_QUERIES))
    return f"(VALUES {vals}) AS qp(query_id, qlon, qlat)"


# ---------------------------------------------------------------------------
# queries — geospatial layer
# ---------------------------------------------------------------------------

def q_tile_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 densest webmerc z8 tiles (raster<->vector tile assignment)."""
    z = 8
    pts = _points(spark, sf_dir)
    return (pts
            .select(cells.tile_x(F.col("lon"), z).alias("tile_x"),
                    cells.tile_y(F.col("lat"), z).alias("tile_y"),
                    "url", "domain")
            .groupBy("tile_x", "tile_y")
            .agg(F.count("*").alias("n_pages"),
                 F.countDistinct("domain").alias("n_domains"))
            .orderBy(F.col("n_pages").desc(), "tile_x", "tile_y")
            .limit(100))


def _sql_tile_density(n: int) -> str:
    z = 8
    return f"""WITH {_pages_cte(n)}
SELECT {cells.tile_x_sql('lon', z)} AS tile_x,
       {cells.tile_y_sql('lat', z)} AS tile_y,
       COUNT(*) AS n_pages, COUNT(DISTINCT domain) AS n_domains
FROM pages
GROUP BY 1, 2
ORDER BY n_pages DESC, tile_x, tile_y
LIMIT 100"""


def q_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical cell prefix aggregation: z12 cells rolled up to z6."""
    pts = _points(spark, sf_dir)
    fine = pts.select(cells.cell_id(F.col("lon"), F.col("lat"), 12).alias("cell12"))
    return (fine
            .select(cells.cell_parent(F.col("cell12"), 6).alias("cell6"))
            .groupBy("cell6")
            .agg(F.count("*").alias("n_pages"))
            .where(F.col("n_pages") >= 5))


def _sql_cell_rollup(n: int) -> str:
    # parent-of-z12 == direct z6 encoding (floor composition); the oracle
    # uses the direct form, so this also checks the hierarchy property
    return f"""WITH {_pages_cte(n)}
SELECT {cells.cell_id_sql('lon', 'lat', 6)} AS cell6, COUNT(*) AS n_pages
FROM pages
GROUP BY 1
HAVING COUNT(*) >= 5"""


def q_pip_admin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon join vs 12 admin diamonds -> per-admin stats."""
    pts = _points(spark, sf_dir)
    polys = _admin_polygons(spark)
    hits = pip_join(pts, polys, z=7)
    return (hits.groupBy("admin_id")
            .agg(F.count("*").alias("n_pages"),
                 F.countDistinct("domain").alias("n_domains")))


def _sql_pip_admin(n: int) -> str:
    return f"""WITH {_pages_cte(n)}
SELECT admin_id, COUNT(*) AS n_pages, COUNT(DISTINCT domain) AS n_domains
FROM pages, {_admin_values_sql()}
WHERE ABS(lon - cx) / rx + ABS(lat - cy) / ry < 1.0
GROUP BY admin_id"""


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=5 nearest pages per query city via cell-ring expansion."""
    pts = _points(spark, sf_dir)
    qs = _knn_queries_df(spark)
    res = knn_join(qs, pts, k=KNN_K, z=9, query_id="query_id", data_id="url")
    return res.select("query_id", "url",
                      F.round("dist_m", 3).alias("dist_m"),
                      F.col("rank").cast("long").alias("rank"))


def _sql_knn(n: int) -> str:
    dist = haversine_sql("qlon", "qlat", "lon", "lat")
    return f"""WITH {_pages_cte(n)},
scored AS (
  SELECT query_id, url, {dist} AS dist,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY {dist}, url) AS rnk
  FROM pages, {_knn_values_sql()}
)
SELECT query_id, url, ROUND(dist, 3) AS dist_m, rnk AS rank
FROM scored WHERE rnk <= {KNN_K}"""


KNNJ_K = 3
KNNJ_Z = 13


def knnj_z(n: int) -> int:
    """Density-matched cell zoom for the kNN/nn-dist cell joins: z=13
    is tuned for <=600k pages (sf0.1); beyond that the zoom deepens so
    cell occupancy n/4^z stays constant (each 4x in rows adds one
    level).  A density-BLIND zoom costs 6.5-17x at 10x rows
    (BASELINE.md stress10x table) — this is the knob, applied.
    sf0.01/sf0.1 keep z=13, so oracles and bench history are
    unchanged."""
    import math
    if n <= 600_000:
        return KNNJ_Z
    return KNNJ_Z + int(round(math.log(n / 600_000.0, 4)))


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius kNN self-JOIN: every geotagged page's <=3 nearest
    other pages via a one-shot cell + ring-1 candidate equi-join (no
    driver loop) — the distributed spatial-join flavor of kNN."""
    pts = _points(spark, sf_dir)
    res = knn_self_join(pts, k=KNNJ_K, z=knnj_z(_n_pages(sf_dir)),
                        ring=1, id_col="url")
    return res.select("url", "nbr_id",
                      F.round("dist_m", 3).alias("dist_m"),
                      F.col("rank").cast("long").alias("rank"))


def _sql_knn_join(n: int) -> str:
    z = knnj_z(n)
    nmax = (1 << z) - 1
    dist = haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    return f"""WITH {_pages_cte(n)},
pts AS (
  SELECT url, lon, lat,
         {cells.tile_x_sql('lon', z)} AS cx,
         {cells.tile_y_sql('lat', z)} AS cy
  FROM pages
),
ring AS (
  -- DISTINCT mirrors the engine's array_distinct over clamped ring
  -- cells; the cells are plain columns so pts joins them by hash
  SELECT DISTINCT url, lon, lat,
         LEAST(GREATEST(cx + dx, 0), {nmax}) AS rx,
         LEAST(GREATEST(cy + dy, 0), {nmax}) AS ry
  FROM pts
  CROSS JOIN (VALUES (-1), (0), (1)) dxs(dx)
  CROSS JOIN (VALUES (-1), (0), (1)) dys(dy)
),
cand AS (
  SELECT a.url AS url, b.url AS nbr_id, {dist} AS dist
  FROM ring a
  JOIN pts b ON b.cx = a.rx AND b.cy = a.ry AND b.url <> a.url
),
ranked AS (
  SELECT url, nbr_id, dist,
         ROW_NUMBER() OVER (PARTITION BY url ORDER BY dist, nbr_id) AS rnk
  FROM cand
)
SELECT url, nbr_id, ROUND(dist, 3) AS dist_m, rnk AS rank
FROM ranked WHERE rnk <= {KNNJ_K}"""


def q_utm_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTM zone assignment (pure expr — src/projections/tmerc.cpp:541-589
    zone logic) + per-zone/hemisphere counts."""
    pts = _points(spark, sf_dir)
    zone = F.least(F.floor((F.col("lon") + 180.0) / 6.0) + 1, F.lit(60)).cast("long")
    hemi = F.when(F.col("lat") >= 0, "N").otherwise("S")
    return (pts.select(zone.alias("zone"), hemi.alias("hemi"))
            .groupBy("zone", "hemi").agg(F.count("*").alias("n_pages")))


def _sql_utm_zones(n: int) -> str:
    return f"""WITH {_pages_cte(n)}
SELECT CAST(LEAST(FLOOR((lon + 180.0) / 6.0) + 1, 60) AS BIGINT) AS zone,
       CASE WHEN lat >= 0 THEN 'N' ELSE 'S' END AS hemi,
       COUNT(*) AS n_pages
FROM pages GROUP BY 1, 2"""


def q_webmerc_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-Mercator projection (native expr, src/projections/merc.cpp:92-100)
    + per-z5-tile bbox of projected meters."""
    from proj_spark.spark.udf import webmerc_x, webmerc_y
    z = 5
    pts = _points(spark, sf_dir)
    prj = pts.select(
        cells.tile_x(F.col("lon"), z).alias("tile_x"),
        cells.tile_y(F.col("lat"), z).alias("tile_y"),
        webmerc_x(F.col("lon")).alias("mx"),
        webmerc_y(F.col("lat")).alias("my"))
    return (prj.groupBy("tile_x", "tile_y")
            .agg(F.count("*").alias("n_pages"),
                 F.round(F.min("mx"), 3).alias("min_x"),
                 F.round(F.max("mx"), 3).alias("max_x"),
                 F.round(F.min("my"), 3).alias("min_y"),
                 F.round(F.max("my"), 3).alias("max_y"))
            .where(F.col("n_pages") >= 10))


def _sql_webmerc_bbox(n: int) -> str:
    z = 5
    a = 6378137.0
    mx = f"({a!r} * RADIANS(lon))"
    my = f"({a!r} * LN(TAN(PI()/4 + RADIANS(lat)/2)))"
    return f"""WITH {_pages_cte(n)}
SELECT {cells.tile_x_sql('lon', z)} AS tile_x,
       {cells.tile_y_sql('lat', z)} AS tile_y,
       COUNT(*) AS n_pages,
       ROUND(MIN({mx}), 3) AS min_x, ROUND(MAX({mx}), 3) AS max_x,
       ROUND(MIN({my}), 3) AS min_y, ROUND(MAX({my}), 3) AS max_y
FROM pages
GROUP BY 1, 2
HAVING COUNT(*) >= 10"""


DATUM_HELMERT = ("+proj=helmert +x=598.1 +y=73.7 +z=418.2 "
                 "+rx=0.202 +ry=0.045 +rz=-2.455 +s=6.7 "
                 "+convention=position_vector")


def q_domain_top_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain 2 northernmost pages (window + row_number) for hot
    domains, with the domain page-counts computed by the skew-immune
    salted two-phase aggregation (spatial/skew.py)."""
    from proj_spark.spatial.skew import salted_count

    pts = _points(spark, sf_dir)
    counts = salted_count(pts, ["domain"], "url", k=16, count_name="n_pages")
    hot = counts.where(F.col("n_pages") >= 200)
    w = Window.partitionBy("domain").orderBy(F.col("lat").desc(), "url")
    ranked = (pts.join(F.broadcast(hot), "domain")
              .withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= 2))
    return ranked.select("domain", "url", "lat",
                         F.col("rank").cast("long").alias("rank"),
                         F.col("n_pages"))


def _sql_domain_top_pages(n: int) -> str:
    return f"""WITH {_pages_cte(n)},
counts AS (
  SELECT domain, COUNT(*) AS n_pages FROM pages GROUP BY 1 HAVING COUNT(*) >= 200
),
ranked AS (
  SELECT p.domain, p.url, p.lat, c.n_pages,
         ROW_NUMBER() OVER (PARTITION BY p.domain
                            ORDER BY p.lat DESC, p.url) AS rank
  FROM pages p JOIN counts c ON p.domain = c.domain
)
SELECT domain, url, lat, rank, n_pages FROM ranked WHERE rank <= 2"""


def q_datum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical 7-parameter datum pipeline over every page:
    cart fwd -> Helmert (DHDN->ETRS89 parameters) -> cart inverse
    (Bowring), binned by the induced (dlat, dlon) shift in arcseconds.

    Three chained Arrow-batched VUDFs (the reference's
    longlat->cart->helmert->cart^-1 pipeline, src/pipeline.cpp:60-66);
    the oracle replays the identical float math in SQL with constants
    lifted from the compiled operator, so the comparison covers the
    kernel bit-for-bit at 0.001-arcsec binning.
    """
    from proj_spark import create
    from proj_spark.spark.udf import datum_pipeline_udf

    cart = create("+proj=cart +ellps=GRS80")
    hel = create(DATUM_HELMERT)
    pts = _points(spark, sf_dir)
    c = pts.withColumn("_g", datum_pipeline_udf(cart, hel)(
        F.col("lon"), F.col("lat")))
    dlat = F.round((F.col("_g.lat") - F.col("lat")) * 3600.0, 3)
    dlon = F.round((F.col("_g.lon") - F.col("lon")) * 3600.0, 3)
    return (c.select(dlat.alias("dlat_as"), dlon.alias("dlon_as"))
            .groupBy("dlat_as", "dlon_as")
            .agg(F.count("*").alias("n_pages")))


def _sql_datum_shift(n: int) -> str:
    from proj_spark import create

    cart = create("+proj=cart +ellps=GRS80")
    hel = create(DATUM_HELMERT)
    trans, r, scale = hel._params_at(hel.t_epoch)
    a = repr(cart.a)
    es = repr(cart.es)
    e2s = repr(cart.ell.e2s)
    b = repr(cart.ell.b)
    one_es = repr(cart.one_es)
    hx = f"""({scale!r} * (({r[0,0]!r}) * cx + ({r[0,1]!r}) * cy
              + ({r[0,2]!r}) * cz) + {trans[0]!r})"""
    hy = f"""({scale!r} * (({r[1,0]!r}) * cx + ({r[1,1]!r}) * cy
              + ({r[1,2]!r}) * cz) + {trans[1]!r})"""
    hz = f"""({scale!r} * (({r[2,0]!r}) * cx + ({r[2,1]!r}) * cy
              + ({r[2,2]!r}) * cz) + {trans[2]!r})"""
    return f"""WITH {_pages_cte(n)},
geo AS (
  SELECT lat, lon, RADIANS(lat) AS phi, RADIANS(lon) AS lam FROM pages
),
cartf AS (
  SELECT lat, lon,
         ({a} / SQRT(1.0 - {es} * SIN(phi) * SIN(phi)) + 0.0)
             * COS(phi) * COS(lam) AS cx,
         ({a} / SQRT(1.0 - {es} * SIN(phi) * SIN(phi)) + 0.0)
             * COS(phi) * SIN(lam) AS cy,
         ({a} / SQRT(1.0 - {es} * SIN(phi) * SIN(phi)) * (1.0 - {es}) + 0.0)
             * SIN(phi) AS cz
  FROM geo
),
helm AS (
  SELECT lat, lon, {hx} AS x2, {hy} AS y2, {hz} AS z2 FROM cartf
),
bow AS (
  SELECT lat, lon, x2, y2, z2,
         SQRT(x2 * x2 + y2 * y2) AS p,
         ATAN2(z2 * {a}, SQRT(x2 * x2 + y2 * y2) * {b}) AS theta
  FROM helm
),
inv AS (
  SELECT lat, lon,
         DEGREES(ATAN2(z2 + {e2s} * {b} * SIN(theta) * SIN(theta) * SIN(theta),
                       p - {es} * {a} * COS(theta) * COS(theta) * COS(theta)))
             AS lat2,
         DEGREES(ATAN2(y2, x2)) AS lon2
  FROM bow
)
SELECT ROUND((lat2 - lat) * 3600.0, 3) + 0.0 AS dlat_as,
       ROUND((lon2 - lon) * 3600.0, 3) + 0.0 AS dlon_as,
       COUNT(*) AS n_pages
FROM inv GROUP BY 1, 2"""


def q_utm_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project EVERY page through the exact TM kernel (etmerc VUDF,
    Poder/Engsager series — src/projections/tmerc.cpp:341-498), auto-zoned
    per row in a single map-side pass, then aggregate per zone.

    FULL SQL ORACLE (_sql_utm_project): the Gaussian-latitude series and
    the 6th-order complex Clenshaw expand term-by-term into DuckDB SQL
    with the same coefficients; aggregates round to cm so emulated-libm
    ulp drift cannot flip a boundary.  Accuracy itself is gated by the
    gie fixture tests.
    """
    from proj_spark.spark.udf import utm_fwd_udf
    pts = _points(spark, sf_dir)
    u = utm_fwd_udf()
    prj = (pts.withColumn("_utm", u(F.col("lon"), F.col("lat")))
           .select(F.col("_utm.zone").cast("long").alias("zone"),
                   F.col("_utm.x").alias("easting"),
                   F.col("_utm.y").alias("northing")))
    return (prj.groupBy("zone")
            .agg(F.count("*").alias("n_pages"),
                 F.round(F.min("easting"), 2).alias("min_e"),
                 F.round(F.max("easting"), 2).alias("max_e"),
                 F.round(F.min("northing"), 2).alias("min_n"),
                 F.round(F.max("northing"), 2).alias("max_n")))


FACTORS_PROJ = "+proj=lcc +lat_1=33 +lat_2=45 +ellps=GRS80"


def q_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """proj_factors (§2.A.6, src/factors.cpp:15-106) at scale: per-point
    meridional scale h, parallel scale k, meridian convergence and areal
    scale s for the LCC secant cone, computed by the reference's 4-corner
    central-difference algorithm in ONE Arrow batch pass, then aggregated
    per 5-degree latitude band.

    FULL SQL ORACLE (_sql_factors): the derivative stencil and the factor
    formulas expand term-by-term into DuckDB SQL with the engine's own
    cone constants (n, c, rho0) as literals.  Aggregates are exact
    min/max (no order-dependent float sums) rounded to 1e-5, three orders
    above the ~2.5e-11 cross-libm drift the h=1e-5 stencil division
    amplifies a 4-ulp sin/cos difference into.
    """
    from proj_spark import create
    from proj_spark.spark.udf import factors_udf

    op = create(FACTORS_PROJ)
    pts = _points(spark, sf_dir)
    d = pts.withColumn("_f", factors_udf(op)(F.col("lon"), F.col("lat")))
    band = F.floor(F.col("lat") / F.lit(5.0)).cast("long").alias("band")
    return (d.select(band, F.col("_f.h").alias("h"), F.col("_f.k").alias("k"),
                     F.col("_f.conv").alias("conv"), F.col("_f.s").alias("s"))
            .groupBy("band")
            .agg(F.count("*").alias("n_pages"),
                 F.round(F.min("k"), 5).alias("min_k"),
                 F.round(F.max("k"), 5).alias("max_k"),
                 F.round(F.min("h"), 5).alias("min_h"),
                 F.round(F.max("h"), 5).alias("max_h"),
                 F.round(F.min("conv"), 5).alias("min_conv"),
                 F.round(F.max("conv"), 5).alias("max_conv"),
                 F.round(F.max("s"), 5).alias("max_s")))


def _sql_factors(n: int) -> str:
    """Central-difference proj_factors oracle: replays factors() +
    LCC._fwd with identical operation order and the compiled operator's
    constants as literals.  adjlon is the identity here (|lon| <= 179.99
    and lam0 = 0) and the pole clip is inactive (|lat| <= ~62), both kept
    for faithfulness."""
    from proj_spark import create
    from proj_spark import mathutils as mu

    op = create(FACTORS_PROJ)
    N_, C_, RHO0 = repr(op.n), repr(op.c), repr(op.rho0)
    E_, ES_, ONE_ES = repr(op.e), repr(op.es), repr(op.one_es)
    EH = repr(0.5 * op.e)         # tsfn exponent, constant-folded
    H = repr(1e-5)                # reference default stencil step
    H4 = repr(2.0 * (2.0 * 1e-5))  # _deriv divisor 2*h2
    CLIP = repr(mu.HALFPI - 1e-5)

    def fwd_x(lamE: str, phiE: str) -> str:
        t = (f"(TAN(0.5 * ({repr(mu.HALFPI)} - ({phiE})))"
             f" / POW((1.0 - {E_} * SIN({phiE})) / (1.0 + {E_} * SIN({phiE})), {EH}))")
        return f"(({C_} * POW({t}, {N_})) * SIN(({lamE}) * {N_}))"

    def fwd_y(lamE: str, phiE: str) -> str:
        t = (f"(TAN(0.5 * ({repr(mu.HALFPI)} - ({phiE})))"
             f" / POW((1.0 - {E_} * SIN({phiE})) / (1.0 + {E_} * SIN({phiE})), {EH}))")
        return f"({RHO0} - ({C_} * POW({t}, {N_})) * COS(({lamE}) * {N_}))"

    lp, lm = f"(l + {H})", f"(l - {H})"
    pp, pm = f"(p + {H})", f"(p - {H})"
    return f"""WITH {_pages_cte(n)},
pts AS (
  SELECT lat, RADIANS(lon) AS l,
         LEAST(GREATEST(RADIANS(lat), -{CLIP}), {CLIP}) AS p
  FROM pages
),
corners AS (
  SELECT lat, p,
         {fwd_x(lp, pp)} AS xpp, {fwd_y(lp, pp)} AS ypp,
         {fwd_x(lp, pm)} AS xpm, {fwd_y(lp, pm)} AS ypm,
         {fwd_x(lm, pm)} AS xmm, {fwd_y(lm, pm)} AS ymm,
         {fwd_x(lm, pp)} AS xmp, {fwd_y(lm, pp)} AS ymp
  FROM pts
),
der AS (
  SELECT lat, p,
         (xpp + xpm - xmm - xmp) / {H4} AS x_l,
         (ypp + ypm - ymm - ymp) / {H4} AS y_l,
         (xpp - xpm - xmm + xmp) / {H4} AS x_p,
         (ypp - ypm - ymm + ymp) / {H4} AS y_p
  FROM corners
),
ell AS (
  SELECT lat, p, x_l, y_l, x_p, y_p,
         1.0 - {ES_} * SIN(p) * SIN(p) AS tt
  FROM der
),
fac AS (
  SELECT lat,
         SQRT(x_p * x_p + y_p * y_p) * tt * SQRT(tt) / {ONE_ES} AS fh,
         SQRT(x_l * x_l + y_l * y_l) / COS(p) * SQRT(tt) AS fk,
         -ATAN2(x_p, y_p) AS conv,
         (y_p * x_l - x_p * y_l) * (tt * tt / {ONE_ES}) / COS(p) AS s
  FROM ell
)
SELECT CAST(FLOOR(lat / 5.0) AS BIGINT) AS band,
       COUNT(*) AS n_pages,
       ROUND(MIN(fk), 5) AS min_k, ROUND(MAX(fk), 5) AS max_k,
       ROUND(MIN(fh), 5) AS min_h, ROUND(MAX(fh), 5) AS max_h,
       ROUND(MIN(conv), 5) AS min_conv, ROUND(MAX(conv), 5) AS max_conv,
       ROUND(MAX(s), 5) AS max_s
FROM fac GROUP BY 1"""


DGGS_RES = 2               # rHEALPix resolution: base squares / 3^res


def q_dggs_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-area DGGS rollup — the H3/S2-style index of the north rule:
    every page is assigned its rHEALPix cell (HEALPix equal-area
    projection with the polar caps folded onto squares,
    src/projections/healpix.cpp:533-562 + combine_caps :296-345; the
    aperture-9 hierarchical grid) at resolution 2 in one batch VUDF
    pass, counted per cell, with the resolution-1 parent exposing the
    3x3 hierarchy.  Unlike the slippy quadtree (spatial/cells.py) these
    cells have EQUAL AREA on the ellipsoid (authalic-latitude HEALPix) —
    the property density analytics want.

    FULL SQL ORACLE (_sql_dggs_rollup): the authalic-latitude shift, the
    HEALPix sphere forward and the cap-fold rotations replay term-by-term
    in SQL; cell ids are exact integers, so there is no rounding gamble —
    a flip would need a page within ~1e-10 m of a cell edge.
    """
    from proj_spark import create
    from proj_spark.spark.udf import fwd_udf

    op = create("+proj=rhealpix +ellps=GRS80")
    w = op.a * (math.pi / 2.0) / (3.0 ** DGGS_RES)
    # grid anchored at the image corner (-pi, -3pi/4) so cell edges align
    # with the six base squares (the equatorial band edge sits at 4.5
    # cell-widths from the origin otherwise, splitting cells across
    # squares and breaking the equal-area property)
    ox, oy = op.a * math.pi, op.a * (3.0 * math.pi / 4.0)
    pts = _points(spark, sf_dir)
    d = pts.withColumn("_p", fwd_udf(op)(F.col("lon"), F.col("lat")))
    ci = F.floor((F.col("_p.x") + F.lit(ox)) / F.lit(w)).cast("long")
    cj = F.floor((F.col("_p.y") + F.lit(oy)) / F.lit(w)).cast("long")
    g = (d.select(ci.alias("ci"), cj.alias("cj"))
         .groupBy("ci", "cj").agg(F.count("*").alias("n_pages")))
    return g.select(
        "ci", "cj",
        F.floor(F.col("ci") / F.lit(3.0)).cast("long").alias("parent_i"),
        F.floor(F.col("cj") / F.lit(3.0)).cast("long").alias("parent_j"),
        "n_pages")


def _sql_dggs_rollup(n: int) -> str:
    """rHEALPix forward replayed in DuckDB: authalic latitude (qsfn),
    _healpix_sphere_fwd's equatorial/polar branches, and the
    ns=ss=0 combine_caps rotations with the exact integer matrices."""
    import math as _m

    from proj_spark import create

    op = create("+proj=rhealpix +ellps=GRS80")
    E_, ONE_ES, QP = repr(op.e), repr(op.one_es), repr(op.qp)
    HOE = repr(0.5 / op.e)              # qsfn's (0.5 / e), constant-folded
    A_ = repr(op.a)                     # authalic-rescaled a (setup)
    W = repr(op.a * (_m.pi / 2.0) / (3.0 ** DGGS_RES))
    OX = repr(op.a * _m.pi)             # grid anchor: image corner
    OY = repr(op.a * (3.0 * _m.pi / 4.0))
    PI_ = repr(_m.pi)
    FP = repr(_m.pi / 4.0)              # FORTPI
    HP = repr(_m.pi / 2.0)              # HALFPI
    PHI0 = repr(float(__import__("numpy").arcsin(2.0 / 3.0)))
    Y8 = repr(3 * _m.pi / 8)
    M3F = repr(-3 * (_m.pi / 4.0))      # -3*FORTPI (cap corner / a0)
    MF = repr(-(_m.pi / 4.0))
    # rotation matrices _ROT[0..3] (dggs.py:290), exact 0/+-1 entries
    rot = {0: (1.0, 0.0, 0.0, 1.0), 1: (0.0, -1.0, 1.0, 0.0),
           2: (-1.0, 0.0, 0.0, -1.0), 3: (0.0, 1.0, -1.0, 0.0)}
    rx_case = " ".join(
        f"WHEN {r} THEN ({m[0]!r} * vx + {m[1]!r} * vy)"
        for r, m in rot.items())
    ry_case = " ".join(
        f"WHEN {r} THEN ({m[2]!r} * vx + {m[3]!r} * vy)"
        for r, m in rot.items())
    return f"""WITH {_pages_cte(n)},
auth AS (  -- authalic latitude: arcsin(q / qp), q = qsfn(sin phi)
  SELECT RADIANS(lon) AS l,
         ASIN(LEAST(GREATEST(
           ({ONE_ES} * (SIN(RADIANS(lat)) / (1.0 - ({E_} * SIN(RADIANS(lat)))
                                                  * ({E_} * SIN(RADIANS(lat))))
                        - {HOE} * LN((1.0 - {E_} * SIN(RADIANS(lat)))
                                     / (1.0 + {E_} * SIN(RADIANS(lat))))))
           / {QP}, -1.0), 1.0)) AS pa
  FROM pages
),
sph AS (   -- _healpix_sphere_fwd (dggs.py:208-218 / healpix.cpp)
  SELECT l, pa,
         ABS(pa) <= {PHI0} AS eq,
         SQRT(GREATEST(3.0 * (1.0 - ABS(SIN(pa))), 0.0)) AS sigma,
         {M3F} + {HP} * LEAST(FLOOR(2.0 * l / {PI_} + 2.0), 3.0) AS lamc
  FROM auth
),
sxy AS (
  SELECT CASE WHEN eq THEN l ELSE lamc + (l - lamc) * sigma END AS x,
         CASE WHEN eq THEN {Y8} * SIN(pa)
              ELSE SIGN(pa) * {FP} * (2.0 - sigma) END AS y
  FROM sph
),
caps AS (  -- combine_caps fwd, north_square = south_square = 0
  SELECT x, y,
         y > {FP} AS north, y < {MF} AS south,
         CASE WHEN x < -{HP} THEN 0 WHEN x < 0.0 THEN 1
              WHEN x < {HP} THEN 2 ELSE 3 END AS cn
  FROM sxy
),
rotv AS (
  SELECT x, y, north, south,
         CASE WHEN north THEN cn
              WHEN cn = 0 THEN 0 ELSE 4 - cn END AS ridx,
         x - (CASE cn WHEN 0 THEN {M3F} WHEN 1 THEN {MF}
                      WHEN 2 THEN {FP} ELSE -({M3F}) END) AS vx,
         y - (CASE WHEN north THEN {HP} ELSE -{HP} END) AS vy
  FROM caps
),
folded AS (
  SELECT CASE WHEN north OR south
              THEN (CASE ridx {rx_case} END) + {M3F} ELSE x END AS fx,
         CASE WHEN north THEN (CASE ridx {ry_case} END) + {HP}
              WHEN south THEN (CASE ridx {ry_case} END) + -{HP}
              ELSE y END AS fy
  FROM rotv
),
cellid AS (
  SELECT CAST(FLOOR(({A_} * fx + {OX}) / {W}) AS BIGINT) AS ci,
         CAST(FLOOR(({A_} * fy + {OY}) / {W}) AS BIGINT) AS cj
  FROM folded
)
SELECT ci, cj,
       CAST(FLOOR(ci / 3.0) AS BIGINT) AS parent_i,
       CAST(FLOOR(cj / 3.0) AS BIGINT) AS parent_j,
       COUNT(*) AS n_pages
FROM cellid GROUP BY 1, 2"""


GEOD_Z = 4                 # pair pages within one z4 web-mercator tile
SPHERE_R = 6370997.0       # PROJ "+ellps=sphere" (src/ellps.cpp:55)


def q_geod_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geod_inverse (§2.A.5, src/geodesic.c) at scale on the normal
    sphere: chain consecutive pages inside each z4 tile (window lead —
    the only shuffle is the tile hash) and batch-solve the inverse
    problem — distance + both forward azimuths — with the vectorized
    Karney kernel.

    Like knn_join's zoom, GEOD_Z is density-critical: the window sorts
    one tile per task, so at larger corpora raise z to keep tiles at
    O(10^5) rows (the chain semantics stay per-tile by construction).

    FULL SQL ORACLE (_sql_geod_pairs): with f=0 the Karney machinery
    reduces exactly to the great circle, so the oracle is the closed-form
    atan2 formulation.  Distances round to 0.1 m and azimuths (normalized
    to [0,360)) to 1e-3 deg, far above the ~1e-8 m / ~1e-11 deg drift
    between the two formulations; ellipsoidal accuracy itself is gated by
    test_geodesic (10 nm) and the vendored geodtest values.
    """
    from proj_spark.spark.udf import geod_inverse_udf

    pts = _points(spark, sf_dir).select(
        "url", "lon", "lat",
        cells.tile_x(F.col("lon"), GEOD_Z).alias("cx"),
        cells.tile_y(F.col("lat"), GEOD_Z).alias("cy"))
    w = Window.partitionBy("cx", "cy").orderBy("url")
    d = (pts.withColumn("nbr", F.lead("url").over(w))
         .withColumn("lon2", F.lead("lon").over(w))
         .withColumn("lat2", F.lead("lat").over(w))
         .where(F.col("nbr").isNotNull()
                & ~((F.col("lon2") == F.col("lon"))
                    & (F.col("lat2") == F.col("lat")))))
    g = geod_inverse_udf(SPHERE_R, 0.0)
    r = d.withColumn("_g", g(F.col("lat"), F.col("lon"),
                             F.col("lat2"), F.col("lon2")))
    return r.select("url", "nbr",
                    F.round("_g.s12", 1).alias("dist_m"),
                    F.round("_g.azi1", 3).alias("azi1_deg"),
                    F.round("_g.azi2", 3).alias("azi2_deg"))


def _sql_geod_pairs(n: int) -> str:
    num1 = "COS(p1) * SIN(p2) - SIN(p1) * COS(p2) * COS(dl)"
    return f"""WITH {_pages_cte(n)},
pts AS (
  SELECT url, lon, lat,
         {cells.tile_x_sql('lon', GEOD_Z)} AS cx,
         {cells.tile_y_sql('lat', GEOD_Z)} AS cy
  FROM pages
),
nb AS (
  SELECT url, lon, lat,
         LEAD(url) OVER w AS nbr,
         LEAD(lon) OVER w AS lon2, LEAD(lat) OVER w AS lat2
  FROM pts WINDOW w AS (PARTITION BY cx, cy ORDER BY url)
),
pr AS (
  SELECT url, nbr,
         RADIANS(lat) AS p1, RADIANS(lat2) AS p2,
         RADIANS(lon2) - RADIANS(lon) AS dl
  FROM nb
  WHERE nbr IS NOT NULL AND NOT (lon2 = lon AND lat2 = lat)
),
f AS (
  SELECT url, nbr,
         ATAN2(SQRT((COS(p2) * SIN(dl)) * (COS(p2) * SIN(dl))
                    + ({num1}) * ({num1})),
               SIN(p1) * SIN(p2) + COS(p1) * COS(p2) * COS(dl))
             * {SPHERE_R!r} AS s12,
         DEGREES(ATAN2(COS(p2) * SIN(dl), {num1})) AS a1,
         DEGREES(ATAN2(COS(p1) * SIN(dl),
                       -(SIN(p1) * COS(p2)) + COS(p1) * SIN(p2) * COS(dl))) AS a2
  FROM pr
)
SELECT url, nbr, ROUND(s12, 1) AS dist_m,
       ROUND(CASE WHEN a1 < 0 THEN a1 + 360.0 ELSE a1 + 0.0 END, 3) AS azi1_deg,
       ROUND(CASE WHEN a2 < 0 THEN a2 + 360.0 ELSE a2 + 0.0 END, 3) AS azi2_deg
FROM f"""


RADIUS_M = 1000.0          # distance-join radius
RADIUS_Z = 13              # cells ~2.4 km ground size at |lat| 60.3: ring-1
                           # provably covers 1 km (radius_join validates)
PAGES_MAX_ABS_LAT = 61.0   # city centers reach 59.3 + 1 deg jitter;
                           # the uniform band is +-59.99 (pages.py)


def q_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-bounded spatial self-join: every unordered pair of
    geotagged pages within 1 km (haversine), via the proven-complete
    cell + ring-1 candidate equi-join at z13 (spatial/knn.py
    radius_join).  The range-join sibling of knn_join: same grid plan,
    threshold semantics instead of top-k.

    FULL SQL ORACLE (_sql_radius_join): an INDEPENDENT formulation —
    latitude-band bucket join (bucket = floor(lat / dlat), neighbors
    d in {-1,0,1}) + the exact haversine filter — so the oracle also
    proves the engine's ring-1 cover complete on this data.
    """
    pts = _points(spark, sf_dir)
    res = radius_join(pts, RADIUS_M, z=RADIUS_Z, id_col="url",
                      max_abs_lat=PAGES_MAX_ABS_LAT)
    return res.select("id_a", "id_b", F.round("dist_m", 3).alias("dist_m"))


def _sql_radius_join(n: int) -> str:
    dist = haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    dlat = f"({RADIUS_M!r} / ({EARTH_R!r} * PI() / 180.0))"
    return f"""WITH {_pages_cte(n)},
pts AS (
  SELECT url, lon, lat,
         CAST(FLOOR(lat / {dlat}) AS BIGINT) AS k
  FROM pages
),
nbr AS (
  -- the neighbor band is a plain column so pts joins it by hash
  SELECT url, lon, lat, k + d AS nk
  FROM pts CROSS JOIN (VALUES (-1), (0), (1)) ds(d)
)
SELECT a.url AS id_a, b.url AS id_b, ROUND({dist}, 3) AS dist_m
FROM nbr a
JOIN pts b ON b.k = a.nk AND a.url < b.url
WHERE {dist} <= {RADIUS_M!r}"""


ZB_BITS = 16               # 2^16 x 2^16 Morton grid (32-bit zkey)
ZB_MAX_RANGES = 32         # zkey interval budget for the bbox cover
# query window: city 1 (Los Angeles) cluster footprint (center +-
# jitter: lon +-1.5, lat +-1.0 in pages.py) — plus whatever uniform-
# band pages fall inside
ZB_LON_MIN, ZB_LON_MAX = CITY_CENTERS[1][0] - 1.5, CITY_CENTERS[1][0] + 1.5
ZB_LAT_MIN, ZB_LAT_MAX = CITY_CENTERS[1][1] - 1.0, CITY_CENTERS[1][1] + 1.0


def q_zorder_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bbox query through a Z-order (Morton) curve cover: the data-
    layout primitive that turns a 100 TB bbox scan into a file-skipping
    read (spatial/zorder.py; Delta/Iceberg Z-ORDER clustering built
    from stock operators).

    Plan: zkey as a pure codegen expression, the bbox decomposed
    driver-side into <= {ZB_MAX_RANGES} contiguous zkey intervals
    (quadtree refinement — the plan-time analogue of subgrid bbox
    dispatch, src/apply_gridshift.cpp:182+), interval membership as a
    broadcast LEFT SEMI range join (the computed key is evaluated once
    per row; an OR-of-BETWEEN filter would inline the Morton spread 64x
    and blow codegen's 64 KB method limit — on STORED zkey columns the
    BETWEEN predicate is the right shape and reaches parquet min/max
    pruning, demonstrated in tests/test_zorder.py), then the exact
    window predicate to strip quantization slop.

    FULL SQL ORACLE (_sql_zorder_bbox): the PLAIN bbox filter, no
    z machinery — so a decomposition that under-covers even one grid
    cell loses rows and fails the hash.  The oracle literally proves
    the interval cover complete on this data.
    """
    from proj_spark.spatial import zorder

    pts = _points(spark, sf_dir)
    keyed = pts.withColumn(
        "zkey", zorder.zorder_key(F.col("lon"), F.col("lat"), ZB_BITS))
    rngs = zorder.bbox_ranges(ZB_LON_MIN, ZB_LON_MAX, ZB_LAT_MIN,
                              ZB_LAT_MAX, ZB_BITS, ZB_MAX_RANGES)
    pruned = zorder.ranges_semi_join(keyed, rngs)
    exact = pruned.where(
        (F.col("lon") >= F.lit(ZB_LON_MIN)) & (F.col("lon") <= F.lit(ZB_LON_MAX))
        & (F.col("lat") >= F.lit(ZB_LAT_MIN)) & (F.col("lat") <= F.lit(ZB_LAT_MAX)))
    return exact.select("url", "domain", "zkey")


def _sql_zorder_bbox(n: int) -> str:
    from proj_spark.spatial import zorder

    zk = zorder.zorder_key_sql("lon", "lat", ZB_BITS)
    return f"""WITH {_pages_cte(n)}
SELECT url, domain, {zk} AS zkey
FROM pages
WHERE lon >= {ZB_LON_MIN!r} AND lon <= {ZB_LON_MAX!r}
  AND lat >= {ZB_LAT_MIN!r} AND lat <= {ZB_LAT_MAX!r}"""


GH_PRECISION = 4           # geohash-4 cells: 0.35 x 0.18 deg


def q_geohash_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density rollup keyed by geohash — the interoperable base32
    z-order string (lon-first interleave), computed as a pure SQL
    expression (spatial/zorder.py geohash; no UDF): pages per geohash-4
    cell with the distinct-domain count.  The curve is the same Morton
    interleave zorder_bbox scans by; the string form is what external
    systems (ES, Redis, BI tools) key on.

    FULL SQL ORACLE (_sql_geohash_rollup): the identical integer
    arithmetic + base32 table indexing in DuckDB — exact strings,
    exact counts.
    """
    from proj_spark.spatial import zorder

    pts = _points(spark, sf_dir)
    return (pts.groupBy(zorder.geohash(F.col("lon"), F.col("lat"),
                                       GH_PRECISION).alias("gh"))
            .agg(F.count("*").alias("n_pages"),
                 F.countDistinct("domain").alias("n_domains")))


def _sql_geohash_rollup(n: int) -> str:
    from proj_spark.spatial import zorder

    gh = zorder.geohash_sql("lon", "lat", GH_PRECISION)
    return f"""WITH {_pages_cte(n)}
SELECT {gh} AS gh, COUNT(*) AS n_pages,
       COUNT(DISTINCT domain) AS n_domains
FROM pages GROUP BY 1"""


RASTER_Z = 12              # raster resolution: ~0.088 deg cells


def q_admin_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon rasterization + zonal statistics — the vector->raster
    direction of tile assignment: burn each admin polygon onto the z12
    quad grid with the center rule (a cell belongs to the polygon iff
    its CENTER is inside — GDAL rasterize's default), classify cells
    interior (all 4 corners inside; exact for convex rings) vs
    boundary, then count pages per raster cell via one broadcast join.

    Plan: 12 polygons explode to ~2k candidate cells (pure JVM
    sequence x sequence), ray-cast center/corner tests as codegen
    expressions (spatial/pip.py pip_expr, no UDF); the pages side maps
    to cell ids and broadcast-joins the raster — zero shuffles of the
    big relation, partial agg above the join.  Cell latitude bounds are
    spelled with the exp-form gudermannian so the identical closed form
    exists in ANSI SQL.

    FULL SQL ORACLE (_sql_admin_raster): an INDEPENDENT formulation —
    the admin diamonds are L1 balls, so center-in is
    |u|+|v| <= 1 closed form and interior is max_u + max_v <= 1
    (the L1 norm is convex, so its max over a rect splits per axis) —
    no ray casting, proving the engine's generic even-odd crossing
    test against the exact geometry.
    """
    from proj_spark.spatial.pip import pip_expr, polygon_bbox

    nn = float(1 << RASTER_Z)
    polys = _admin_polygons(spark)
    cand = (polys.withColumn("_b", polygon_bbox(F.col("ring")))
            .withColumn("_x", F.explode(F.sequence(
                cells.tile_x(F.col("_b.minx"), RASTER_Z),
                cells.tile_x(F.col("_b.maxx"), RASTER_Z))))
            .withColumn("_y", F.explode(F.sequence(
                cells.tile_y(F.col("_b.maxy"), RASTER_Z),
                cells.tile_y(F.col("_b.miny"), RASTER_Z)))))

    def lon_at(xc):
        return xc * F.lit(360.0) / F.lit(nn) - F.lit(180.0)

    def gud_lat(yc):  # tile row -> latitude (exp-form gudermannian)
        t = F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * yc / F.lit(nn))
        return F.degrees(F.atan((F.exp(t) - F.exp(-t)) / F.lit(2.0)))

    cxm = lon_at(F.col("_x") + F.lit(0.5))
    cym = gud_lat(F.col("_y") + F.lit(0.5))
    wl, el = lon_at(F.col("_x") + F.lit(0.0)), lon_at(F.col("_x") + F.lit(1.0))
    nl, sl = gud_lat(F.col("_y") + F.lit(0.0)), gud_lat(F.col("_y") + F.lit(1.0))
    ring = F.col("ring")
    interior = (pip_expr(wl, sl, ring) & pip_expr(el, sl, ring)
                & pip_expr(wl, nl, ring) & pip_expr(el, nl, ring))
    raster = (cand.where(pip_expr(cxm, cym, ring))
              .select("admin_id", F.col("_x").alias("cell_x"),
                      F.col("_y").alias("cell_y"),
                      interior.alias("interior")))

    pts = _points(spark, sf_dir)
    keyed = pts.select(
        cells.tile_x(F.col("lon"), RASTER_Z).alias("cell_x"),
        cells.tile_y(F.col("lat"), RASTER_Z).alias("cell_y"))
    assigned = (keyed.join(F.broadcast(raster.select("admin_id", "cell_x",
                                                     "cell_y")),
                           ["cell_x", "cell_y"], "inner")
                .groupBy("admin_id", "cell_x", "cell_y")
                .agg(F.count("*").alias("_n")))
    # assigned has at most one row per raster cell — broadcast-safe at
    # any corpus size (the left outer would otherwise sort-merge, adding
    # two exchanges of the tiny relations)
    return (raster.join(F.broadcast(assigned),
                        ["admin_id", "cell_x", "cell_y"], "left")
            .select("admin_id", "cell_x", "cell_y", "interior",
                    F.coalesce(F.col("_n"), F.lit(0)).alias("n_pages")))


def _sql_admin_raster(n: int) -> str:
    nn = float(1 << RASTER_Z)
    z = RASTER_Z

    def gud(y_expr: str) -> str:
        t = f"(PI() * (1.0 - 2.0 * {y_expr} / {nn!r}))"
        return f"DEGREES(ATAN((EXP({t}) - EXP(-{t})) / 2.0))"

    return f"""WITH {_pages_cte(n)},
adm AS (SELECT * FROM {_admin_values_sql()}),
bounds AS (
  SELECT admin_id, cx, cy, rx, ry,
         {cells.tile_x_sql('(cx - rx)', z)} AS x0,
         {cells.tile_x_sql('(cx + rx)', z)} AS x1,
         {cells.tile_y_sql('(cy + ry)', z)} AS y0,
         {cells.tile_y_sql('(cy - ry)', z)} AS y1
  FROM adm
),
cand AS (
  SELECT admin_id, cx, cy, rx, ry,
         x0 + ri.range AS x, y0 + rj.range AS y
  FROM bounds
  JOIN range(0, 128) ri ON x0 + ri.range <= x1
  JOIN range(0, 128) rj ON y0 + rj.range <= y1
),
geo AS (
  SELECT admin_id, cx, cy, rx, ry, x, y,
         (x + 0.5) * 360.0 / {nn!r} - 180.0 AS cxm,
         {gud('(y + 0.5)')} AS cym,
         (x + 0.0) * 360.0 / {nn!r} - 180.0 AS wl,
         (x + 1.0) * 360.0 / {nn!r} - 180.0 AS el,
         {gud('(y + 0.0)')} AS nl,
         {gud('(y + 1.0)')} AS sl
  FROM cand
),
raster AS (
  SELECT admin_id, x AS cell_x, y AS cell_y,
         (GREATEST(ABS(wl - cx), ABS(el - cx)) / rx
          + GREATEST(ABS(sl - cy), ABS(nl - cy)) / ry) <= 1.0 AS interior
  FROM geo
  WHERE ABS(cxm - cx) / rx + ABS(cym - cy) / ry <= 1.0
),
cnt AS (
  SELECT {cells.tile_x_sql('lon', z)} AS cell_x,
         {cells.tile_y_sql('lat', z)} AS cell_y,
         COUNT(*) AS _n
  FROM pages GROUP BY 1, 2
)
SELECT r.admin_id, r.cell_x, r.cell_y, r.interior,
       COALESCE(c._n, 0) AS n_pages
FROM raster r LEFT JOIN cnt c USING (cell_x, cell_y)"""


GEOD_AREA_Z = 8            # cell footprints: 1.4 deg wide, O(10^3) km^2


def q_geod_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic polygon area at scale (geod_polygonarea, §2.A.5,
    src/geodesic.c): for every occupied z8 web-mercator cell, the exact
    spherical area and perimeter of its footprint quad, with the page
    count — the per-region "how much ground does this bucket cover"
    rollup a density map needs.

    Plan: one hash agg to the occupied-cell relation (tiny vs pages),
    corner vertices as pure JVM expressions, explode to 4 edges/cell,
    ONE flat Arrow batch through the vectorized Karney edge kernel
    (s12 + S12 per edge), then a JVM-side groupBy sum — the planimeter's
    accumulation loop re-expressed as a distributed reduction.  The
    remainder/transit fixups of areareduceA are no-ops here (net
    prime-meridian transits of a non-pole-enclosing ring are even, and
    |area| << area0/2), asserted against polygon_area in
    tests/test_geodesic.py.

    FULL SQL ORACLE (_sql_geod_area): with f=0 each edge's S12 reduces
    to the closed-form spherical excess of its equator quadrilateral,
    2*atan2(tan(dl/2)*(t1+t2), 1+t1*t2) with t=tan(phi/2) (Bevis &
    Cambareri 1987), and the distance to the great-circle atan2 form —
    drift between the formulations is ~1e-9 relative, absorbed by
    rounding area to 0.01 km^2 and perimeter to 1 m.
    """
    from proj_spark.spark.udf import geod_edge_area_udf

    nn = 1 << GEOD_AREA_Z
    pts = _points(spark, sf_dir)
    cl = (pts.groupBy(cells.tile_x(F.col("lon"), GEOD_AREA_Z).alias("cx"),
                      cells.tile_y(F.col("lat"), GEOD_AREA_Z).alias("cy"))
          .agg(F.count("*").alias("n_pages")))

    def gud_lat(y):  # tile row -> latitude of its TOP edge (gudermannian)
        t = F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * y / F.lit(float(nn)))
        return F.degrees(F.atan((F.exp(t) - F.exp(-t)) / F.lit(2.0)))

    c = cl.select(
        "cx", "cy", "n_pages",
        (F.col("cx") * F.lit(360.0) / F.lit(float(nn)) - F.lit(180.0)).alias("wl"),
        ((F.col("cx") + 1) * F.lit(360.0) / F.lit(float(nn)) - F.lit(180.0)).alias("el"),
        gud_lat(F.col("cy")).alias("nl"),
        gud_lat(F.col("cy") + 1).alias("sl"))
    # counter-clockwise ring (w,s) (e,s) (e,n) (w,n) -> 4 directed edges
    edge = F.explode(F.array(
        F.struct(F.col("wl").alias("lon1"), F.col("sl").alias("lat1"),
                 F.col("el").alias("lon2"), F.col("sl").alias("lat2")),
        F.struct(F.col("el").alias("lon1"), F.col("sl").alias("lat1"),
                 F.col("el").alias("lon2"), F.col("nl").alias("lat2")),
        F.struct(F.col("el").alias("lon1"), F.col("nl").alias("lat1"),
                 F.col("wl").alias("lon2"), F.col("nl").alias("lat2")),
        F.struct(F.col("wl").alias("lon1"), F.col("nl").alias("lat1"),
                 F.col("wl").alias("lon2"), F.col("sl").alias("lat2")))).alias("e")
    g = geod_edge_area_udf(SPHERE_R, 0.0)
    edges = (c.select("cx", "cy", "n_pages", edge)
             .withColumn("_g", g(F.col("e.lat1"), F.col("e.lon1"),
                                 F.col("e.lat2"), F.col("e.lon2"))))
    return (edges.groupBy("cx", "cy", "n_pages")
            .agg(F.round(-F.sum("_g.area12") / F.lit(1e6), 2).alias("area_km2"),
                 F.round(F.sum("_g.s12") / F.lit(1e3), 3).alias("perim_km")))


def _sql_geod_area(n: int) -> str:
    nn = 1 << GEOD_AREA_Z
    num1 = "COS(p2) * SIN(dl)"
    num2 = "COS(p1) * SIN(p2) - SIN(p1) * COS(p2) * COS(dl)"
    gud = ("DEGREES(ATAN((EXP(PI() * (1.0 - 2.0 * ({y}) / {nn}.0))"
           " - EXP(-(PI() * (1.0 - 2.0 * ({y}) / {nn}.0)))) / 2.0))")
    return f"""WITH {_pages_cte(n)},
cl AS (
  SELECT {cells.tile_x_sql('lon', GEOD_AREA_Z)} AS cx,
         {cells.tile_y_sql('lat', GEOD_AREA_Z)} AS cy,
         COUNT(*) AS n_pages
  FROM pages GROUP BY 1, 2
),
c AS (
  SELECT cx, cy, n_pages,
         cx * 360.0 / {nn}.0 - 180.0 AS wl,
         (cx + 1) * 360.0 / {nn}.0 - 180.0 AS el,
         {gud.format(y='cy', nn=nn)} AS nl,
         {gud.format(y='cy + 1', nn=nn)} AS sl
  FROM cl
),
v AS (
  SELECT cx, cy, n_pages,
         CASE i WHEN 0 THEN wl WHEN 1 THEN el WHEN 2 THEN el ELSE wl END AS lon1,
         CASE i WHEN 0 THEN sl WHEN 1 THEN sl WHEN 2 THEN nl ELSE nl END AS lat1,
         CASE i WHEN 0 THEN el WHEN 1 THEN el WHEN 2 THEN wl ELSE wl END AS lon2,
         CASE i WHEN 0 THEN sl WHEN 1 THEN nl WHEN 2 THEN nl ELSE sl END AS lat2
  FROM c CROSS JOIN (VALUES (0), (1), (2), (3)) AS edges(i)
),
e AS (
  SELECT cx, cy, n_pages,
         RADIANS(lat1) AS p1, RADIANS(lat2) AS p2,
         RADIANS(lon2) - RADIANS(lon1) AS dl
  FROM v
),
f AS (
  SELECT cx, cy, n_pages,
         ATAN2(SQRT(({num1}) * ({num1}) + ({num2}) * ({num2})),
               SIN(p1) * SIN(p2) + COS(p1) * COS(p2) * COS(dl))
             * {SPHERE_R!r} AS s12,
         2.0 * ATAN2(TAN(dl / 2.0) * (TAN(p1 / 2.0) + TAN(p2 / 2.0)),
                     1.0 + TAN(p1 / 2.0) * TAN(p2 / 2.0))
             * {SPHERE_R!r} * {SPHERE_R!r} AS exc
  FROM e
)
SELECT cx, cy, n_pages,
       ROUND(-SUM(exc) / 1e6, 2) AS area_km2,
       ROUND(SUM(s12) / 1e3, 3) AS perim_km
FROM f GROUP BY 1, 2, 3"""


# ---------------------------------------------------------------------------
# queries — text / dedup / similarity layer (documents + embeddings tables)
# ---------------------------------------------------------------------------

def _docs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents scan with NO rebalance — for the map-only
    full-corpus rewrites (pii_redact, bloom_decontam) whose contract is
    scan -> rewrite with zero exchanges: a balance shuffle would
    double-materialize the corpus, a real 2x I/O cost at 100 TB."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents relation, re-balanced to the session's parallelism.

    The sandbox corpus is ONE small parquet file -> Spark scans it as a
    single partition, so every downstream shingle/token explode (which
    multiplies rows ~300x) would run single-threaded — measured 7-9 s
    single-core vs ~2 s spread for the shingle family at sf0.1.  At
    100 TB the scan has thousands of row-group splits and this
    round-robin is a cheap balance step; here it is what unlocks the
    other 31 cores.  Row order is irrelevant downstream: every consumer
    aggregates or windows on explicit keys (the oracle compare is
    order-insensitive by design).  Map-only rewrites that must keep the
    single-scan shape use _docs_raw instead."""
    return _docs_raw(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism)


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/quality stats + content fingerprint."""
    stats = analysis.doc_stats(_docs(spark, sf_dir))
    return stats.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars_c").cast("long").alias("n_chars_c"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_tok_len", "digit_ratio", "punct_ratio", "quality", "fp")


def _sql_text_stats() -> dict[str, str]:
    """DuckDB twins of the analysis.py per-document expressions."""
    toks = _sql_toks()
    n_tok = f"len({toks})"
    tot = f"list_aggregate(list_transform({toks}, t -> len(t)), 'sum')"
    mtl = f"(CASE WHEN {n_tok} > 0 THEN CAST({tot} AS DOUBLE) / {n_tok} ELSE 0.0 END)"
    n = "len(text)"
    digits = f"({n} - len(regexp_replace(text, '[0-9]', '', 'g')))"
    punct = f"({n} - len(regexp_replace(text, '[.,;:!?''\"()-]', '', 'g')))"
    dr = f"(CASE WHEN {n} > 0 THEN CAST({digits} AS DOUBLE) / {n} ELSE 0.0 END)"
    pr = f"(CASE WHEN {n} > 0 THEN CAST({punct} AS DOUBLE) / {n} ELSE 0.0 END)"
    len_ok = f"LEAST(CAST({n_tok} AS DOUBLE) / 50.0, 1.0)"
    word_ok = f"(CASE WHEN {mtl} >= 3.0 AND {mtl} <= 10.0 THEN 1.0 ELSE 0.5 END)"
    noise_ok = f"GREATEST(0.0, 1.0 - ({dr} + {pr}) * 2.0)"
    quality = f"ROUND({len_ok} * {word_ok} * {noise_ok}, 6)"
    return {"n": n, "n_tok": n_tok, "mtl": mtl, "dr": dr, "pr": pr,
            "len_ok": len_ok, "word_ok": word_ok, "noise_ok": noise_ok,
            "quality": quality}


def _sql_doc_stats() -> str:
    s = _sql_text_stats()
    n, n_tok, mtl, dr, pr = s["n"], s["n_tok"], s["mtl"], s["dr"], s["pr"]
    len_ok, word_ok, noise_ok = s["len_ok"], s["word_ok"], s["noise_ok"]
    return f"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST({n} AS BIGINT) AS n_chars_c,
       CAST({n_tok} AS BIGINT) AS n_tokens,
       ROUND({mtl}, 6) AS mean_tok_len,
       ROUND({dr}, 6) AS digit_ratio,
       ROUND({pr}, 6) AS punct_ratio,
       ROUND({len_ok} * {word_ok} * {noise_ok}, 6) AS quality,
       md5(text) AS fp
FROM documents"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 hash group-by (one shuffle on the digest)."""
    from proj_spark.text.dedup import exact_dedup
    d = exact_dedup(_docs(spark, sf_dir))
    return d.select("text_md5", F.col("keep_id").cast("long").alias("keep_id"),
                    F.col("dup_count").cast("long").alias("dup_count"))


def _sql_exact_dedup() -> str:
    return """SELECT md5(text) AS text_md5,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS dup_count
FROM documents GROUP BY 1"""


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-based language ID vs the labeled lang column."""
    docs = _docs(spark, sf_dir)
    g = docs.select(F.col("lang"), analysis.lang_guess(F.col("text")).alias("guess"))
    return g.groupBy("lang", "guess").agg(F.count("*").alias("n_docs"))


def _sql_lang_guess() -> str:
    """DuckDB twin of analysis.lang_guess (argmax stopword hits)."""
    toks = f"list_distinct({_SQL_TOKS})"
    hits = {lang: f"len(list_intersect({toks}, {words!r}))"
            for lang, words in analysis.STOPWORDS.items()}
    best = "GREATEST(" + ", ".join(hits.values()) + ")"
    return "CASE WHEN " + " WHEN ".join(
        f"{best} > 0 AND {hits[lang]} = {best} THEN '{lang}'"
        for lang in analysis.STOPWORDS) + " ELSE 'und' END"


def _sql_lang_confusion() -> str:
    return f"""SELECT lang, {_sql_lang_guess()} AS guess, COUNT(*) AS n_docs
FROM documents GROUP BY 1, 2"""


def q_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-30 tokens (explode -> hash agg -> global top-k)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(analysis.tokens(F.lower(F.col("text")))).alias("token"))
    return (toks.groupBy("token").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), "token").limit(30))


def _sql_token_topk() -> str:
    return f"""SELECT token, COUNT(*) AS n
FROM (SELECT unnest({_SQL_TOKS}) AS token
      FROM documents)
GROUP BY 1 ORDER BY n DESC, token LIMIT 30"""


CHUNK_W = 8


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-wide duplicate-chunk removal stats per doc.

    Fixed-width token chunks stand in for paragraphs (the synthetic
    corpus has no newlines); an instance is removed unless it is the
    corpus-wide first occurrence by (doc_id, pos).  See
    proj_spark/text/repetition.py for the one-shuffle-per-stage plan.
    """
    from proj_spark.text.repetition import chunk_dedup_stats
    out = chunk_dedup_stats(_docs(spark, sf_dir), CHUNK_W)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "n_chunks", "n_removed", "n_tokens", "kept_tok",
                      "kept_frac")


def _sql_chunk_dedup() -> str:
    w = CHUNK_W
    return f"""WITH t AS (SELECT doc_id, {_sql_toks()} AS toks FROM documents),
ch AS (
  SELECT doc_id,
         unnest([{{'pos': i,
                   'chunk': array_to_string(toks[i*{w}+1 : i*{w}+{w}], ' '),
                   'ctok': least({w}, len(toks) - i*{w})}}
                 for i in generate_series(0, (len(toks) - 1) // {w})]) AS c
  FROM t WHERE len(toks) > 0
), m AS (
  SELECT doc_id, c.pos AS pos, c.ctok AS ctok,
         ROW_NUMBER() OVER (PARTITION BY c.chunk
                            ORDER BY doc_id, c.pos) AS rn
  FROM ch
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(SUM(ctok) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN rn > 1 THEN 0 ELSE ctok END) AS BIGINT) AS kept_tok,
       ROUND(CAST(SUM(CASE WHEN rn > 1 THEN 0 ELSE ctok END) AS DOUBLE)
             / SUM(ctok), 6) AS kept_frac
FROM m GROUP BY 1"""


def q_gopher_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document repetition metrics + filter flag
    (duplicate-token fraction, top-bigram share)."""
    from proj_spark.text.repetition import repetition_stats
    out = repetition_stats(_docs(spark, sf_dir))
    return out.withColumn("doc_id", F.col("doc_id").cast("long"))


def _sql_gopher_rep() -> str:
    from proj_spark.text.repetition import (DUP_TOKEN_MAX_FRAC,
                                            TOP_BIGRAM_MAX_SHARE)
    return f"""WITH t AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         CASE WHEN len(toks) >= 2
              THEN [toks[i] || ' ' || toks[i+1]
                    for i in generate_series(1, len(toks) - 1)]
              ELSE [] END AS bigrams
  FROM (SELECT doc_id, {_sql_toks()} AS toks FROM documents)
), bg AS (
  SELECT doc_id, n_tokens, n_distinct, unnest(bigrams) AS bigram FROM t
), counts AS (
  SELECT doc_id, n_tokens, n_distinct, bigram, COUNT(*) AS bn
  FROM bg GROUP BY 1, 2, 3, 4
), agg AS (
  SELECT doc_id, n_tokens, n_distinct,
         CAST(SUM(bn) AS BIGINT) AS n_bigrams,
         CAST(MAX(bn) AS BIGINT) AS top_bigram_n
  FROM counts GROUP BY 1, 2, 3
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens, n_distinct,
       ROUND(CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens, 6)
         AS dup_tok_frac,
       n_bigrams, top_bigram_n,
       ROUND(CAST(top_bigram_n AS DOUBLE) / n_bigrams, 6)
         AS top_bigram_share,
       (ROUND(CAST(top_bigram_n AS DOUBLE) / n_bigrams, 6)
          > {TOP_BIGRAM_MAX_SHARE!r}
        OR ROUND(CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens, 6)
          > {DUP_TOKEN_MAX_FRAC!r}) AS rep_flagged
FROM agg"""


# 20-char shingles: wide enough that vocabulary-level n-grams don't become
# ubiquitous (a shingle shared by thousands of docs makes the
# join-on-shingle pair count quadratic in document frequency)
NGRAM_W = 20
NGRAM_TOPK = 200
# document-frequency cap: a shingle present in more than this many docs is
# dropped BEFORE the self-join (its pair contribution is df^2 on one
# shuffle key — the skewed-key quadratic blowup at 100x scale).  Sizes are
# computed over the capped vocabulary so Jaccard stays internally
# consistent; the DuckDB oracle applies the identical cap.
NGRAM_DF_CAP = 100


def _capped_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-capped distinct-shingle relation (doc_id, shingle) shared
    by every shingle-set operator (ngram_pairs / dedup_groups /
    containment): explode distinct {NGRAM_W}-gram xxhash64 keys, drop
    ubiquitous shingles (df > NGRAM_DF_CAP, broadcast anti-join),
    persist — Spark's plan-keyed CacheManager gives all consumers ONE
    materialized copy per (corpus, cap)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    # shingles shuffle as xxhash64 int64 keys, not 20-char strings: the
    # two shuffles (df count + self-join) move 8-byte fixed-width keys
    # (~25% faster end-to-end, identical results — a 64-bit collision
    # among ~n_docs*1k shingles has probability ~1e-9 at sf0.1 and
    # would surface as a visible oracle mismatch, not silent error;
    # the DuckDB oracle keeps the literal strings)
    sh_all = docs.select(
        F.col("doc_id"),
        F.explode(F.expr(
            f"array_distinct(transform(sequence(1, greatest(length(text) - {NGRAM_W - 1}, 0)),"
            f" i -> xxhash64(substring(text, i, {NGRAM_W}))))")).alias("shingle"))
    frequent = (sh_all.groupBy("shingle").count()
                .where(F.col("count") > NGRAM_DF_CAP).select("shingle"))
    # materialize the capped shingle relation ONCE: it feeds both sides
    # of the self-join plus the per-doc sizes, and without a barrier the
    # corpus scan + explode re-executes per occurrence (plan audit: 8
    # duplicated subtrees, 20 exchanges; AQE reused only 1).  Repeated
    # calls do NOT leak storage: Spark's CacheManager keys cache entries
    # by canonicalized plan, so the two consumers of this helper (and
    # re-runs of either) share ONE materialized copy per (corpus, cap)
    # — the same amortization a production pipeline gets by computing
    # the shingle relation once per corpus snapshot.
    return (sh_all.join(F.broadcast(frequent), "shingle", "left_anti")
            .persist())


def _shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doc pairs id_a < id_b sharing a _capped_shingles shingle,
    with n_inter = |S_a cap S_b| and the set sizes na, nb: one
    self-equi-join on shingle plus the broadcast per-doc sizes."""
    sh = _capped_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
             .agg(F.count("*").alias("n_inter")))
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb"))
    return inter.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")


def _ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared exact n-gram Jaccard pipeline over the <=DF_CAP
    vocabulary, computed distributed: _shingle_overlap's |intersection|
    -> |union| from the per-doc set sizes.  This is the
    shuffle-on-shingle plan that scales (no O(n^2) cross join, no
    unbounded per-key pair blowup).  Returns (id_a, id_b, jaccard) with
    id_a < id_b, jaccard unrounded; feeds both the top-k query and the
    dedup-group assignment."""
    return (_shingle_overlap(spark, sf_dir)
            .select(F.col("id_a").cast("long").alias("id_a"),
                    F.col("id_b").cast("long").alias("id_b"),
                    (F.col("n_inter").cast("double")
                     / (F.col("na") + F.col("nb") - F.col("n_inter"))).alias("jaccard")))


def q_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 near-dup pairs by exact n-gram Jaccard (see
    _ngram_jaccard for the distributed plan)."""
    j = _ngram_jaccard(spark, sf_dir)
    return (j.orderBy(F.col("jaccard").desc(), "id_a", "id_b").limit(NGRAM_TOPK)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def _ngram_cte() -> str:
    """Shared DuckDB CTE chain ending in j(id_a, id_b, jaccard) —
    the oracle mirror of _ngram_jaccard (literal-string shingles;
    the engine shuffles xxhash64 keys, values are identical)."""
    return f"""sh_all AS (
  SELECT doc_id, unnest(list_distinct([substring(text, i, {NGRAM_W})
          for i in generate_series(1, greatest(len(text) - {NGRAM_W - 1}, 0))])) AS shingle
  FROM documents
), frequent AS (
  SELECT shingle FROM sh_all GROUP BY 1 HAVING COUNT(*) > {NGRAM_DF_CAP}
), sh AS (
  SELECT * FROM sh_all WHERE shingle NOT IN (SELECT shingle FROM frequent)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), j AS (
  SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
         CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = inter.id_a
  JOIN sizes sb ON sb.doc_id = inter.id_b
)"""


def _sql_ngram_pairs() -> str:
    return f"""WITH {_ngram_cte()}
SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard
FROM j ORDER BY jaccard DESC, id_a, id_b LIMIT {NGRAM_TOPK}"""


# Jaccard threshold that turns near-dup PAIRS into dedup GROUP edges.
DEDUP_TAU = 0.5


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup group assignment: near-dup pairs (exact n-gram Jaccard >=
    DEDUP_TAU) become edges of an undirected graph; every document is
    assigned the minimum doc_id reachable through those edges
    (connected components via distributed hash-to-min label propagation
    with pointer jumping — see text/components.py), plus the component
    size and the canonical keep flag (`is_keep` = this doc is the one
    survivor of its group).  Docs with no near-dup are singleton
    groups.  The iterative CC step only touches edge-connected nodes,
    so its cost scales with the near-dup subgraph, not the corpus."""
    from proj_spark.text.components import dedup_assign
    edges = (_ngram_jaccard(spark, sf_dir)
             .where(F.col("jaccard") >= DEDUP_TAU)
             .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    docs = _docs(spark, sf_dir).select("doc_id")
    out = dedup_assign(docs, edges, id_col="doc_id")
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      F.col("comp_id").cast("long").alias("comp_id"),
                      F.col("comp_size").cast("long").alias("comp_size"),
                      F.col("is_keep"))


def _dedup_cc_ctes() -> str:
    """The shared recursive-CTE component assignment (edges -> reach ->
    cc -> assigned -> sized) used by the dedup_groups and
    dedup_keep_best oracles."""
    return f"""{_ngram_cte()},
edges AS (
  SELECT id_a AS u, id_b AS v FROM j WHERE jaccard >= {DEDUP_TAU}
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM j WHERE jaccard >= {DEDUP_TAU}
), cnodes AS (
  SELECT DISTINCT u AS id FROM edges
), reach(id, r) AS (
  SELECT id, id FROM cnodes
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id
), cc AS (
  SELECT id, MIN(r) AS comp FROM reach GROUP BY id
), assigned AS (
  SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         CAST(COALESCE(cc.comp, d.doc_id) AS BIGINT) AS comp_id
  FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
), sized AS (
  SELECT comp_id, COUNT(*) AS comp_size FROM assigned GROUP BY comp_id
)"""


def _sql_dedup_groups() -> str:
    """Oracle: identical Jaccard edges, components via a recursive-CTE
    reachability closure (min reachable id == min id in component,
    since the edge set is symmetrized)."""
    return f"""WITH RECURSIVE {_dedup_cc_ctes()}
SELECT a.doc_id, a.comp_id, CAST(s.comp_size AS BIGINT) AS comp_size,
       a.doc_id = a.comp_id AS is_keep
FROM assigned a JOIN sized s USING (comp_id)"""


EMB_K = 20


def _embeddings_query(spark: SparkSession, sf_dir: str
                      ) -> tuple[DataFrame, list[float]]:
    """(vec_id, embedding as array<double>) of the embeddings table,
    and the query vector: vec_id 0's embedding, fetched to the driver."""
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", F.col("embedding").cast("array<double>")
                   .alias("embedding")))
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    return emb, [float(v) for v in qrow[0]]


def q_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embeddings table (JVM-side dot
    product, no UDF; global top-k via orderBy().limit())."""
    from proj_spark.text.similarity import brute_force_topk
    emb, query = _embeddings_query(spark, sf_dir)
    res = brute_force_topk(emb, query, EMB_K)
    return res.select(F.col("vec_id").cast("long").alias("vec_id"), "cosine")


def _sql_embed_topk() -> str:
    return f"""WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(qv, qv))), 8) AS cosine
FROM embeddings, q
ORDER BY cosine DESC, vec_id LIMIT {EMB_K}"""


EMB_PAIR_K = 3


def q_embed_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs top-k cosine neighbors per vector (small-side
    broadcast self-join; at 10^12 scale this becomes knn_pairs_topk's
    LSH bucket join — tested separately as an approximate op)."""
    from proj_spark.text.similarity import cosine_pair_expr
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", F.col("embedding").cast("array<double>")
                   .alias("_v")))
    l = emb.alias("l")
    r = emb.alias("r")
    cand = (l.join(F.broadcast(r), F.col("l.vec_id") != F.col("r.vec_id"))
            .select(F.col("l.vec_id").cast("long").alias("vec_id"),
                    F.col("r.vec_id").cast("long").alias("nbr_id"),
                    F.round(cosine_pair_expr(F.col("l._v"), F.col("r._v")),
                            8).alias("cosine")))
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(),
                                             F.col("nbr_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= EMB_PAIR_K)
            .select("vec_id", "nbr_id", "cosine",
                    F.col("rank").cast("long").alias("rank")))


def _sql_embed_allpairs() -> str:
    return f"""WITH pairs AS (
  SELECT CAST(l.vec_id AS BIGINT) AS vec_id,
         CAST(r.vec_id AS BIGINT) AS nbr_id,
         ROUND(list_dot_product(CAST(l.embedding AS DOUBLE[]),
                                CAST(r.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(l.embedding AS DOUBLE[]),
                                        CAST(l.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(r.embedding AS DOUBLE[]),
                                          CAST(r.embedding AS DOUBLE[])))),
               8) AS cosine
  FROM embeddings l JOIN embeddings r ON l.vec_id <> r.vec_id
),
ranked AS (
  SELECT vec_id, nbr_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, nbr_id) AS rank
  FROM pairs
)
SELECT vec_id, nbr_id, cosine, rank FROM ranked WHERE rank <= {EMB_PAIR_K}"""


def _lsh_bucket_rows(n_planes: int, n_tables: int, dim: int) -> str:
    """DuckDB STRUCT_PACK rows reproducing the engine's deterministic
    sign-LSH buckets (one row per table) from literal hyperplanes."""
    from proj_spark.text.similarity import _hyperplanes
    planes = _hyperplanes(dim, n_planes * n_tables)

    def plane_lit(i):
        return "[" + ", ".join(repr(float(v)) for v in planes[i]) + "]"

    rows = []
    for t in range(n_tables):
        terms = " + ".join(
            f"(CASE WHEN list_dot_product(v, {plane_lit(t * n_planes + b)}) "
            f"> 0 THEN {1 << b} ELSE 0 END)"
            for b in range(n_planes))
        rows.append(f"STRUCT_PACK(t := {t}, b := ({terms}))")
    return ",\n    ".join(rows)


def ann_planes(n_vecs: int) -> int:
    """Density-matched sign-LSH plane count: 4 planes (16 buckets per
    table) is tuned for <= 2000 vectors (sf0.1); beyond that one plane
    is added per 2x vectors so bucket occupancy n/2^planes stays
    constant.  A density-BLIND plane count makes sum(bucket^2)
    candidates grow ~n^2 (measured: 3M at 2k vecs -> 300M at 20k,
    spilling the sandbox disk) — this is the knob, applied.
    sf0.01/sf0.1 keep 4 planes, so oracles and bench history are
    unchanged."""
    import math
    if n_vecs <= 2000:
        return 4
    return 4 + int(math.ceil(math.log2(n_vecs / 2000.0)))


def _n_vecs(sf_dir: str) -> int:
    return _n_pages(sf_dir) // 300


def q_ann_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate all-pairs neighbors via sign-LSH buckets (rows-only:
    recall depends on the deterministic hyperplanes, verified against
    the exact query in tests)."""
    from proj_spark.text.similarity import knn_pairs_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return (knn_pairs_topk(emb, k=EMB_PAIR_K, dim=64,
                           n_planes=ann_planes(_n_vecs(sf_dir)),
                           n_tables=12)
            .select(F.col("vec_id").cast("long"),
                    F.col("nbr_id").cast("long"), "cosine",
                    F.col("rank").cast("long")))


# Cosine threshold for embedding near-duplicates, calibrated to the
# synthetic embeddings table (random-ish vectors: max pairwise cosine
# ~0.51 at sf0.01) so the query exercises a non-trivial pair set; real
# corpora would run the same operator at ~0.95.
EMB_NEARDUP_TAU = 0.4


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: unordered pairs whose exact cosine
    (rounded to 8 dp) >= EMB_NEARDUP_TAU, candidates from the same
    deterministic multi-table sign-LSH buckets as ann_pairs — the
    dedup-by-embedding mode of the pipeline (pairs feed
    text/components.dedup_assign for group collapse)."""
    from proj_spark.text.similarity import neardup_pairs
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return (neardup_pairs(emb, tau=EMB_NEARDUP_TAU, dim=64,
                          n_planes=ann_planes(_n_vecs(sf_dir)),
                          n_tables=12)
            .select(F.col("id_a").cast("long").alias("id_a"),
                    F.col("id_b").cast("long").alias("id_b"), "cosine"))


def _sql_embed_neardup() -> str:
    """Oracle: literal-hyperplane buckets (shared builder with
    _sql_ann_pairs), canonical id_a < id_b candidates, same
    round-then-threshold classification."""
    bucket_rows = _lsh_bucket_rows(n_planes=4, n_tables=12, dim=64)
    return f"""WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), b AS (
  SELECT vec_id, v, tb.t AS t, tb.b AS bkt
  FROM emb, UNNEST([{bucket_rows}]) AS u(tb)
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, bb.vec_id AS id_b
  FROM b a JOIN b bb
    ON a.t = bb.t AND a.bkt = bb.bkt AND a.vec_id < bb.vec_id
), scored AS (
  SELECT c.id_a, c.id_b,
         ROUND(list_dot_product(ea.v, eb.v)
               / (sqrt(list_dot_product(ea.v, ea.v))
                  * sqrt(list_dot_product(eb.v, eb.v))), 8) AS cosine
  FROM cand c
  JOIN emb ea ON ea.vec_id = c.id_a
  JOIN emb eb ON eb.vec_id = c.id_b
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, cosine
FROM scored WHERE cosine >= {EMB_NEARDUP_TAU}"""


IVF_CELLS = 16
IVF_NPROBE = 4


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors: coarse quantizer trained in one
    aggregation pass (random-partition k-means init + one Lloyd step,
    DECIMAL-exact element-wise means), zero-shuffle Arrow matmul
    assignment to inverted lists, nprobe-pruned exact-cosine re-rank.
    The deterministic trainer keeps every stage SQL-expressible, so this
    scale-path op gets a full DuckDB value oracle (unlike the LSH
    variant's rows-only check)."""
    from proj_spark.text.similarity import ivf_topk
    emb, query = _embeddings_query(spark, sf_dir)
    res = ivf_topk(emb, query, EMB_K, dim=64, n_cells=IVF_CELLS,
                   nprobe=IVF_NPROBE)
    return res.select(F.col("cell").cast("long").alias("cell"),
                      F.col("vec_id").cast("long").alias("vec_id"),
                      "cosine")


def _sql_ivf_topk() -> str:
    """IVF oracle: the same deterministic trainer in DuckDB SQL —
    DECIMAL sums keep the centroid means order-independent in both
    engines; cosines round to 8 dp before every argmax/ordering."""
    dim = 64
    mean_terms = ",\n          ".join(
        f"ROUND(CAST(SUM(CAST(v[{i + 1}] AS DECIMAL(27,12))) AS DOUBLE)"
        f" / COUNT(*), 6)" for i in range(dim))
    cos = ("ROUND(list_dot_product({a}, {b}) / "
           "(sqrt(list_dot_product({a}, {a})) * "
           "sqrt(list_dot_product({b}, {b}))), 8)")
    return f"""WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cent AS (
  SELECT vec_id % {IVF_CELLS} AS cell,
         [{mean_terms}] AS c
  FROM emb GROUP BY 1
), assign AS (
  SELECT e.vec_id, e.v, c.cell,
         {cos.format(a='e.v', b='c.c')} AS cd
  FROM emb e CROSS JOIN cent c
), best AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cd DESC, cell) AS rn
    FROM assign) WHERE rn = 1
), q AS (
  SELECT v AS qv FROM emb WHERE vec_id = 0
), qcells AS (
  SELECT c.cell FROM cent c, q
  ORDER BY {cos.format(a='c.c', b='qv')} DESC, c.cell
  LIMIT {IVF_NPROBE}
)
SELECT CAST(b.cell AS BIGINT) AS cell, CAST(b.vec_id AS BIGINT) AS vec_id,
       {cos.format(a='b.v', b='qv')} AS cosine
FROM best b JOIN qcells USING (cell), q
ORDER BY cosine DESC, vec_id LIMIT {EMB_K}"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline: binary media -> mapInPandas decode (stubbed
    deterministic codec) -> fixed-width features -> per-kind stats.

    FULLY ORACLE-CHECKED: the stub decode is pure integer math over the
    md5-hex payload (tile bytes to the metadata-derived length, /255),
    and the first pooled feature is the mean of the first
    ceil(n/16)-sample bin — all expressible in SQL, so the DuckDB
    oracle reproduces the float32 features value-for-value.  The f0
    floats are cast to double BEFORE rounding so both engines round the
    same float32 quantum."""
    from proj_spark.text.multimodal import media_features, synth_media
    n = max(300, _n_pages(sf_dir) // 200)
    media = synth_media(spark, n)
    feats = media_features(media)
    return (feats.select("kind", F.col("n_bytes"),
                         F.element_at("feature", 1).alias("f0"))
            .groupBy("kind")
            .agg(F.count("*").alias("n_assets"),
                 F.sum("n_bytes").alias("total_bytes"),
                 F.round(F.min("f0").cast("double"), 6).alias("min_f0"),
                 F.round(F.max("f0").cast("double"), 6).alias("max_f0")))


def _sql_media_features(n_pages: int) -> str:
    """DuckDB rebuild of synth_media + the stub decode + first-bin
    pooling: payload = utf-8 of md5(url)||md5(url#)||md5(url##) (96
    hex chars), samples[j] = ord(payload[j mod 96])/255 tiled to the
    metadata length n, f0 = float32(mean of the first ceil(n/16)
    samples)."""
    n = max(300, n_pages // 200)
    return f"""WITH assets AS (
  SELECT i AS media_id,
         CASE (i % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS kind,
         md5('https://media.example/' || i)
           || md5('https://media.example/' || i || '#')
           || md5('https://media.example/' || i || '##') AS payload,
         (i % 5) * 4 + 8 AS width, (i % 3) * 4 + 8 AS height,
         (i % 4) + 2 AS n_frames, 8000 AS sample_rate,
         (i % 900) + 100 AS duration_ms
  FROM range(0, {n}) t(i)
), sized AS (
  SELECT *, CASE kind WHEN 'image' THEN width*height
                      WHEN 'audio' THEN GREATEST(1, sample_rate*duration_ms//1000)
                      ELSE width*height*n_frames END AS n
  FROM assets
), expanded AS (
  SELECT media_id, kind, payload,
         UNNEST(generate_series(0, ((n + 15)//16) - 1)) AS j
  FROM sized
), f0 AS (
  SELECT media_id, kind,
         AVG(ord(substr(payload, CAST(j % 96 AS INT) + 1, 1))) / 255.0 AS f0d
  FROM expanded GROUP BY 1, 2
)
SELECT kind, COUNT(*) AS n_assets, CAST(SUM(96) AS BIGINT) AS total_bytes,
       ROUND(CAST(MIN(CAST(f0d AS FLOAT)) AS DOUBLE), 6) AS min_f0,
       ROUND(CAST(MAX(CAST(f0d AS FLOAT)) AS DOUBLE), 6) AS max_f0
FROM f0 GROUP BY kind"""


def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH banded near-dup candidates, verified by exact n-gram
    Jaccard (rows-only: the minhash family is not SQL-expressible).

    FULLY ORACLE-CHECKED: every stage uses explicit engine-independent
    integer arithmetic — Mersenne-61 shingle/minhash families and
    mod-2^31-1 polynomial band buckets — so the DuckDB oracle
    (_sql_minhash_neardup, HUGEINT arithmetic) reproduces candidates AND
    verified pairs value-for-value.

    The pipeline is dedup.minhash_near_dups: ONE Python pass yields
    each document's signature and shingle set, and the verify is a JVM
    array_intersect over the sets joined back by id.  No driver-side
    set dictionary, no second text scan, no Python verify stage: at
    100 TB the set join shuffles on doc_id like any other join, and
    candidate volume from near-threshold corpora (LSH at r=4,b=16
    passes ~half of J~0.45 pairs) is pruned before any array ships.
    The (num_hashes, rows_per_band) pair is the density-matched
    mh_params knob: hot-shingle corpora saturate 4-hash band keys
    quadratically at scale (see mh_params for the measurements).

    Recall contract: a pair of Jaccard similarity J becomes a candidate
    with probability 1 - (1 - J^r)^b (r rows per band, b bands).  With
    64 hashes in 16 bands of 4 (<= 20k docs) that is >= 0.99 for
    J >= 0.71 and 0.64 at the 0.5 verify threshold; with 128 hashes in
    16 bands of 8 (above 20k docs) it is >= 0.99 for J >= 0.85 and 0.06
    at J = 0.5.  Every returned pair is exact, but neither setting is
    exhaustive at the threshold: about a third of the J = 0.5 pairs are
    missed at <= 20k docs, and most of them above 20k."""
    from proj_spark.text.dedup import minhash_near_dups
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    d = minhash_near_dups(docs, *mh_params(_n_docs(sf_dir)))
    return (d.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"),
                     "jaccard")
            .orderBy("id_a", "id_b"))


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (rows-only; hamming <= 3).  Candidates
    come from 4x16-bit bands at <= 20k docs (oracle/bench scales
    unchanged) and from the WWW'07 block-permutation triple index
    beyond — the exact Hamming verify makes the output identical under
    either scheme; only hot-key candidate volume changes (68M band
    pairs -> 5.9M at the 50k-doc sf1 corpus; see simhash_near_dups)."""
    from proj_spark.text.dedup import simhash_near_dups
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    d = simhash_near_dups(
        docs, scheme="bands" if _n_docs(sf_dir) <= 20_000 else "blocks")
    return d.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"),
                    F.col("hamming").cast("long")).orderBy("id_a", "id_b")


def _sql_ann_pairs() -> str:
    """Full sign-LSH ANN oracle: the deterministic hyperplanes embed as
    SQL list literals, buckets come from list_dot_product signs, the
    candidate self-join and the cosine verify mirror the Spark query
    (same rounded-cosine window ordering, same tie-breaks)."""
    bucket_rows = _lsh_bucket_rows(n_planes=4, n_tables=12, dim=64)
    return f"""WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), b AS (
  SELECT vec_id, v, tb.t AS t, tb.b AS bkt
  FROM emb, UNNEST([{bucket_rows}]) AS u(tb)
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_id, bb.vec_id AS nbr_id
  FROM b a JOIN b bb
    ON a.t = bb.t AND a.bkt = bb.bkt AND a.vec_id != bb.vec_id
), scored AS (
  SELECT c.vec_id, c.nbr_id,
         ROUND(list_dot_product(ea.v, eb.v)
               / (sqrt(list_dot_product(ea.v, ea.v))
                  * sqrt(list_dot_product(eb.v, eb.v))), 8) AS cosine
  FROM cand c
  JOIN emb ea ON ea.vec_id = c.vec_id
  JOIN emb eb ON eb.vec_id = c.nbr_id
), ranked AS (
  SELECT vec_id, nbr_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, nbr_id) AS rank
  FROM scored
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(nbr_id AS BIGINT) AS nbr_id,
       cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {EMB_PAIR_K}"""


def _sql_utm_project() -> str:
    """Full etmerc (Poder/Engsager) oracle in DuckDB SQL: the Gaussian-
    latitude Clenshaw series and the 6th-order complex Clenshaw are
    expanded term-by-term with the engine's own GRS80 coefficients as
    literals; hyperbolics are emulated with exp/log (|2*ce| <= ~0.12 for
    in-zone UTM, so no cancellation).  Per-row zone logic mirrors
    UTMBatch.  Aggregates round to cm so the ~1e-8 m ulp drift of the
    emulated libm calls cannot flip a boundary."""
    from proj_spark.operations.tmerc import etmerc_coefficients
    from proj_spark.ellipsoids import get_ellipsoid
    ell = get_ellipsoid("GRS80")
    c = etmerc_coefficients(ell.es)
    cbg = [repr(float(v)) for v in c["cbg"]]
    gtu = [repr(float(v)) for v in c["gtu"]]
    qn = repr(0.9996 * float(c["qn"]))
    a = repr(ell.a)

    # gatg Clenshaw over cbg: h1 = -h2 + cos2b*h1 + c, 5 iterations
    gat_cols = []
    h1, h2 = cbg[5], "0.0"
    for coef in cbg[4::-1]:
        h1, h2 = f"((-({h2}) + cos2b * ({h1})) + {coef})", h1
    gatg_expr = h1

    # complex Clenshaw over gtu (expanded iteration by iteration)
    def clen_stages():
        stages = []
        hr, hi, hr1, hi1 = gtu[5], "0.0", "0.0", "0.0"
        for coef in gtu[4::-1]:
            hr2, hi2 = hr1, hi1
            hr1, hi1 = hr, hi
            hr = f"(((-({hr2}) + cr * ({hr1})) - ci_ * ({hi1})) + {coef})"
            hi = f"((-({hi2}) + ci_ * ({hr1})) + cr * ({hi1}))"
        return hr, hi
    hr_expr, hi_expr = clen_stages()

    n = _n_pages("sf0.01")
    return f"""WITH {_pages_cte(n)},
pts AS (
  SELECT url,
         CAST(least(greatest(floor((lon + 180.0) / 6.0) + 1, 1), 60) AS BIGINT)
           AS zone,
         radians(lat) AS phi, radians(lon) AS lam_in
  FROM pages WHERE lat IS NOT NULL
),
zoned AS (
  SELECT url, zone,
         phi, lam_in - radians((zone - 1 + 0.5) * 6.0 - 180.0) AS lam
  FROM pts
),
gaus AS (   -- gatg(cbg, phi): Gaussian latitude
  SELECT url, zone, lam, phi, 2.0 * cos(2.0 * phi) AS cos2b FROM zoned
),
gaus2 AS (
  SELECT url, zone, lam, phi + ({gatg_expr}) * sin(2.0 * phi) AS cn1
  FROM gaus
),
sph AS (    -- spherical transform to the oblique frame
  SELECT url, zone, lam,
         atan2(sin(cn1), cos(lam) * cos(cn1)) AS cn2,
         atan2(sin(lam) * cos(cn1),
               sqrt(sin(cn1) * sin(cn1)
                    + (cos(cn1) * cos(lam)) * (cos(cn1) * cos(lam)))) AS ce2
  FROM gaus2
),
sph2 AS (   -- ce = asinh(tan(ce2)) via the log identity
  SELECT url, zone, cn2,
         ln(tan(ce2) + sqrt(tan(ce2) * tan(ce2) + 1.0)) AS ce3
  FROM sph
),
args AS (   -- complex Clenshaw arguments
  SELECT url, zone, cn2, ce3,
         sin(2.0 * cn2) AS sr, cos(2.0 * cn2) AS cr0,
         (exp(2.0 * ce3) - exp(-(2.0 * ce3))) / 2.0 AS shi,
         (exp(2.0 * ce3) + exp(-(2.0 * ce3))) / 2.0 AS chi
  FROM sph2
),
args2 AS (
  SELECT url, zone, cn2, ce3, sr, cr0, shi, chi,
         2.0 * cr0 * chi AS cr, -2.0 * sr * shi AS ci_
  FROM args
),
clen AS (
  SELECT url, zone, cn2, ce3,
         sr * chi AS srch, cr0 * shi AS crsh,
         {hr_expr} AS hr, {hi_expr} AS hi
  FROM args2
),
proj AS (
  SELECT url, zone,
         ({qn} * (ce3 + (srch * hi + crsh * hr))) * {a} + 500000.0 AS easting,
         ({qn} * (cn2 + (srch * hr - crsh * hi)) + -0.0) * {a} AS northing
  FROM clen
)
SELECT zone, COUNT(*) AS n_pages,
       ROUND(MIN(easting), 2) AS min_e, ROUND(MAX(easting), 2) AS max_e,
       ROUND(MIN(northing), 2) AS min_n, ROUND(MAX(northing), 2) AS max_n
FROM proj GROUP BY zone"""


def _sql_minhash_neardup() -> str:
    """Full minhash-LSH near-dup oracle in DuckDB SQL: HUGEINT Mersenne-61
    shingle hashes and minhash family, mod-2^31-1 polynomial band
    buckets, candidate equi-join, exact Jaccard verify — the identical
    integer arithmetic the Spark query's kernels implement (documents
    are ASCII, so ascii() equals the UTF-8 byte the engine hashes).
    Hash and band counts come from `mh_params` at the oracle's doc
    count, as the query's do."""
    from proj_spark.text.dedup import M31, MERSENNE61
    shingle = 5
    num_hashes, rpb = mh_params(_n_docs(f"sf{ORACLE_SF}"))
    bands = num_hashes // rpb
    pows = [pow(131, i, MERSENNE61) for i in range(shingle)]
    hv = " + ".join(
        f"CAST(ascii(substr(text, p + {i}, 1)) AS HUGEINT) * {pows[i]}"
        for i in range(shingle))
    params = ",\n    ".join(
        f"({j}, {(2 * j + 1) * 2654435761 % MERSENNE61}, "
        f"{(j * 40503 + 2654435769) % MERSENNE61})"
        for j in range(num_hashes))

    def bucket_expr():
        acc = f"(s[band * {rpb} + 1] % {M31})"
        for r in range(1, rpb):
            acc = f"(({acc}) * 131 + s[band * {rpb} + {r + 1}] % {M31}) % {M31}"
        return acc

    return f"""WITH sh AS (
  SELECT DISTINCT doc_id, CAST(({hv}) % {MERSENNE61} AS BIGINT) AS hv
  FROM documents,
       UNNEST(generate_series(1, greatest(len(text) - {shingle - 1}, 0))) AS t(p)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
), params(j, a, b) AS (
  VALUES {params}
), sig AS (
  SELECT doc_id, j,
         CAST(MIN((CAST(a AS HUGEINT) * hv + b) % {MERSENNE61}) AS BIGINT) AS m
  FROM sh CROSS JOIN params GROUP BY doc_id, j
), sigl AS (
  SELECT doc_id, list(m ORDER BY j) AS s FROM sig GROUP BY doc_id
), bands AS (
  SELECT doc_id, band, {bucket_expr()} AS bucket
  FROM sigl, UNNEST(generate_series(0, {bands - 1})) AS tb(band)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n
  FROM cand c
  JOIN sh x ON x.doc_id = c.id_a
  JOIN sh y ON y.doc_id = c.id_b AND y.hv = x.hv
  GROUP BY 1, 2
), jac AS (
  SELECT c.id_a, c.id_b,
         CAST(COALESCE(i.n, 0) AS DOUBLE)
           / (sa.n_sh + sb.n_sh - COALESCE(i.n, 0)) AS jaccard
  FROM cand c
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       ROUND(jaccard, 6) AS jaccard
FROM jac WHERE jaccard >= 0.5"""


def _sql_simhash_neardup() -> str:
    """Full simhash near-dup oracle: HUGEINT Mersenne-61 shingle hashes,
    splitmix64 emulated with xor() + integer-divide shifts + 2^64 wrap,
    per-bit majority votes over each document's distinct shingles,
    4x16-bit banding, candidate join, Hamming<=3 verify — the identical
    bit-for-bit pipeline the Spark query's kernels implement."""
    from proj_spark.text.dedup import MERSENNE61
    shingle = 3
    pows = [pow(131, i, MERSENNE61) for i in range(shingle)]
    hv = " + ".join(
        f"CAST(ascii(substr(text, p + {i}, 1)) AS HUGEINT) * {pows[i]}"
        for i in range(shingle))
    M64 = 1 << 64
    C1, C2 = 0xBF58476D1CE4E5B9, 0x94D049BB133111EB

    def mul64(x, c):
        # (x * c) mod 2^64 without overflowing signed INT128: split x
        # into 32-bit halves (h*c < 2^96, l*c < 2^96 both fit)
        return (f"(((({x}) // {1 << 32}) * {c} % {1 << 32}) * {1 << 32} "
                f"+ (({x}) % {1 << 32}) * {c}) % {M64}")

    return f"""WITH sh AS (
  SELECT DISTINCT doc_id, CAST(({hv}) % {MERSENNE61} AS HUGEINT) AS hv
  FROM documents,
       UNNEST(generate_series(1, greatest(len(text) - {shingle - 1}, 0))) AS t(p)
), mixed AS (
  SELECT doc_id,
    CAST(xor(x2, x2 // {1 << 31}) % {M64} AS HUGEINT) AS v
  FROM (
    SELECT doc_id,
      CAST({mul64(f"xor(x1, x1 // {1 << 27})", C2)} AS HUGEINT) AS x2
    FROM (
      SELECT doc_id,
        CAST({mul64(f"xor(hv, hv // {1 << 30})", C1)} AS HUGEINT) AS x1
      FROM sh
    )
  )
), votes AS (
  SELECT doc_id, bit,
         SUM(CAST((v // CAST(POWER(2, bit) AS HUGEINT)) % 2 AS BIGINT)) AS ones,
         COUNT(*) AS n
  FROM mixed, UNNEST(generate_series(0, 63)) AS tb(bit)
  GROUP BY doc_id, bit
), sigh AS (
  SELECT doc_id,
         SUM(CASE WHEN 2 * ones > n
             THEN CAST(POWER(2, bit) AS HUGEINT) ELSE 0 END) AS s
  FROM votes GROUP BY doc_id
), sig AS (
  SELECT doc_id, s,
         CAST(CASE WHEN s >= {1 << 63} THEN s - {M64} ELSE s END AS BIGINT)
           AS sim
  FROM sigh
), bands AS (
  SELECT doc_id, sim, k,
         CAST((s // CAST(POWER(2, 16 * k) AS HUGEINT)) % 65536 AS BIGINT)
           AS key
  FROM sig, UNNEST(generate_series(0, 3)) AS tk(k)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.sim AS sim_a, b.sim AS sim_b
  FROM bands a JOIN bands b
    ON a.k = b.k AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3"""


def q_crs_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point multi-candidate CRS dispatch: page geotags treated as
    ED50 geodetic coordinates, transformed to ETRS89 through the planner
    (proj_spark.planner), which ranks the published candidate operations
    (North Sea 7-param / Iberian 3-param / European mean) exactly like
    the reference's SortFunction and dispatches per point by bbox + best
    accuracy like proj_trans (src/4D_api.cpp:195-314).  Output includes
    the operation actually used, making the dispatch itself part of the
    checked result."""
    import numpy as np
    from proj_spark.planner import crs_to_crs

    t = crs_to_crs("EPSG:4230", "EPSG:4258")
    names = np.array([c.name for c in t.candidates], dtype=object)
    fallback = t._fallback_index()

    def dispatch(lon, lat):
        x, y = np.radians(lon), np.radians(lat)
        ch = t._dispatch(x, y, False)
        ch = np.where(ch < 0, fallback, ch)
        ox, oy, _ = t.fwd3d(x, y)
        return np.degrees(ox), np.degrees(oy), names[ch]

    udf = kernel_udf(dispatch, "lon_etrs double, lat_etrs double, op string")
    pts = _points(spark, sf_dir)
    return (pts.select("url", udf(F.col("lon"), F.col("lat")).alias("o"))
            .select("url",
                    F.round("o.lon_etrs", 6).alias("lon_etrs"),
                    F.round("o.lat_etrs", 6).alias("lat_etrs"),
                    F.col("o.op").alias("op")))


def _sql_crs_dispatch() -> str:
    """DuckDB oracle reproducing the FULL engine computation chain for
    every dispatch branch: cart fwd on international ellipsoid -> branch
    helmert -> Bowring inverse on WGS84 -> cart fwd on WGS84 -> Bowring
    inverse on GRS80 (the ETRS89 leg's null-shift ellipsoid hop), with
    the same dispatch CASE order (accuracy ascending) as the planner."""
    from proj_spark.ellipsoids import get_ellipsoid
    I, W, G = get_ellipsoid("intl"), get_ellipsoid("WGS84"), get_ellipsoid("GRS80")
    # North Sea 7-param: position-vector rotation about z only, applied
    # with the reference's APPROXIMATE small-angle matrix (DB-derived
    # helmerts run without +exact — helmert.cpp build matrix, else
    # branch; the planner's towgs84 candidates mirror this since r4)
    import math
    rz = -0.156 * math.pi / 180.0 / 3600.0
    k = 1.0 + 1.2e-6
    c, s = "1.0", repr(rz)
    ns = "lon >= -1.0 AND lat >= 56.0 AND lon <= 11.0 AND lat <= 62.0"
    ib = "lon >= -9.5 AND lat >= 36.0 AND lon <= 3.3 AND lat <= 43.8"
    mean = "lon >= -16.1 AND lat >= 25.7 AND lon <= 48.6 AND lat <= 84.2"

    def cart_fwd(a, es, lam, phi, h):
        n = f"({repr(a)} / sqrt(1.0 - {repr(es)} * sin({phi}) * sin({phi})))"
        return (f"(({n} + {h}) * cos({phi}) * cos({lam}))",
                f"(({n} + {h}) * cos({phi}) * sin({lam}))",
                f"(({n} * (1.0 - {repr(es)}) + {h}) * sin({phi}))")

    n_pages = _n_pages("sf0.01")
    return f"""WITH {_pages_cte(n_pages)},
pts AS (
  SELECT url, lon, lat, radians(lon) AS lam, radians(lat) AS phi
  FROM pages WHERE lat IS NOT NULL
),
s_cart AS (  -- cart fwd, intl ellipsoid, h=0
  SELECT url, lon, lat,
         {cart_fwd(I.a, I.es, 'lam', 'phi', '0.0')[0]} AS x0,
         {cart_fwd(I.a, I.es, 'lam', 'phi', '0.0')[1]} AS y0,
         {cart_fwd(I.a, I.es, 'lam', 'phi', '0.0')[2]} AS z0
  FROM pts
),
helm AS (    -- branch helmert (dispatch CASE, accuracy ascending)
  SELECT url, lon, lat,
    CASE WHEN {ns} THEN {repr(k)} * ({c} * x0 - {s} * y0) + -89.5
         WHEN {ib} THEN x0 + -84.0
         ELSE x0 + -87.0 END AS xh,
    CASE WHEN {ns} THEN {repr(k)} * ({s} * x0 + {c} * y0) + -93.8
         WHEN {ib} THEN y0 + -107.0
         ELSE y0 + -98.0 END AS yh,
    CASE WHEN {ns} THEN {repr(k)} * z0 + -123.1
         WHEN {ib} THEN z0 + -120.0
         ELSE z0 + -121.0 END AS zh,
    CASE WHEN {ns} THEN 'ED50 to WGS 84 (23) North Sea'
         WHEN {ib} THEN 'ED50 to WGS 84 (9) Iberia'
         -- out-of-extent points use the first gridless candidate in
         -- rank order (4D_api.cpp:288-305), which IS the Mean European
         -- op — same translation the old ballpark chain applied, but
         -- reported under the real op's name since r4
         ELSE 'ED50 to WGS 84 (1) Mean European' END AS op
  FROM s_cart
),
w_inv1 AS (  -- Bowring inverse, WGS84
  SELECT *, sqrt(xh * xh + yh * yh) AS p,
         atan2(zh * {repr(W.a)}, sqrt(xh * xh + yh * yh) * {repr(W.b)}) AS th
  FROM helm
),
w_inv2 AS (
  SELECT *, atan2(zh + {repr(W.e2s)} * {repr(W.b)} * sin(th) * sin(th) * sin(th),
                  p - {repr(W.es)} * {repr(W.a)} * cos(th) * cos(th) * cos(th)) AS phw,
         atan2(yh, xh) AS lmw
  FROM w_inv1
),
w_inv3 AS (
  SELECT *, p / cos(phw)
            - {repr(W.a)} / sqrt(1.0 - {repr(W.es)} * sin(phw) * sin(phw)) AS hw
  FROM w_inv2
),
g_cart AS (  -- cart fwd WGS84 with (lmw, phw, hw), then Bowring inverse GRS80
  SELECT url, lon, lat, op,
         {cart_fwd(W.a, W.es, 'lmw', 'phw', 'hw')[0]} AS xg,
         {cart_fwd(W.a, W.es, 'lmw', 'phw', 'hw')[1]} AS yg,
         {cart_fwd(W.a, W.es, 'lmw', 'phw', 'hw')[2]} AS zg
  FROM w_inv3
),
g_inv1 AS (
  SELECT *, sqrt(xg * xg + yg * yg) AS pg,
         atan2(zg * {repr(G.a)}, sqrt(xg * xg + yg * yg) * {repr(G.b)}) AS tg
  FROM g_cart
),
g_inv2 AS (
  SELECT url, lon, lat, op,
         atan2(yg, xg) AS lmg,
         atan2(zg + {repr(G.e2s)} * {repr(G.b)} * sin(tg) * sin(tg) * sin(tg),
               pg - {repr(G.es)} * {repr(G.a)} * cos(tg) * cos(tg) * cos(tg)) AS phg
  FROM g_inv1
)
SELECT url, ROUND(degrees(lmg), 6) AS lon_etrs, ROUND(degrees(phg), 6) AS lat_etrs, op
FROM g_inv2"""


# synthetic NTv2 grid spec shared by the query and its oracle: a 17x21
# half-degree grid over central Europe whose shift values are a closed
# form of the cell indices (so the oracle can regenerate them in SQL,
# including the file format's float32 quantization)
GSB_W, GSB_E = 5.0, 15.0       # degrees east
GSB_S, GSB_N = 47.0, 55.0
GSB_INC = 0.5                  # degrees
GSB_NLAM, GSB_NPHI = 21, 17


def _gsb_shift_spec():
    """(nphi, nlam, 2) float32 seconds: [:, :, 0]=phi, [:, :, 1]=lam."""
    import numpy as np
    iphi, ilam = np.mgrid[0:GSB_NPHI, 0:GSB_NLAM]
    sh = np.zeros((GSB_NPHI, GSB_NLAM, 2), dtype=np.float32)
    sh[:, :, 0] = (0.5 + 0.01 * iphi + 0.002 * ilam).astype(np.float32)
    sh[:, :, 1] = (-0.8 + 0.02 * ilam - 0.003 * iphi).astype(np.float32)
    return sh


def q_gridshift_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horizontal datum shift from an NTv2 (.gsb) FILE: the query writes
    the deterministic synthetic grid to disk, loads it through the real
    NTv2 parser (proj_spark.grids — reversed E-W storage, float32
    seconds, reference gridinfo.cpp semantics), and applies the shift to
    every page geotag inside the grid, exactly as a production datum
    pipeline would (file -> broadcast grid -> vectorized bilinear +
    nad_cvt).  The DuckDB oracle regenerates the grid values from the
    same closed form (with the format's float32 quantization) and
    reproduces the bilinear interpolation in SQL."""
    import os
    import tempfile

    import numpy as np
    from proj_spark import grids as G
    from proj_spark.operations.datum import GRID_REGISTRY, HGridShift

    name = "synthetic_query.gsb"
    path = os.path.join(tempfile.gettempdir(), name)
    G.write_gsb(path, [dict(
        name="SYNTHQ", parent="NONE",
        s_lat=GSB_S * 3600.0, n_lat=GSB_N * 3600.0,
        w_long=-GSB_W * 3600.0, e_long=-GSB_E * 3600.0,
        lat_inc=GSB_INC * 3600.0, long_inc=GSB_INC * 3600.0,
        shifts=_gsb_shift_spec())])
    G.register_grid_file(name, path)
    op = HGridShift({"grids": name, "ellps": "GRS80"})
    GRID_REGISTRY.pop(name, None)   # op holds the loaded GridSet

    def shift(lon, lat):
        lam, phi, _ = op.fwd3d(np.radians(lon), np.radians(lat), None)
        return np.degrees(lam), np.degrees(phi)

    udf = kernel_udf(shift, "lon_s double, lat_s double")
    pts = _points(spark, sf_dir).where(
        (F.col("lon") > GSB_W + 0.01) & (F.col("lon") < GSB_E - 0.01)
        & (F.col("lat") > GSB_S + 0.01) & (F.col("lat") < GSB_N - 0.01))
    return (pts.select("url", udf(F.col("lon"), F.col("lat")).alias("o"))
            .select("url",
                    F.round("o.lon_s", 9).alias("lon_s"),
                    F.round("o.lat_s", 9).alias("lat_s")))


def _sql_gridshift_file() -> str:
    """Bilinear NTv2 shift in closed-form SQL: grid node values come from
    the same index formula as _gsb_shift_spec, float32-quantized twice
    exactly as the file round-trip does (writer casts seconds to float32;
    the loader multiplies in double and stores float32 radians —
    gridinfo.cpp:340-341 semantics)."""
    d2r = repr(math.pi / 180.0)
    sec2rad = repr(math.pi / 180.0 / 3600.0)
    ll_lam = f"({repr(GSB_W)} * {d2r})"
    ll_phi = f"({repr(GSB_S)} * {d2r})"
    cell = f"({repr(GSB_INC)} * {d2r})"

    def node(comp, ip, il):
        if comp == "phi":
            sec = f"0.5 + 0.01 * ({ip}) + 0.002 * ({il})"
        else:
            sec = f"-0.8 + 0.02 * ({il}) - 0.003 * ({ip})"
        return (f"CAST(CAST(CAST(CAST(({sec}) AS FLOAT) AS DOUBLE) "
                f"* {sec2rad} AS FLOAT) AS DOUBLE)")

    n = _n_pages("sf0.01")
    return f"""WITH {_pages_cte(n)},
pts AS (
  SELECT url, radians(lon) AS lam, radians(lat) AS phi
  FROM pages
  WHERE lon > {GSB_W + 0.01} AND lon < {GSB_E - 0.01}
    AND lat > {GSB_S + 0.01} AND lat < {GSB_N - 0.01}
),
cellidx AS (
  SELECT url, lam, phi,
         (lam - {ll_lam}) / {cell} AS tl,
         (phi - {ll_phi}) / {cell} AS tp
  FROM pts
),
fracs AS (
  SELECT url, lam, phi,
         floor(tl) AS il, floor(tp) AS ip,
         tl - floor(tl) AS fl, tp - floor(tp) AS fp
  FROM cellidx
),
interp AS (
  SELECT url, lam, phi,
    (1.0 - fl) * (1.0 - fp) * {node('lam', 'ip', 'il')}
      + fl * (1.0 - fp) * {node('lam', 'ip', 'il + 1')}
      + (1.0 - fl) * fp * {node('lam', 'ip + 1', 'il')}
      + fl * fp * {node('lam', 'ip + 1', 'il + 1')} AS dl,
    (1.0 - fl) * (1.0 - fp) * {node('phi', 'ip', 'il')}
      + fl * (1.0 - fp) * {node('phi', 'ip', 'il + 1')}
      + (1.0 - fl) * fp * {node('phi', 'ip + 1', 'il')}
      + fl * fp * {node('phi', 'ip + 1', 'il + 1')} AS dp
  FROM fracs
)
SELECT url, ROUND(degrees(lam - dl), 9) AS lon_s,
       ROUND(degrees(phi + dp), 9) AS lat_s
FROM interp"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-stream rollup: per (type, hour) counts + exact cents sum.

    The hour is computed arithmetically from epoch microseconds
    (``floor(unix_micros/3.6e9) mod 24``) rather than via ``F.hour`` so the
    result is independent of ``spark.sql.session.timeZone`` — parquet
    timestamps are UTC-normalized micros, and any harness-configured session
    timezone would otherwise shift the bucket (cf. reference time handling in
    src/conversions/unitconvert.cpp:159 which likewise works in absolute MJD,
    not wall-clock fields).
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if ev.schema["ts"].dataType.typeName() == "timestamp_ntz":
        # NTZ carries the stored wall clock directly — hour() is already
        # independent of the session timezone.
        hr = F.hour("ts").cast("long").alias("hr")
    else:
        # LTZ reading (e.g. inferTimestampNTZ disabled): unix_micros returns
        # the stored micros unchanged, so arithmetic recovers the wall hour
        # without any session-timezone conversion.
        hr = F.pmod(F.floor(F.unix_micros(F.col("ts")) / F.lit(3_600_000_000)),
                    F.lit(24)).cast("long").alias("hr")
    return (ev.select("event_type", hr,
                      F.round(F.col("value") * 100, 0).cast("long").alias("cents"))
            .groupBy("event_type", "hr")
            .agg(F.count("*").alias("n_events"), F.sum("cents").alias("sum_cents")))


def _sql_events_hourly() -> str:
    # epoch() on a parquet timestamp yields the stored UTC-normalized seconds
    # in DuckDB for both TIMESTAMP and TIMESTAMPTZ readings, so this matches
    # the Spark side's unix_micros arithmetic under any session timezone.
    return """SELECT event_type,
       CAST(floor(epoch(ts) / 3600) % 24 AS BIGINT) AS hr,
       COUNT(*) AS n_events,
       SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS sum_cents
FROM events GROUP BY 1, 2"""


SESSION_GAP_US = 6 * 3600 * 1_000_000  # 6 h idle gap splits a session


def _events_micros(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with a canonical integer event time (micros since epoch),
    identical under any session timezone / timestamp read mode."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select("event_id", "user_id", "event_type",
                     F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
                     temporal.epoch_micros(ev, "ts").alias("tm"))


_HOUR = "tm div 3600000000"               # an event's hour (tm in µs)
_SQL_HOUR = "epoch_us(ts) // 3600000000"   # its SQL twin, from events.ts


def _hourly(ev: DataFrame, *keys: str, count: str = "y") -> DataFrame:
    """The hourly event series of `_events_micros` rows: (*keys, x,
    count), x the `_HOUR` bucket and `count` its number of events."""
    return (ev.select(*keys, F.expr(_HOUR).alias("x"))
            .groupBy(*keys, "x").agg(F.count("*").alias(count)))


def _sql_hourly(name: str = "ser", key: str = "", count: str = "y") -> str:
    """SQL twin of `_hourly` over events, as the CTE `name`."""
    k, g = (f"{key}, ", "1, 2") if key else ("", "1")
    return f"""{name} AS (
  SELECT {k}{_SQL_HOUR} AS x, CAST(COUNT(*) AS BIGINT) AS {count}
  FROM events GROUP BY {g})"""


IJ_CELL_US = 7_200_000_000        # 2 h cells >= the longest interval
IJ_EPOCH0_US = 1_704_067_200_000_000   # 2024-01-01T00:00:00Z
IJ_N_WINDOWS = 400


def _event_intervals(ev: DataFrame) -> DataFrame:
    """Event activity intervals [tm, tm + dur) in integer epoch-µs —
    the ONE definition shared by the batch query, the streaming job's
    caller, and the stream==batch test (dur = 1..900 s from event_id)."""
    return ev.select(F.col("event_id").alias("a_id"),
                     temporal.epoch_micros(ev, "ts").alias("a_s"),
                     (temporal.epoch_micros(ev, "ts")
                      + (F.lit(1) + F.col("event_id") % 900)
                      * F.lit(1_000_000)).alias("a_e"))


def _ij_windows(spark: SparkSession) -> DataFrame:
    """The deterministic maintenance-window relation (b_id, b_s, b_e)."""
    return spark.range(IJ_N_WINDOWS).select(
        F.col("id").alias("b_id"),
        (F.lit(IJ_EPOCH0_US) + F.col("id") * F.lit(IJ_CELL_US)).alias("b_s"),
        (F.lit(IJ_EPOCH0_US) + F.col("id") * F.lit(IJ_CELL_US)
         + (F.lit(300) + (F.col("id") * F.col("id")) % 3600)
         * F.lit(1_000_000)).alias("b_e"))


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range (interval overlap) join — the operator Spark lacks
    natively: each event's activity interval [tm, tm + dur) against a
    deterministic maintenance-window relation, with the exact overlap
    duration.  1-D PBSM over 2 h time cells (see
    proj_spark/temporal.py interval_join): bounded 2-cell explode,
    cell equi-join, reference-point dedup — no distinct shuffle, and
    hot hours are exactly what AQE skew-split handles.  All times are
    integer epoch-µs (session-timezone independent, the events_hourly
    lesson).

    FULL SQL ORACLE (_sql_interval_join): the unpruned theta join over
    the same integer intervals."""
    from proj_spark.temporal import interval_join
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = _event_intervals(ev)
    w = _ij_windows(spark)
    out = interval_join(a, w, IJ_CELL_US)
    return out.select(F.col("a_id").alias("event_id"),
                      F.col("b_id").alias("win_id"), "ovl_us")


def _sql_interval_join() -> str:
    return f"""WITH a AS (
  SELECT event_id AS a_id, epoch_us(ts) AS a_s,
         epoch_us(ts) + (1 + event_id % 900) * 1000000 AS a_e
  FROM events
), w AS (
  SELECT i AS b_id,
         {IJ_EPOCH0_US} + i * {IJ_CELL_US} AS b_s,
         {IJ_EPOCH0_US} + i * {IJ_CELL_US}
           + (300 + (i * i) % 3600) * 1000000 AS b_e
  FROM range(0, {IJ_N_WINDOWS}) t(i)
)
SELECT a_id AS event_id, b_id AS win_id,
       LEAST(a_e, b_e) - GREATEST(a_s, b_s) AS ovl_us
FROM a JOIN w ON a_s < b_e AND b_s < a_e"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event matched to the same user's most
    recent strictly-earlier click (ties among equal-time clicks broken
    by greatest event_id); purchases with no earlier click keep NULLs.

    Plan: merge formulation — union both event streams with a side tag
    and run last(click, ignorenulls) over one (user_id)-partitioned
    event-time window (proj_spark/temporal.py asof_join).  One hash
    exchange of clicks+purchases total, no range join, no pair blowup
    on hot users — the shape that survives 100 TB.  Time axis parallels
    the reference's 4D t coordinate (src/proj.h PJ_COORD.xyzt) used by
    kinematic transforms.
    """
    e = _events_micros(spark, sf_dir)
    clicks = (e.where(F.col("event_type") == "click")
              .select("user_id", "tm", F.col("event_id").alias("click_event_id")))
    purch = (e.where(F.col("event_type") == "purchase")
             .select("event_id", "user_id", "cents", "tm"))
    j = temporal.asof_join(purch, clicks, on="user_id", ts="tm",
                           tiebreak="click_event_id", strict=True)
    return j.select("event_id", "user_id", "cents",
                    F.col("asof.click_event_id").alias("click_event_id"),
                    (F.col("tm") - F.col("asof.tm")).alias("gap_us"))


def _sql_asof_join() -> str:
    # Independent formulation: per-purchase LATERAL top-1 probe (fine at
    # oracle scale; the Spark side is the merge plan).
    return """WITH e AS (SELECT event_id, user_id, event_type,
                 CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
                 epoch_us(ts) AS tm FROM events),
p AS (SELECT event_id, user_id, cents, tm FROM e WHERE event_type = 'purchase'),
c AS (SELECT event_id, user_id, tm FROM e WHERE event_type = 'click')
SELECT p.event_id, p.user_id, p.cents, m.click_event_id, m.gap_us
FROM p LEFT JOIN LATERAL (
    SELECT c.event_id AS click_event_id, p.tm - c.tm AS gap_us
    FROM c WHERE c.user_id = p.user_id AND c.tm < p.tm
    ORDER BY c.tm DESC, c.event_id DESC LIMIT 1
) m ON TRUE"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: split each user's event stream on >6 h idle gaps
    (gaps-and-islands), then per-session stats.

    Plan: lag-diff break flag + running sum over one (user_id)-
    partitioned event-time window (proj_spark/temporal.py sessionize) —
    a single exchange + sort — followed by the per-session hash agg.
    Event time is canonical integer micros, so the session boundaries
    are independent of spark.sql.session.timeZone.
    """
    s = temporal.sessionize(_events_micros(spark, sf_dir),
                            key="user_id", ts="tm", gap=SESSION_GAP_US,
                            tiebreak="event_id")
    return (s.groupBy("user_id", "session_seq")
            .agg(F.count("*").alias("n_events"),
                 F.min("tm").alias("start_us"),
                 F.max("tm").alias("end_us"),
                 (F.max("tm") - F.min("tm")).alias("dur_us"),
                 F.countDistinct("event_type").alias("n_types"),
                 F.sum("cents").alias("sum_cents")))


def _sql_sessionize() -> str:
    return f"""WITH e AS (SELECT user_id, event_id, event_type,
                 CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
                 epoch_us(ts) AS tm FROM events),
f AS (SELECT *, CASE WHEN LAG(tm) OVER w IS NULL
                       OR tm - LAG(tm) OVER w > {SESSION_GAP_US}
                     THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tm, event_id)),
s AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY tm, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM f)
SELECT user_id, session_seq, COUNT(*) AS n_events,
       MIN(tm) AS start_us, MAX(tm) AS end_us,
       MAX(tm) - MIN(tm) AS dur_us,
       COUNT(DISTINCT event_type) AS n_types,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM s GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# queries — spatial analytics layer (pyramid / autocorrelation / interpolation
# / per-tile serving) + the webtext curation funnel
# ---------------------------------------------------------------------------

PYRAMID_Z_MAX = 9
PYRAMID_Z_MIN = 4


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole tile pyramid z4..z9 in ONE pass over the points.

    Plan: one shuffle of the point rows (the z9 groupBy); every coarser
    level re-aggregates the previous level's TILE rows (4x smaller each
    step), and Catalyst exchange reuse plans each level's shuffle once
    across the union branches (ReusedExchange — asserted by
    tests/test_plan_audit.py).  The oracle recomputes every level
    directly from the points, so it independently verifies the
    parent(z,x,y) = (z-1, x>>1, y>>1) floor-composition property the
    rollup relies on.
    """
    from proj_spark.spatial import pyramid
    pts = _points(spark, sf_dir)
    return pyramid.tile_pyramid(pts, PYRAMID_Z_MAX, PYRAMID_Z_MIN)


def _sql_tile_pyramid(n: int) -> str:
    levels = []
    for z in range(PYRAMID_Z_MAX, PYRAMID_Z_MIN - 1, -1):
        levels.append(f"""SELECT CAST({z} AS INT) AS zoom,
       {cells.tile_x_sql('lon', z)} AS tile_x,
       {cells.tile_y_sql('lat', z)} AS tile_y,
       COUNT(*) AS n
FROM pages GROUP BY 2, 3""")
    union = "\nUNION ALL\n".join(levels)
    return f"WITH {_pages_cte(n)}\n{union}"


MORANS_Z = 6


def q_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I spatial autocorrelation of page density over
    the occupied z6 cell lattice (rook contiguity).

    Exact-integer sufficient statistics (see spatial/stats.py): the
    only float math is the final one-row assembly, from exactly-
    representable integers with one fixed parenthesization — so the
    DuckDB oracle reproduces the double bit-for-bit.
    """
    from proj_spark.spatial import stats as spatial_stats
    pts = _points(spark, sf_dir)
    return spatial_stats.morans_i(spatial_stats.cell_counts(pts, MORANS_Z))


def q_lisa_quadrants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISA / Moran-scatterplot quadrants over the occupied z6 cell
    lattice: every cell classified HH / HL / LH / LL (or ISO when it
    has no occupied rook neighbor) by whether its page count and its
    neighbor-lag MEAN sit above the global mean — Anselin's local
    companion to the global morans_i / gearys_c queries (HH/LL =
    spatial clusters, HL/LH = spatial outliers), aggregated to
    per-quadrant totals.

    Exactness: the classification is pure integer cross-multiplication
    (x*N vs T; lag*N vs T*k) — zero float math anywhere, see
    spatial/stats.py lisa_quadrants.

    FULL SQL ORACLE (_sql_lisa_quadrants): identical arithmetic."""
    from proj_spark.spatial import stats as spatial_stats
    pts = _points(spark, sf_dir)
    return spatial_stats.lisa_quadrants(
        spatial_stats.cell_counts(pts, MORANS_Z))


def _sql_lisa_quadrants(n: int) -> str:
    z = MORANS_Z
    return f"""WITH {_pages_cte(n)},
{_sql_cell_counts(z)},
lg AS (SELECT a.tx, a.ty,
              CAST(SUM(b.x) AS BIGINT) AS lag, COUNT(*) AS k
       FROM cl a JOIN cl b
         ON (b.tx = a.tx + 1 AND b.ty = a.ty)
         OR (b.tx = a.tx - 1 AND b.ty = a.ty)
         OR (b.tx = a.tx AND b.ty = a.ty + 1)
         OR (b.tx = a.tx AND b.ty = a.ty - 1)
       GROUP BY 1, 2),
node AS (SELECT COUNT(*) AS n_cells, CAST(SUM(x) AS BIGINT) AS t_sum
         FROM cl),
per AS (SELECT cl.x, COALESCE(lg.lag, 0) AS lag, COALESCE(lg.k, 0) AS k,
               node.n_cells, node.t_sum
        FROM cl LEFT JOIN lg USING (tx, ty) CROSS JOIN node)
SELECT CASE WHEN k = 0 THEN 'ISO'
            WHEN x * n_cells > t_sum AND lag * n_cells > t_sum * k
                 THEN 'HH'
            WHEN x * n_cells > t_sum THEN 'HL'
            WHEN lag * n_cells > t_sum * k THEN 'LH'
            ELSE 'LL' END AS quadrant,
       COUNT(*) AS n_cells,
       CAST(SUM(x) AS BIGINT) AS sum_x,
       CAST(SUM(lag) AS BIGINT) AS sum_lag,
       CAST(SUM(k) AS BIGINT) AS sum_k
FROM per GROUP BY 1"""


def q_std_ellipse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard deviational ellipse per domain (directional
    distribution, Lefever 1926): mean center, orientation, and
    major/minor standard deviations of each domain's geographic
    scatter — the anisotropic companion to domain_gyration's scalar
    radius (a N-S coastal domain and a circular-blob domain can share
    a radius of gyration but have opposite ellipses).

    Exactness: exact-integer µdeg sufficient statistics with
    non-negative-shifted deviations and per-row div-quantization (see
    spatial/stats.py std_ellipse); the only float math is the final
    per-domain assembly with one fixed parenthesization.

    FULL SQL ORACLE (_sql_std_ellipse): identical arithmetic."""
    from proj_spark.spatial import stats as spatial_stats
    pts = _points(spark, sf_dir)
    return spatial_stats.std_ellipse(pts, id_col="domain")


def _sql_std_ellipse(n: int) -> str:
    from proj_spark.spatial.stats import _RAD2DEG, _SDE_USHIFT, _SDE_VSHIFT
    return f"""WITH {_pages_cte(n)},
t AS (SELECT domain, {_sql_udeg_xy(shift=True)} FROM pages),
c AS (SELECT domain, COUNT(*) AS n_pages,
             SUM(x) // COUNT(*) AS cx, SUM(y) // COUNT(*) AS cy
      FROM t GROUP BY 1),
j AS (SELECT t.domain, n_pages, cx, cy,
             x - cx + {_SDE_USHIFT} AS u, y - cy + {_SDE_VSHIFT} AS v
      FROM t JOIN c USING (domain)),
a AS (SELECT domain, n_pages, cx, cy,
             CAST(SUM(u) AS BIGINT) AS su, CAST(SUM(v) AS BIGINT) AS sv,
             CAST(SUM((u * u) // 1000000) AS BIGINT) AS suuq,
             CAST(SUM((v * v) // 1000000) AS BIGINT) AS svvq,
             CAST(SUM((u * v) // 1000000) AS BIGINT) AS suvq
      FROM j GROUP BY 1, 2, 3, 4),
fin AS (SELECT domain, n_pages, cx, cy, suuq, svvq, suvq,
               su / CAST(n_pages AS DOUBLE) AS mu,
               sv / CAST(n_pages AS DOUBLE) AS mv,
               suuq / CAST(n_pages AS DOUBLE) * 1e6 AS ruu,
               svvq / CAST(n_pages AS DOUBLE) * 1e6 AS rvv,
               suvq / CAST(n_pages AS DOUBLE) * 1e6 AS ruv
        FROM a),
cov AS (SELECT domain, n_pages, cx, cy, suuq, svvq, suvq,
               ruu - mu * mu AS cxx, rvv - mv * mv AS cyy,
               ruv - mu * mv AS cxy
        FROM fin),
eig AS (SELECT *,
               SQRT((cxx - cyy) * (cxx - cyy) + 4.0 * cxy * cxy) AS disc
        FROM cov)
SELECT domain, n_pages,
       CAST(cx - 180000000 AS BIGINT) AS cx_udeg,
       CAST(cy - 90000000 AS BIGINT) AS cy_udeg,
       suuq, svvq, suvq,
       ROUND(ATAN2(2.0 * cxy, cxx - cyy) / 2.0 * {_RAD2DEG!r}, 4)
         AS theta_deg,
       ROUND(SQRT(GREATEST((cxx + cyy + disc) / 2.0, 0.0)), 2)
         AS sig_maj_udeg,
       ROUND(SQRT(GREATEST((cxx + cyy - disc) / 2.0, 0.0)), 2)
         AS sig_min_udeg
FROM eig"""


# Clark-Evans / G-function thresholds (exact integer mm compares)
CE_BINS_MM = (100_000, 1_000_000, 5_000_000)   # 100 m, 1 km, 5 km
CE_AREA_M2 = 4.0 * math.pi * EARTH_R * EARTH_R  # sphere surface


def q_clark_evans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor point-pattern summary: the empirical G-function
    (share of points whose nearest neighbor lies within 100 m / 1 km /
    5 km) plus the Clark-Evans aggregation index R = observed mean NN
    distance / CSR-expected 0.5*sqrt(A/n) (Clark & Evans 1954), under
    the bounded-radius contract — the NN search is the same z13 ring-1
    half-neighborhood join as knn_join, so isolated points (no
    neighbor within the ring box) are excluded from the mean and
    counted in n_pts - n_nn.  R << 1 confirms the synthetic corpus is
    strongly clustered (city-centered page mass).

    Exactness: per-point NN distances quantized to integer mm (the
    per-pair haversine double is bit-identical across engines — the
    knn_join guarantee — so round(d*1000) matches row-for-row), then
    only BIGINT sums/counts; the two derived doubles are one fixed
    parenthesization each.

    Plan: one cell-key shuffle for the pair join, MIN hash-agg (no
    window — nn_dist in spatial/knn.py), then two 1-row aggregates
    cross-joined.  FULL SQL ORACLE (_sql_clark_evans)."""
    from proj_spark.spatial.knn import nn_dist
    pts = _points(spark, sf_dir)
    nn = nn_dist(pts, z=knnj_z(_n_pages(sf_dir)), ring=1, id_col="url")
    mm = F.round(F.col("nn_m") * 1000, 0).cast("long")
    b1, b2, b3 = CE_BINS_MM
    stats = nn.select(mm.alias("mm")).agg(
        F.count("*").alias("n_nn"),
        F.sum("mm").alias("sum_mm"),
        F.sum(F.when(F.col("mm") <= b1, 1).otherwise(0)).alias("n_le_100m"),
        F.sum(F.when(F.col("mm") <= b2, 1).otherwise(0)).alias("n_le_1km"),
        F.sum(F.when(F.col("mm") <= b3, 1).otherwise(0)).alias("n_le_5km"))
    tot = pts.agg(F.count("*").alias("n_pts"))
    j = stats.crossJoin(F.broadcast(tot))
    mean_m = (F.col("sum_mm") / F.col("n_nn")) / 1000.0
    re_m = 0.5 * F.sqrt(F.lit(CE_AREA_M2) / F.col("n_pts"))
    return j.select(
        "n_pts", "n_nn", "sum_mm",
        F.col("n_le_100m").cast("long").alias("n_le_100m"),
        F.col("n_le_1km").cast("long").alias("n_le_1km"),
        F.col("n_le_5km").cast("long").alias("n_le_5km"),
        F.round(mean_m, 6).alias("mean_nn_m"),
        F.round(mean_m / re_m, 6).alias("r_index"))


def _sql_clark_evans(n: int) -> str:
    z = knnj_z(n)
    nmax = (1 << z) - 1
    dist = haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    b1, b2, b3 = CE_BINS_MM
    return f"""WITH {_pages_cte(n)},
pts AS (
  SELECT url, lon, lat,
         {cells.tile_x_sql('lon', z)} AS cx,
         {cells.tile_y_sql('lat', z)} AS cy
  FROM pages
),
ring AS (
  -- the clamped ring cells are plain columns so pts joins them by hash
  SELECT url, lon, lat,
         LEAST(GREATEST(cx + dx, 0), {nmax}) AS rx,
         LEAST(GREATEST(cy + dy, 0), {nmax}) AS ry
  FROM pts
  CROSS JOIN (VALUES (-1), (0), (1)) dxs(dx)
  CROSS JOIN (VALUES (-1), (0), (1)) dys(dy)
),
nn AS (
  SELECT a.url, MIN({dist}) AS nn_m
  FROM ring a
  JOIN pts b ON b.cx = a.rx AND b.cy = a.ry AND b.url <> a.url
  GROUP BY 1
),
q AS (SELECT CAST(ROUND(nn_m * 1000, 0) AS BIGINT) AS mm FROM nn),
st AS (SELECT COUNT(*) AS n_nn, CAST(SUM(mm) AS BIGINT) AS sum_mm,
              CAST(SUM(CASE WHEN mm <= {b1} THEN 1 ELSE 0 END) AS BIGINT)
                AS n_le_100m,
              CAST(SUM(CASE WHEN mm <= {b2} THEN 1 ELSE 0 END) AS BIGINT)
                AS n_le_1km,
              CAST(SUM(CASE WHEN mm <= {b3} THEN 1 ELSE 0 END) AS BIGINT)
                AS n_le_5km
       FROM q),
tot AS (SELECT COUNT(*) AS n_pts FROM pts)
SELECT n_pts, n_nn, sum_mm, n_le_100m, n_le_1km, n_le_5km,
       ROUND((sum_mm / n_nn) / 1000.0, 6) AS mean_nn_m,
       ROUND(((sum_mm / n_nn) / 1000.0)
             / (0.5 * SQRT({CE_AREA_M2!r} / n_pts)), 6) AS r_index
FROM st CROSS JOIN tot"""


def q_cross_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate cross-K / colocation statistics: for every unordered
    pair of distinct page languages and each Ripley scale, the number
    of cross-language point pairs within the Chebyshev µdeg box, and
    the colocation quotient cq = observed cross pairs / random-labeling
    expectation (n_pairs_all * 2*n_a*n_b / (N*(N-1))) — the
    distance-based companion to join_counts' lattice statistic and the
    bivariate extension of ripley_k.  cq > 1 means the two languages
    co-locate more than chance (shared city clusters), cq < 1 means
    they segregate.

    Exactness: all pair/class counts are exact BIGINTs from the same
    one-pass half-neighborhood grid join as ripley_k (each unordered
    pair generated exactly once, classified once at the largest scale,
    then bucketed into every scale it fits); cq is ONE fixed-
    parenthesization double expression over exact ints, mirrored
    verbatim in the oracle.

    Plan: one shuffle on the 2-D grid key for the pair join, hash agg
    to <= |langs|^2 * |scales| rows, then window + two broadcast joins
    on the TINY aggregate.  FULL SQL ORACLE (_sql_cross_k): the full
    3x3-cell box-pair join (_sql_udeg_pairs), same classification and
    assembly."""
    pts = _points(spark, sf_dir)
    t = pts.select(_page_seq().alias("pid"), F.col("lang"), *_udeg_xy())
    pairs = (_udeg_pairs(t, RIPLEY_SCALES[-1])
             .select("d", F.least("a_lang", "b_lang").alias("lang_a"),
                     F.greatest("a_lang", "b_lang").alias("lang_b")))
    scale = F.explode(F.array(*[F.lit(s) for s in RIPLEY_SCALES]))
    per = (pairs.select("d", "lang_a", "lang_b", scale.alias("scale_udeg"))
           .where(F.col("d") <= F.col("scale_udeg"))
           .groupBy("scale_udeg", "lang_a", "lang_b")
           .agg(F.count("*").alias("n_pairs")))
    w = Window.partitionBy("scale_udeg")
    per = per.withColumn("n_pairs_all", F.sum("n_pairs").over(w))
    nl = t.groupBy("lang").agg(F.count("*").alias("n_l"))
    tot = t.agg(F.count("*").alias("n_total"))
    j = (per.where(F.col("lang_a") != F.col("lang_b"))
         .join(F.broadcast(nl.select(F.col("lang").alias("lang_a"),
                                     F.col("n_l").alias("n_a"))), "lang_a")
         .join(F.broadcast(nl.select(F.col("lang").alias("lang_b"),
                                     F.col("n_l").alias("n_b"))), "lang_b")
         .crossJoin(F.broadcast(tot)))
    ntd = F.col("n_total").cast("double")
    num = F.col("n_pairs").cast("double") * (ntd * (ntd - 1.0))
    den = (F.col("n_pairs_all").cast("double")
           * (2.0 * F.col("n_a") * F.col("n_b")))
    return j.select(
        "scale_udeg", "lang_a", "lang_b",
        F.col("n_pairs").alias("n_cross"), "n_pairs_all",
        "n_a", "n_b", "n_total",
        F.round(num / den, 6).alias("cq"))


def _sql_cross_k(n: int) -> str:
    S = RIPLEY_SCALES[-1]
    scales = ", ".join(str(s) for s in RIPLEY_SCALES)
    return f"""WITH {_pages_cte(n)},
t AS (SELECT i AS pid, lang, {_sql_udeg_xy()} FROM pages),
{_sql_udeg_pairs("t", S, ("lang",))},
p AS (SELECT d, LEAST(a_lang, b_lang) AS lang_a,
             GREATEST(a_lang, b_lang) AS lang_b FROM pairs),
per AS (SELECT scale_udeg, lang_a, lang_b, COUNT(*) AS n_pairs
        FROM (SELECT *, unnest([{scales}]) AS scale_udeg FROM p)
        WHERE d <= scale_udeg GROUP BY 1, 2, 3),
per2 AS (SELECT *, CAST(SUM(n_pairs) OVER (PARTITION BY scale_udeg)
                        AS BIGINT) AS n_pairs_all
         FROM per),
nl AS (SELECT lang, COUNT(*) AS n_l FROM t GROUP BY 1),
tot AS (SELECT COUNT(*) AS n_total FROM t)
SELECT scale_udeg, lang_a, lang_b, n_pairs AS n_cross, n_pairs_all,
       na.n_l AS n_a, nb.n_l AS n_b, n_total,
       ROUND((CAST(n_pairs AS DOUBLE)
              * (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) - 1.0)))
             / (CAST(n_pairs_all AS DOUBLE) * (2.0 * na.n_l * nb.n_l)), 6)
         AS cq
FROM per2
JOIN nl na ON na.lang = per2.lang_a
JOIN nl nb ON nb.lang = per2.lang_b
CROSS JOIN tot
WHERE lang_a <> lang_b"""


SCAN_Z = 6           # scan-statistic lattice: z6 cells
SCAN_LANG = "de"     # case class for the language scan
SCAN_TOPK = 20


def q_lang_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kulldorff-style spatial scan: the top-20 cell neighborhoods
    (z6 cell + Chebyshev radius 0-2) where German-language pages are
    most over-represented vs the all-pages baseline (Kulldorff 1997 /
    SaTScan).  The cut and rank are EXACT integer cross-multiplied
    comparisons (c_zone*n_tot vs c_tot*n_zone) so the top-k set is
    engine-independent; the Poisson LLR is one fixed float expression
    over the exact counts.

    Plan: points hash-agg to occupied cells (one shuffle), 25-offset
    explode of the AGGREGATED lattice + hash-agg on the zone center
    (second shuffle, |cells|*25 rows only), broadcast totals,
    TakeOrdered(20).  FULL SQL ORACLE (_sql_lang_scan)."""
    from proj_spark.spatial import stats as spatial_stats
    pts = _points(spark, sf_dir)
    counts = (pts.select(
        cells.tile_x(F.col("lon"), SCAN_Z).alias("tx"),
        cells.tile_y(F.col("lat"), SCAN_Z).alias("ty"),
        (F.col("lang") == SCAN_LANG).cast("long").alias("is_case"))
        .groupBy("tx", "ty")
        .agg(F.count("*").alias("n"), F.sum("is_case").alias("c")))
    return spatial_stats.kulldorff_scan(counts, top_k=SCAN_TOPK, max_r=2)


def _sql_lang_scan(n: int) -> str:
    z = SCAN_Z
    e = "((CAST(c_tot AS DOUBLE) * CAST(n_zone AS DOUBLE)) / CAST(n_tot AS DOUBLE))"
    t1 = f"CAST(c_zone AS DOUBLE) * LN(CAST(c_zone AS DOUBLE) / {e})"
    t2 = (f"(CAST(c_tot AS DOUBLE) - CAST(c_zone AS DOUBLE)) * "
          f"LN((CAST(c_tot AS DOUBLE) - CAST(c_zone AS DOUBLE)) / "
          f"(CAST(c_tot AS DOUBLE) - {e}))")
    return f"""WITH {_pages_cte(n)},
cl AS (SELECT {cells.tile_x_sql('lon', z)} AS tx,
              {cells.tile_y_sql('lat', z)} AS ty,
              COUNT(*) AS n,
              CAST(SUM(CASE WHEN lang = '{SCAN_LANG}' THEN 1 ELSE 0 END)
                   AS BIGINT) AS c
       FROM pages GROUP BY 1, 2),
offs AS (SELECT dx.dx AS dx, dy.dy AS dy,
                GREATEST(ABS(dx.dx), ABS(dy.dy)) AS dr
         FROM (VALUES (-2), (-1), (0), (1), (2)) dx(dx)
         CROSS JOIN (VALUES (-2), (-1), (0), (1), (2)) dy(dy)),
zone AS (SELECT b.tx + dx AS cx, b.ty + dy AS cy, r.r AS r,
                CAST(SUM(n) AS BIGINT) AS n_zone,
                CAST(SUM(c) AS BIGINT) AS c_zone
         FROM cl b CROSS JOIN offs
         JOIN (VALUES (0), (1), (2)) r(r) ON dr <= r.r
         GROUP BY 1, 2, 3),
occ AS (SELECT zone.* FROM zone
        JOIN cl ON cl.tx = zone.cx AND cl.ty = zone.cy),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
               CAST(SUM(c) AS BIGINT) AS c_tot FROM cl)
SELECT cx, cy, r, n_zone, c_zone, n_tot, c_tot,
       c_zone * n_tot - c_tot * n_zone AS excess,
       ROUND(CASE WHEN c_zone = c_tot THEN {t1}
                  ELSE {t1} + {t2} END, 4) AS llr
FROM occ CROSS JOIN tot
WHERE c_zone * n_tot > c_tot * n_zone AND n_zone < n_tot
ORDER BY excess DESC, cx, cy, r
LIMIT {SCAN_TOPK}"""


QUADRAT_Z = 4        # quadrat lattice: z4 -> 256 world cells


def q_quadrat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadrat analysis / index of dispersion: the chi-square CSR test
    over the fixed z4 web-mercator lattice (Q = 256 quadrats).  The
    classic identity chi2 = sum (x - N/Q)^2 / (N/Q) = (Q*Sx2 - N^2)/N
    makes the numerator an EXACT BIGINT (empty quadrats contribute
    x=0, which the occupied-only scan already accounts for), so the
    statistic is two fixed float divisions over exact integers.
    VMR = chi2/(Q-1) >> 1 certifies clustering (CSR gives VMR ~= 1).

    Plan: one hash-agg to occupied cells, one single-row agg — the
    cheapest possible CSR test at any corpus size.
    FULL SQL ORACLE (_sql_quadrat)."""
    q = 1 << (2 * QUADRAT_Z)
    pts = _points(spark, sf_dir)
    cl = (pts.select(cells.tile_x(F.col("lon"), QUADRAT_Z).alias("tx"),
                     cells.tile_y(F.col("lat"), QUADRAT_Z).alias("ty"))
          .groupBy("tx", "ty").agg(F.count("*").alias("x")))
    agg = cl.agg(F.count("*").alias("n_occupied"),
                 F.sum("x").alias("n_pts"),
                 F.sum(F.col("x") * F.col("x")).alias("sum_sq"))
    num = (F.lit(q) * F.col("sum_sq")
           - F.col("n_pts") * F.col("n_pts"))
    chi2 = num.cast("double") / F.col("n_pts").cast("double")
    return agg.select(
        F.lit(q).cast("long").alias("n_quadrats"),
        "n_occupied", "n_pts", "sum_sq",
        num.alias("chi2_num"),
        F.round(chi2, 6).alias("chi2"),
        F.round(chi2 / float(q - 1), 6).alias("vmr"))


def _sql_quadrat(n: int) -> str:
    z, q = QUADRAT_Z, 1 << (2 * QUADRAT_Z)
    return f"""WITH {_pages_cte(n)},
{_sql_cell_counts(z)},
a AS (SELECT COUNT(*) AS n_occupied, CAST(SUM(x) AS BIGINT) AS n_pts,
             CAST(SUM(x * x) AS BIGINT) AS sum_sq
      FROM cl)
SELECT CAST({q} AS BIGINT) AS n_quadrats, n_occupied, n_pts, sum_sq,
       {q} * sum_sq - n_pts * n_pts AS chi2_num,
       ROUND(CAST({q} * sum_sq - n_pts * n_pts AS DOUBLE)
             / CAST(n_pts AS DOUBLE), 6) AS chi2,
       ROUND(CAST({q} * sum_sq - n_pts * n_pts AS DOUBLE)
             / CAST(n_pts AS DOUBLE) / {float(q - 1)!r}, 6) AS vmr
FROM a"""


# distance-decay annuli around the nearest city (exact meter cuts)
DECAY_BINS_M = (1_000, 2_000, 5_000, 10_000, 20_000, 50_000,
                100_000, 200_000, 500_000)


def q_city_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-decay profile of the web around cities: every page is
    assigned its nearest of the 40 city centers (the reverse_geocode
    monotone-kernel argmin — asin/sqrt once per point, zero joins) and
    an annulus bucket by exact integer-meter thresholds; output is
    pages per (city, annulus) — the urban-gravity decay curve web
    geography studies fit exponents to.

    Exactness: the per-point distance is meter-rounded to BIGINT (the
    engines' doubles are bit-identical, the reverse_geocode guarantee),
    bucket cuts are integer compares, counts exact.
    FULL SQL ORACLE (_sql_city_decay)."""
    pts = _points(spark, sf_dir)
    cand = F.array(*[
        F.struct(
            (F.pow(F.sin((F.radians(F.lit(cy)) - F.radians(F.col("lat"))) / 2), 2)
             + F.cos(F.radians(F.col("lat"))) * F.cos(F.radians(F.lit(cy)))
             * F.pow(F.sin((F.radians(F.lit(cx)) - F.radians(F.col("lon"))) / 2), 2)
             ).alias("h"),
            F.lit(i).alias("city_id"))
        for i, (cx, cy) in enumerate(CITY_CENTERS)])
    best = F.array_min(cand)
    d_m = F.round(F.lit(2.0 * EARTH_R) * F.asin(F.sqrt(best["h"])), 0).cast("long")
    bucket = F.lit(len(DECAY_BINS_M))
    for i in range(len(DECAY_BINS_M) - 1, -1, -1):
        bucket = F.when(d_m <= DECAY_BINS_M[i], F.lit(i)).otherwise(bucket)
    lab = pts.select(best["city_id"].alias("city_id"),
                     bucket.alias("bucket"), d_m.alias("d_m"))
    return (lab.groupBy("city_id", "bucket")
            .agg(F.count("*").alias("n_pages"),
                 F.sum("d_m").alias("sum_d_m")))


def _sql_city_decay(n: int) -> str:
    terms = []
    for i, (cx, cy) in enumerate(CITY_CENTERS):
        d = (f"2.0 * {EARTH_R} * ASIN(SQRT("
             f"POWER(SIN((RADIANS({cy!r}) - RADIANS(lat))/2), 2) + "
             f"COS(RADIANS(lat)) * COS(RADIANS({cy!r})) * "
             f"POWER(SIN((RADIANS({cx!r}) - RADIANS(lon))/2), 2)))")
        terms.append(f"({d}, {i})")
    lst = "[" + ", ".join(terms) + "]"
    cuts = " ".join(
        f"WHEN d_m <= {t} THEN {i}" for i, t in enumerate(DECAY_BINS_M))
    return f"""WITH {_pages_cte(n)},
lab AS (SELECT best[2] AS city_id,
               CAST(ROUND(best[1], 0) AS BIGINT) AS d_m
        FROM (SELECT list_aggregate({lst}, 'min') AS best FROM pages))
SELECT city_id,
       CASE {cuts} ELSE {len(DECAY_BINS_M)} END AS bucket,
       COUNT(*) AS n_pages, CAST(SUM(d_m) AS BIGINT) AS sum_d_m
FROM lab GROUP BY 1, 2"""


MIX_ALPHA_NOTE = "alpha=0.5 (sqrt temperature)"
MIX_BUDGET = 10_000  # docs per resampled epoch


def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting across document sources:
    temperature-resampling weights w_s ∝ n_s^0.5 (the multilingual /
    multi-source sqrt-temperature scheme of mT5/XLM-R data sampling)
    plus the integer per-epoch doc allocation for a 10k-doc budget.

    Exactness: n_docs/n_tokens are exact BIGINTs; the sqrt is
    quantized per source to integer micro-units BEFORE the cross-
    source total (a parallel double sum would be order-dependent —
    the same trick as the µdeg statistics), so the share division and
    the floor-divided allocation are engine-exact.

    Plan: one hash-agg to |sources| rows, broadcast total, no big-side
    shuffle beyond the agg.  FULL SQL ORACLE (_sql_source_mix)."""
    docs = _docs(spark, sf_dir)
    per = (docs.select("source", analysis.token_count(F.col("text")).alias("tok"))
           .groupBy("source")
           .agg(F.count("*").alias("n_docs"),
                F.sum("tok").alias("n_tokens")))
    s_q = F.round(F.sqrt(F.col("n_docs").cast("double")) * 1e6, 0).cast("long")
    per = per.withColumn("s_q", s_q)
    tot = per.agg(F.sum("s_q").alias("s_tot"))
    j = per.crossJoin(F.broadcast(tot))
    return j.select(
        "source", "n_docs", "n_tokens", "s_q", "s_tot",
        F.round(F.col("s_q").cast("double") / F.col("s_tot").cast("double"),
                9).alias("w"),
        F.expr(f"({MIX_BUDGET} * s_q) div s_tot").alias("epoch_docs"))


def _sql_source_mix() -> str:
    return f"""WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len({_sql_toks()})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1),
q AS (SELECT *, CAST(ROUND(SQRT(CAST(n_docs AS DOUBLE)) * 1e6, 0) AS BIGINT)
               AS s_q FROM per),
tot AS (SELECT CAST(SUM(s_q) AS BIGINT) AS s_tot FROM q)
SELECT source, n_docs, n_tokens, s_q, s_tot,
       ROUND(CAST(s_q AS DOUBLE) / CAST(s_tot AS DOUBLE), 9) AS w,
       ({MIX_BUDGET} * s_q) // s_tot AS epoch_docs
FROM q CROSS JOIN tot"""


SEQ_LEN = 2048       # packing window in whitespace tokens


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing audit: concat-and-split packing of each
    source's documents (ordered by doc_id) into fixed 2048-token
    training windows — the GPT-style "concatenate then chunk" loader —
    reporting per source the window count, the number of documents
    whose span crosses a window boundary (truncation victims), and the
    fill ratio of the final epoch.

    Exactness: per-doc token counts and the running prefix sum are
    exact BIGINTs (ROWS frame, doc_id total order); boundary crossing
    is pure floor-division arithmetic on non-negative ints; only the
    fill ratio is one fixed float division.

    Plan: ONE exchange+sort per source partition for the running sum
    (windows parallel across sources), then a hash agg — the same
    shape as rolling_stats/stay_points.  FULL SQL ORACLE
    (_sql_seq_pack)."""
    docs = _docs(spark, sf_dir)
    t = docs.select("source", "doc_id",
                    analysis.token_count(F.col("text"))
                    .cast("long").alias("tok"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    t = t.withColumn("cum", F.sum("tok").over(w))
    # doc spans [cum-tok, cum) in the concatenated stream; it crosses a
    # window boundary iff its first and last token land in different
    # SEQ_LEN windows (floor division on non-negative ints)
    crosses = ((F.col("tok") > 0)
               & (F.expr(f"(cum - tok) div {SEQ_LEN}")
                  != F.expr(f"(cum - 1) div {SEQ_LEN}")))
    per = (t.select("source", "tok", "cum", crosses.alias("crosses"))
           .groupBy("source")
           .agg(F.count("*").alias("n_docs"),
                F.sum("tok").alias("n_tokens"),
                F.sum(F.when(F.col("tok") == 0, 1).otherwise(0))
                .cast("long").alias("n_empty"),
                F.sum(F.col("crosses").cast("long")).alias("n_boundary")))
    n_win = F.expr(f"(n_tokens + {SEQ_LEN - 1}) div {SEQ_LEN}")
    return per.select(
        "source", "n_docs", "n_tokens", "n_empty", "n_boundary",
        n_win.alias("n_windows"),
        F.round(F.col("n_tokens").cast("double")
                / (float(SEQ_LEN) * n_win.cast("double")), 6)
        .alias("fill_ratio"))


def _sql_seq_pack() -> str:
    return f"""WITH t AS (
  SELECT source, doc_id, CAST(len({_sql_toks()}) AS BIGINT) AS tok
  FROM documents),
c AS (SELECT source, tok,
             CAST(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM t),
f AS (SELECT source, tok, cum,
             (tok > 0 AND (cum - tok) // {SEQ_LEN} <> (cum - 1) // {SEQ_LEN})
               AS crosses
      FROM c),
per AS (SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(tok) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN tok = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_empty,
               CAST(SUM(CASE WHEN crosses THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_boundary
        FROM f GROUP BY 1)
SELECT source, n_docs, n_tokens, n_empty, n_boundary,
       (n_tokens + {SEQ_LEN - 1}) // {SEQ_LEN} AS n_windows,
       ROUND(CAST(n_tokens AS DOUBLE)
             / ({float(SEQ_LEN)!r} * CAST((n_tokens + {SEQ_LEN - 1})
                                          // {SEQ_LEN} AS DOUBLE)), 6)
         AS fill_ratio
FROM per"""


ENTROPY_Z = 4        # domain footprint entropy lattice


def q_domain_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geographic concentration of each domain: Shannon entropy of its
    page distribution over z4 cells (0 nats = single-cell domain,
    ln(n_cells) = perfectly spread) — the spatial-diversity metric
    next to domain_gyration's metric radius.

    Exactness: the order-dependent float sum Σ c·ln(c) is avoided by
    quantizing each cell's term to integer micro-nats BEFORE the
    per-domain BIGINT sum (the µdeg discipline applied to logs);
    entropy is then ONE fixed float expression over exact ints,
    H = ln(N) - (Σq/1e6)/N.  LN bit-parity across engines is the
    lang_scan precedent.

    Plan: one hash-agg to (domain, cell), one to domain — no joins.
    FULL SQL ORACLE (_sql_domain_entropy)."""
    pts = _points(spark, sf_dir)
    dc = (pts.select("domain",
                     cells.tile_x(F.col("lon"), ENTROPY_Z).alias("tx"),
                     cells.tile_y(F.col("lat"), ENTROPY_Z).alias("ty"))
          .groupBy("domain", "tx", "ty").agg(F.count("*").alias("c")))
    eq = F.round(F.col("c").cast("double")
                 * F.log(F.col("c").cast("double")) * 1e6, 0).cast("long")
    per = (dc.select("domain", "c", eq.alias("e_q"))
           .groupBy("domain")
           .agg(F.count("*").alias("n_cells"),
                F.sum("c").alias("n_pages"),
                F.sum("e_q").alias("s_eq")))
    h = (F.log(F.col("n_pages").cast("double"))
         - (F.col("s_eq").cast("double") / 1e6)
         / F.col("n_pages").cast("double"))
    return per.select("domain", "n_cells", "n_pages", "s_eq",
                      F.round(h, 6).alias("entropy_nats"))


def _sql_domain_entropy(n: int) -> str:
    z = ENTROPY_Z
    return f"""WITH {_pages_cte(n)},
dc AS (SELECT domain, {cells.tile_x_sql('lon', z)} AS tx,
              {cells.tile_y_sql('lat', z)} AS ty, COUNT(*) AS c
       FROM pages GROUP BY 1, 2, 3),
q AS (SELECT domain, c,
             CAST(ROUND(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE)) * 1e6, 0)
                  AS BIGINT) AS e_q
      FROM dc),
per AS (SELECT domain, COUNT(*) AS n_cells, CAST(SUM(c) AS BIGINT) AS n_pages,
               CAST(SUM(e_q) AS BIGINT) AS s_eq
        FROM q GROUP BY 1)
SELECT domain, n_cells, n_pages, s_eq,
       ROUND(LN(CAST(n_pages AS DOUBLE))
             - (CAST(s_eq AS DOUBLE) / 1e6) / CAST(n_pages AS DOUBLE), 6)
         AS entropy_nats
FROM per"""


GINI_Z = 6           # tile-inequality lattice


def q_tile_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of page mass across occupied z6 tiles — the
    standard inequality index (how concentrated is the web's geography)
    computed by the sorted-rank identity
    G = (2*Σ i*x_(i) - (n+1)*Σx) / (n*Σx).

    Exactness: ranks come from a TOTAL order (x, tx, ty) — the i*x sum
    is invariant under tie permutations, and the numerator/denominator
    are exact BIGINTs; G is one float division.  The rank window runs
    over the AGGREGATED lattice (bounded by occupied cells, not
    corpus rows), the same justification as hotspot_trend's per-tile
    series.  FULL SQL ORACLE (_sql_tile_gini)."""
    pts = _points(spark, sf_dir)
    cl = (pts.select(cells.tile_x(F.col("lon"), GINI_Z).alias("tx"),
                     cells.tile_y(F.col("lat"), GINI_Z).alias("ty"))
          .groupBy("tx", "ty").agg(F.count("*").alias("x")))
    w = Window.orderBy("x", "tx", "ty")
    r = cl.withColumn("i", F.row_number().over(w))
    agg = r.agg(F.count("*").alias("n_cells"),
                F.sum("x").alias("n_pages"),
                F.sum(F.col("i") * F.col("x")).alias("s_ix"))
    num = (F.lit(2) * F.col("s_ix")
           - (F.col("n_cells") + 1) * F.col("n_pages"))
    return agg.select(
        "n_cells", "n_pages", "s_ix", num.alias("gini_num"),
        F.round(num.cast("double")
                / (F.col("n_cells").cast("double")
                   * F.col("n_pages").cast("double")), 6).alias("gini"))


def _sql_tile_gini(n: int) -> str:
    z = GINI_Z
    return f"""WITH {_pages_cte(n)},
{_sql_cell_counts(z)},
r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, tx, ty) AS i FROM cl),
a AS (SELECT COUNT(*) AS n_cells, CAST(SUM(x) AS BIGINT) AS n_pages,
             CAST(SUM(i * x) AS BIGINT) AS s_ix
      FROM r)
SELECT n_cells, n_pages, s_ix,
       2 * s_ix - (n_cells + 1) * n_pages AS gini_num,
       ROUND(CAST(2 * s_ix - (n_cells + 1) * n_pages AS DOUBLE)
             / (CAST(n_cells AS DOUBLE) * CAST(n_pages AS DOUBLE)), 6)
         AS gini
FROM a"""


ZIPF_K = 1000        # ranks fitted in the Zipf regression


def _loglog_fit(agg: DataFrame) -> DataFrame:
    """Least-squares slope/intercept in log-log space from the exact
    quantized sums (n, su, sv, suuq, suvq) — micro-log units, products
    div-quantized per row before summing (the SDE discipline applied
    to logarithms), so the assembly is ONE fixed float expression over
    exact BIGINTs in both engines."""
    nd = F.col("n_pts").cast("double")
    num = (nd * (F.col("suvq").cast("double") * 1e6)
           - F.col("su").cast("double") * F.col("sv").cast("double"))
    den = (nd * (F.col("suuq").cast("double") * 1e6)
           - F.col("su").cast("double") * F.col("su").cast("double"))
    m = num / den
    b = ((F.col("sv").cast("double") - m * F.col("su").cast("double"))
         / nd / 1e6)
    return agg.select(
        "*",
        F.when(F.col("n_pts") > 1, F.round(m, 6)).alias("slope"),
        F.when(F.col("n_pts") > 1, F.round(b, 6)).alias("intercept"))


def _loglog_sums(pts: DataFrame) -> DataFrame:
    """(u, v) integer micro-log pairs -> one row of exact fit sums."""
    return pts.agg(
        F.count("*").alias("n_pts"),
        F.sum("u").alias("su"), F.sum("v").alias("sv"),
        F.sum(F.expr("(u * u) div 1000000")).alias("suuq"),
        F.sum(F.expr("(u * v) div 1000000")).alias("suvq"))


# SQL twin of `_loglog_sums` over uv(u, v), as the CTE `a`.
_SQL_FIT_SUMS = """\
a AS (SELECT COUNT(*) AS n_pts, CAST(SUM(u) AS BIGINT) AS su,
             CAST(SUM(v) AS BIGINT) AS sv,
             CAST(SUM((u * u) // 1000000) AS BIGINT) AS suuq,
             CAST(SUM((u * v) // 1000000) AS BIGINT) AS suvq
      FROM uv)"""


_SQL_FIT = """
       CASE WHEN n_pts > 1 THEN ROUND(
         (CAST(n_pts AS DOUBLE) * (CAST(suvq AS DOUBLE) * 1e6)
          - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
         / (CAST(n_pts AS DOUBLE) * (CAST(suuq AS DOUBLE) * 1e6)
            - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)), 6) END AS slope,
       CASE WHEN n_pts > 1 THEN ROUND(
         (CAST(sv AS DOUBLE)
          - ((CAST(n_pts AS DOUBLE) * (CAST(suvq AS DOUBLE) * 1e6)
              - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
             / (CAST(n_pts AS DOUBLE) * (CAST(suuq AS DOUBLE) * 1e6)
                - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)))
            * CAST(su AS DOUBLE))
         / CAST(n_pts AS DOUBLE) / 1e6, 6) END AS intercept"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus token-frequency curve: regress
    ln(frequency) on ln(rank) over the top-1000 tokens (deterministic
    (freq desc, token) total order) — the exponent web-corpus studies
    report (~ -1 for natural language).

    Exactness: ranks and frequencies are exact; both logs are
    quantized to integer micro-nats per row and the cross products
    div-quantized BEFORE the BIGINT sums, so the least-squares
    assembly (_loglog_fit) is engine-exact.  The rank window runs
    over 1000 rows only (post-TakeOrdered).

    FULL SQL ORACLE (_sql_zipf_fit)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(analysis.tokens(F.col("text"))).alias("tok"))
    top = (toks.groupBy("tok").agg(F.count("*").alias("cnt"))
           .orderBy(F.col("cnt").desc(), "tok").limit(ZIPF_K))
    w = Window.orderBy(F.col("cnt").desc(), "tok")
    r = top.withColumn("rank", F.row_number().over(w))
    uv = r.select(
        F.round(F.log(F.col("rank").cast("double")) * 1e6, 0)
        .cast("long").alias("u"),
        F.round(F.log(F.col("cnt").cast("double")) * 1e6, 0)
        .cast("long").alias("v"))
    return _loglog_fit(_loglog_sums(uv))


def _sql_zipf_fit() -> str:
    return f"""WITH tk AS (
  SELECT unnest({_sql_toks()}) AS tok FROM documents),
cnts AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY 1
         ORDER BY cnt DESC, tok LIMIT {ZIPF_K}),
rk AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank
       FROM cnts),
uv AS (SELECT CAST(ROUND(LN(CAST(rank AS DOUBLE)) * 1e6, 0) AS BIGINT) AS u,
              CAST(ROUND(LN(CAST(cnt AS DOUBLE)) * 1e6, 0) AS BIGINT) AS v
       FROM rk),
{_SQL_FIT_SUMS}
SELECT n_pts, su, sv, suuq, suvq,{_SQL_FIT}
FROM a"""


def q_degree_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law fit of the domain link graph's out-degree
    distribution: regress ln(#nodes with degree d) on ln(d) over the
    DISTINCT-edge graph — the scale-free-web exponent (Barabasi-Albert
    style analyses report ~ -2..-3 on real webgraphs).

    Same exact quantized-log least squares as zipf_fit; the degree
    histogram is tiny (distinct degree values), everything upstream is
    exact hash-aggs.  FULL SQL ORACLE (_sql_degree_fit)."""
    edges = _domain_links(spark, sf_dir).distinct()
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    dist = deg.groupBy("d").agg(F.count("*").alias("n_d"))
    uv = dist.select(
        F.round(F.log(F.col("d").cast("double")) * 1e6, 0)
        .cast("long").alias("u"),
        F.round(F.log(F.col("n_d").cast("double")) * 1e6, 0)
        .cast("long").alias("v"))
    stats = deg.agg(F.count("*").alias("n_nodes"),
                    F.sum("d").alias("n_edges"))
    return (_loglog_fit(_loglog_sums(uv))
            .crossJoin(F.broadcast(stats))
            .select("n_pts", "su", "sv", "suuq", "suvq",
                    "n_nodes", "n_edges", "slope", "intercept"))


def _sql_degree_fit(n: int) -> str:
    return f"""WITH {_links_cte(n)},
e AS (SELECT DISTINCT src, dst FROM links),
deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
dist AS (SELECT d, COUNT(*) AS n_d FROM deg GROUP BY 1),
uv AS (SELECT CAST(ROUND(LN(CAST(d AS DOUBLE)) * 1e6, 0) AS BIGINT) AS u,
              CAST(ROUND(LN(CAST(n_d AS DOUBLE)) * 1e6, 0) AS BIGINT) AS v
       FROM dist),
{_SQL_FIT_SUMS},
st AS (SELECT COUNT(*) AS n_nodes, CAST(SUM(d) AS BIGINT) AS n_edges
       FROM deg)
SELECT n_pts, su, sv, suuq, suvq, n_nodes, n_edges,{_SQL_FIT}
FROM a CROSS JOIN st"""


PQ_M = 8             # PQ subspaces (64-dim -> 8 x 8)
PQ_CODES = 16        # codes per subspace codebook


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k over the embeddings table —
    the memory-compression ANN scale path (64 floats -> 8 bytes per
    vector) next to ivf_topk's list-pruning path.  Deterministic
    one-pass codebooks (the IVF trainer), 8dp-rounded argmin coding
    with code-id tie-break, and an EXACT integer-quantized LUT sum so
    the top-k cut is engine-independent.  FULL SQL ORACLE
    (_sql_pq_topk) — see text/similarity.py pq_topk."""
    from proj_spark.text.similarity import pq_topk
    emb, query = _embeddings_query(spark, sf_dir)
    res = pq_topk(emb, query, EMB_K, dim=64, m=PQ_M, n_codes=PQ_CODES)
    return res.select(F.col("vec_id").cast("long").alias("vec_id"),
                      "adc_q", "cosine")


def _sql_pq_topk() -> str:
    dim, m, w = 64, PQ_M, 64 // PQ_M
    mean_terms = ",\n          ".join(
        f"ROUND(CAST(SUM(CAST(v[{i + 1}] AS DECIMAL(27,12))) AS DOUBLE)"
        f" / COUNT(*), 6)" for i in range(dim))

    def sqd(a: str, b: str, s: int) -> str:
        return " + ".join(
            f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])"
            for i in range(s * w + 1, s * w + w + 1))

    assign = "\n  UNION ALL\n".join(
        f"  SELECT e.vec_id, c.cell, {s} AS m,"
        f" ROUND({sqd('e.v', 'c.c', s)}, 8) AS d"
        f" FROM emb e CROSS JOIN cent c" for s in range(m))
    lut = "\n  UNION ALL\n".join(
        f"  SELECT c.cell, {s} AS m,"
        f" CAST(ROUND(({sqd('qv', 'c.c', s)}) * 1e8, 0) AS BIGINT) AS lut_q"
        f" FROM cent c, q" for s in range(m))
    cos = ("ROUND(list_dot_product({a}, {b}) / "
           "(sqrt(list_dot_product({a}, {a})) * "
           "sqrt(list_dot_product({b}, {b}))), 8)")
    return f"""WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cent AS (
  SELECT vec_id % {PQ_CODES} AS cell,
         [{mean_terms}] AS c
  FROM emb GROUP BY 1
), q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
assign AS (
{assign}
), best AS (
  SELECT vec_id, m, cell FROM (
    SELECT vec_id, m, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m
                              ORDER BY d, cell) AS rn
    FROM assign) WHERE rn = 1
), lut AS (
{lut}
), adc AS (
  SELECT vec_id, CAST(SUM(lut_q) AS BIGINT) AS adc_q
  FROM best JOIN lut USING (m, cell) GROUP BY 1
), top AS (
  SELECT vec_id, adc_q FROM adc ORDER BY adc_q, vec_id LIMIT {EMB_K}
)
SELECT CAST(t.vec_id AS BIGINT) AS vec_id, t.adc_q,
       {cos.format(a='e.v', b='qv')} AS cosine
FROM top t JOIN emb e USING (vec_id), q"""


OD_Z = 4             # OD matrix resolution: z4 tiles


def q_od_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination matrix: consecutive crawl hops per domain
    rolled up to (z4 tile -> z4 tile) flows with hop counts and
    distinct moving domains — the mobility-style OD aggregation.  One
    window per domain path (LEAD), one hash agg; self-flows (same
    tile) excluded so the matrix shows movement, not dwell.

    FULL SQL ORACLE (_sql_od_flows): same LEAD + rollup in DuckDB."""
    pts = _points(spark, sf_dir)
    t = pts.select("domain", _page_seq().alias("seq"),
                   cells.tile_x(F.col("lon"), OD_Z).alias("tx"),
                   cells.tile_y(F.col("lat"), OD_Z).alias("ty"))
    w = Window.partitionBy("domain").orderBy("seq")
    hops = (t.select("domain", "tx", "ty",
                     F.lead("tx").over(w).alias("tx2"),
                     F.lead("ty").over(w).alias("ty2"))
            .where(F.col("tx2").isNotNull()
                   & ~((F.col("tx") == F.col("tx2"))
                       & (F.col("ty") == F.col("ty2")))))
    return (hops.groupBy(F.col("tx").alias("from_x"),
                         F.col("ty").alias("from_y"),
                         F.col("tx2").alias("to_x"),
                         F.col("ty2").alias("to_y"))
            .agg(F.count("*").alias("n_hops"),
                 F.countDistinct("domain").alias("n_domains")))


def _sql_od_flows(n: int) -> str:
    z = OD_Z
    return f"""WITH {_pages_cte(n)},
t AS (SELECT domain, i AS seq,
             {cells.tile_x_sql('lon', z)} AS tx,
             {cells.tile_y_sql('lat', z)} AS ty
      FROM pages),
hops AS (SELECT domain, tx, ty,
                LEAD(tx) OVER (PARTITION BY domain ORDER BY seq) AS tx2,
                LEAD(ty) OVER (PARTITION BY domain ORDER BY seq) AS ty2
         FROM t)
SELECT tx AS from_x, ty AS from_y, tx2 AS to_x, ty2 AS to_y,
       COUNT(*) AS n_hops, COUNT(DISTINCT domain) AS n_domains
FROM hops
WHERE tx2 IS NOT NULL AND NOT (tx = tx2 AND ty = ty2)
GROUP BY 1, 2, 3, 4"""


def q_gearys_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Geary's C spatial autocorrelation of page density over
    the occupied z6 rook lattice — the local-contrast complement to
    Moran's I (same exact-integer sufficient statistics, one fixed
    float assembly mirrored by the oracle; see
    spatial/stats.py gearys_c)."""
    from proj_spark.spatial import stats as spatial_stats
    pts = _points(spark, sf_dir)
    return spatial_stats.gearys_c(spatial_stats.cell_counts(pts, MORANS_Z))


def _sql_gearys_c(n: int) -> str:
    z = MORANS_Z
    xb = "(CAST(t_sum AS DOUBLE) / n_cells)"
    den = f"s_sq - ((n_cells * {xb}) * {xb})"
    return f"""WITH {_pages_cte(n)},
{_sql_cell_counts(z)},
pr AS (SELECT a.x AS xi, b.x AS xj
       FROM cl a JOIN cl b
         ON (b.tx = a.tx + 1 AND b.ty = a.ty)
         OR (b.tx = a.tx - 1 AND b.ty = a.ty)
         OR (b.tx = a.tx AND b.ty = a.ty + 1)
         OR (b.tx = a.tx AND b.ty = a.ty - 1)),
node AS (SELECT COUNT(*) AS n_cells, CAST(SUM(x) AS BIGINT) AS t_sum,
                CAST(SUM(x * x) AS BIGINT) AS s_sq FROM cl),
edge AS (SELECT COUNT(*) AS w_pairs,
                CAST(SUM((xi - xj) * (xi - xj)) AS BIGINT) AS s_diff2
         FROM pr)
SELECT n_cells, w_pairs, t_sum, s_sq, s_diff2,
       CASE WHEN w_pairs > 0 AND ({den}) != 0.0
            THEN ROUND(((CAST(n_cells - 1 AS DOUBLE) / (2.0 * w_pairs))
                        * s_diff2) / ({den}), 6)
       END AS gearys_c
FROM node, edge"""


def _sql_morans_i(n: int) -> str:
    z = MORANS_Z
    xb = "(CAST(t_sum AS DOUBLE) / n_cells)"
    num = f"(s_pairs - ({xb} * s_i)) + ((w_pairs * {xb}) * {xb})"
    den = f"s_sq - ((n_cells * {xb}) * {xb})"
    return f"""WITH {_pages_cte(n)},
{_sql_cell_counts(z)},
pr AS (SELECT a.x AS xi, b.x AS xj
       FROM cl a JOIN cl b
         ON (b.tx = a.tx + 1 AND b.ty = a.ty)
         OR (b.tx = a.tx - 1 AND b.ty = a.ty)
         OR (b.tx = a.tx AND b.ty = a.ty + 1)
         OR (b.tx = a.tx AND b.ty = a.ty - 1)),
node AS (SELECT COUNT(*) AS n_cells, CAST(SUM(x) AS BIGINT) AS t_sum,
                CAST(SUM(x * x) AS BIGINT) AS s_sq FROM cl),
edge AS (SELECT COUNT(*) AS w_pairs, CAST(SUM(xi + xj) AS BIGINT) AS s_i,
                CAST(SUM(xi * xj) AS BIGINT) AS s_pairs FROM pr)
SELECT n_cells, w_pairs, t_sum, s_sq, s_i, s_pairs,
       CASE WHEN w_pairs > 0 AND ({den}) != 0.0
            THEN ROUND(((CAST(n_cells AS DOUBLE) / w_pairs) * ({num})) / ({den}), 6)
       END AS morans_i
FROM node, edge"""


HEATMAP_Z = 8


def _kernel_values_sql() -> str:
    from proj_spark.spatial.stats import KERNEL_3X3
    vals = ", ".join(f"({dx}, {dy}, {w})" for dx, dy, w in KERNEL_3X3)
    return f"(VALUES {vals}) AS o(dx, dy, w)"


def q_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 hottest z8 tiles after 3x3 binomial raster smoothing —
    the KDE-style heatmap layer (see spatial/stats.kernel_smooth:
    scatter-explode of the TILE table, integer weights, one shuffle)."""
    from proj_spark.spatial import stats as spatial_stats
    pts = _points(spark, sf_dir)
    sm = spatial_stats.kernel_smooth(
        spatial_stats.cell_counts(pts, HEATMAP_Z), HEATMAP_Z)
    return (sm.orderBy(F.col("density").desc(), "tx", "ty").limit(100)
            .select("tx", "ty", "n_pages", "density"))


def _sql_heatmap(n: int) -> str:
    z = HEATMAP_Z
    side = 1 << z
    return f"""WITH {_pages_cte(n)},
{_sql_cell_counts(z)},
sc AS (SELECT tx + dx AS tx2, ty + dy AS ty2, x * w AS wx,
              CASE WHEN dx = 0 AND dy = 0 THEN x ELSE 0 END AS own
       FROM cl CROSS JOIN {_kernel_values_sql()})
SELECT tx2 AS tx, ty2 AS ty,
       CAST(SUM(own) AS BIGINT) AS n_pages,
       CAST(SUM(wx) AS BIGINT) AS density
FROM sc
WHERE tx2 >= 0 AND tx2 < {side} AND ty2 >= 0 AND ty2 < {side}
GROUP BY 1, 2
ORDER BY density DESC, tx, ty LIMIT 100"""


DENSE_Z = 8


def _dense_min(n: int) -> int:
    """Density threshold scales with corpus size (pages per z8 tile of
    uniform noise grows linearly with n, so a FIXED threshold would at
    some scale mark the whole world dense and fuse it into one lattice
    component of huge diameter — the classic mis-parameterized DBSCAN).
    n/12000 ~= 6x the expected uniform-noise tile count, so only true
    city clusters qualify at every sf; floor of 5 keeps the sf0.01
    oracle scale unchanged."""
    return max(5, n // 12000)


def q_dense_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-DBSCAN-style clustering: connected components of dense z8
    tiles (>= DENSE_MIN pages) under rook adjacency, one row per
    cluster with size, page total and bbox.

    Plan: the iterative hash-to-min + pointer-jumping CC of
    text/components.py (O(log diameter) rounds, two key-shuffles per
    round, lineage truncated per round) runs on the DENSE-TILE graph —
    at 100 TB the tile table is already the aggregated small relation,
    so CC cost is independent of the point count.  The oracle computes
    the same labels independently via a recursive-CTE transitive
    closure (min reachable id).
    """
    from proj_spark.spatial import stats as spatial_stats
    from proj_spark.text.components import connected_components
    side = 1 << DENSE_Z
    pts = _points(spark, sf_dir)
    dense = (spatial_stats.cell_counts(pts, DENSE_Z)
             .where(F.col("x") >= _dense_min(_n_pages(sf_dir)))
             .withColumn("id", F.col("tx") * side + F.col("ty")))
    off = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in ((1, 0), (0, 1))])
    l = (dense.withColumn("_o", F.explode(off))
         .select((F.col("tx") + F.col("_o.dx")).alias("ntx"),
                 (F.col("ty") + F.col("_o.dy")).alias("nty"),
                 F.col("id").alias("src")))
    r = dense.select(F.col("tx").alias("ntx"), F.col("ty").alias("nty"),
                     F.col("id").alias("dst"))
    edges = l.join(r, ["ntx", "nty"]).select("src", "dst")
    cc = connected_components(edges)
    lab = (dense.join(cc, "id", "left")
           .withColumn("comp_id", F.coalesce("comp", "id")))
    return (lab.groupBy("comp_id").agg(
        F.count("*").alias("n_cells"),
        F.sum("x").cast("long").alias("n_pages"),
        F.min("tx").alias("tx_min"), F.max("tx").alias("tx_max"),
        F.min("ty").alias("ty_min"), F.max("ty").alias("ty_max")))


def _sql_dense_clusters(n: int) -> str:
    z, side = DENSE_Z, 1 << DENSE_Z
    return f"""WITH RECURSIVE {_pages_cte(n)},
{_sql_cell_counts(z)},
dense AS (SELECT tx * {side} + ty AS id, tx, ty, x
          FROM cl WHERE x >= {_dense_min(n)}),
e AS (SELECT a.id AS src, b.id AS dst
      FROM dense a JOIN dense b
        ON (b.tx = a.tx + 1 AND b.ty = a.ty)
        OR (b.tx = a.tx - 1 AND b.ty = a.ty)
        OR (b.tx = a.tx AND b.ty = a.ty + 1)
        OR (b.tx = a.tx AND b.ty = a.ty - 1)),
reach AS (SELECT id AS src, id AS dst FROM dense
          UNION
          SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst),
lab AS (SELECT src AS id, MIN(dst) AS comp_id FROM reach GROUP BY 1)
SELECT CAST(comp_id AS BIGINT) AS comp_id, COUNT(*) AS n_cells,
       CAST(SUM(x) AS BIGINT) AS n_pages,
       MIN(tx) AS tx_min, MAX(tx) AS tx_max,
       MIN(ty) AS ty_min, MAX(ty) AS ty_max
FROM dense JOIN lab USING (id) GROUP BY 1"""


HEX_SIZE = 0.75   # hexagon circumradius, degrees


def q_hex_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 densest hexagonal cells (H3-style axial hex binning).

    The hex grid is the north rule's "urban H3 hexes" axis: pointy-top
    axial hexagons over the plate-carree plane, encoded with the pure
    expressions of spatial/hexgrid.py (cube rounding, zero UDFs, whole-
    stage codegen).  At 100 TB this is one map-side-combined hash agg;
    the skewed urban hexes are exactly what AQE/salting handles in
    q_domain_cells.  Oracle replays the identical FLOOR(+0.5) cube
    rounding in DuckDB — integer cell ids, bit-exact.
    """
    from proj_spark.spatial import hexgrid
    pts = _points(spark, sf_dir)
    q, r = hexgrid.hex_qr(F.col("lon"), F.col("lat"), HEX_SIZE)
    return (pts.select(q.alias("hq"), r.alias("hr"), "domain")
            .groupBy("hq", "hr")
            .agg(F.count("*").alias("n_pages"),
                 F.countDistinct("domain").alias("n_domains"))
            .orderBy(F.col("n_pages").desc(), "hq", "hr")
            .limit(100))


def _sql_hex_density(n: int) -> str:
    from proj_spark.spatial import hexgrid
    q, r = hexgrid.hex_qr_sql("lon", "lat", HEX_SIZE)
    return f"""WITH {_pages_cte(n)}
SELECT {q} AS hq, {r} AS hr,
       COUNT(*) AS n_pages, COUNT(DISTINCT domain) AS n_domains
FROM pages
GROUP BY 1, 2
ORDER BY n_pages DESC, hq, hr
LIMIT 100"""


PR_ITERS = 5
PR_TOPK = 50


def q_pagerank_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain authority: integer-quantized PageRank over the domain link
    graph, top-50 by score.

    The link graph is extracted deterministically from each page's url
    (the stand-in for href extraction from `html`): page i on domain d
    links to domains (h//131) % N and (h//17) % N with h the page's
    synthesis hash — so the oracle can regenerate identical edges.  All
    rank arithmetic is exact BIGINT (proj_spark/graph.py): Spark's
    partial-agg reorderings cannot perturb a single unit, making the
    unrolled-CTE DuckDB oracle bit-exact.  One edge shuffle total; each
    of the 5 rounds is a broadcast join + hash agg (see graph.py for the
    1e8-node co-partitioned variant).
    """
    from proj_spark.graph import pagerank
    edges = (_domain_links(spark, sf_dir)
             .groupBy("src", "dst").agg(F.count("*").alias("w")))
    nodes = spark.range(N_DOMAINS).select(F.col("id").alias("node"))
    pr = pagerank(edges, nodes, iters=PR_ITERS)
    return (pr.select(F.col("node").alias("domain"), "score")
            .orderBy(F.col("score").desc(), "domain").limit(PR_TOPK))


def _domain_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw directed domain link edges (src, dst) — the ONE Spark-side
    definition of "the link graph" shared by pagerank/BFS/triangles
    (page i on domain d links to (h//131)%N and (h//17)%N with h the
    synthesis hash; the SQL oracles re-derive it independently)."""
    pts = _points(spark, sf_dir)
    raw = pts.select(
        F.col("domain").cast("long").alias("src"),
        ((F.regexp_extract("url", r"page/(\d+)", 1).cast("long")
          * F.lit(2654435761)) % F.lit(2147483648)).alias("h"))
    return (raw.select("src", F.explode(F.array(
        F.expr(f"(h div 131) % {N_DOMAINS}"),
        F.expr(f"(h div 17) % {N_DOMAINS}"))).alias("dst"))
        .where(F.col("src") != F.col("dst")))


BFS_SEED_MOD = 97    # seeds: domains divisible by 97 (11 of 1000)
BFS_DEPTH = 4


def q_domain_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph reachability: exact minimum hop count from a seed
    domain set over the extracted domain link graph, depth-bounded
    level-synchronous BFS (one frontier join + anti-join per round,
    lineage truncated per level — see proj_spark/graph.py bfs_hops).

    FULL SQL ORACLE (_sql_domain_hops): a recursive CTE with UNION
    dedup on (node, hops) pairs and a MIN(h) rollup — a different
    evaluation strategy over the same deterministic edge set."""
    from proj_spark.graph import bfs_hops
    edges = _domain_links(spark, sf_dir)
    seeds = (spark.range(N_DOMAINS).select(F.col("id").alias("node"))
             .where(F.col("node") % BFS_SEED_MOD == 0))
    out = bfs_hops(edges, seeds, BFS_DEPTH)
    return out.select(F.col("node").alias("domain"), "hops")


def _sql_domain_hops(n: int) -> str:
    return f"""WITH RECURSIVE {_links_cte(n)},
e AS (SELECT DISTINCT src, dst FROM links),
reach(node, h) AS (
  SELECT i AS node, 0 AS h
  FROM range(0, {N_DOMAINS}) t(i) WHERE i % {BFS_SEED_MOD} = 0
  UNION
  SELECT e.dst, r.h + 1 FROM reach r JOIN e ON e.src = r.node
  WHERE r.h < {BFS_DEPTH}
)
SELECT CAST(node AS BIGINT) AS domain, CAST(MIN(h) AS BIGINT) AS hops
FROM reach GROUP BY 1"""


TRI_SAMPLE_MOD = 8   # DOULION edge-sample rate p = 1/8


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain triangle counts of the undirected link graph — the
    clustering/motif primitive behind community and spam detection.
    Degree-ORIENTED wedge generation (proj_spark/graph.py
    triangle_counts): every wedge materializes at its lowest-degree
    corner, so hub domains never explode a quadratic hot key.

    The synthetic domain graph approaches COMPLETENESS as the corpus
    grows (every page adds 2 pseudo-random edges over a fixed 1000
    domains), so the query applies DOULION deterministic-hash edge
    sampling at p = 1/8 — counts are exact on the
    sampled graph, count/p^3 estimates the full graph, and wedge work
    drops by p^2 (real domain graphs are sparse; the sampling lever is
    still how you bound hub wedges at 10^12 pages).

    FULL SQL ORACLE (_sql_triangles): the plain canonical a<b<c
    three-way self-join — no degree ranking — over the SAME sampled
    edge set, so agreement proves the orientation scheme counts every
    triangle exactly once."""
    from proj_spark.graph import triangle_counts
    out = triangle_counts(_domain_links(spark, sf_dir),
                          sample_mod=TRI_SAMPLE_MOD)
    return out.select(F.col("node").alias("domain"),
                      F.col("n_tri").cast("long").alias("n_tri"))


def _sql_triangles(n: int) -> str:
    return f"""WITH {_links_cte(n)},
{_sql_und(TRI_SAMPLE_MOD)},
{_SQL_TRI}
SELECT CAST(node AS BIGINT) AS domain, CAST(COUNT(*) AS BIGINT) AS n_tri
FROM (SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri)
GROUP BY 1"""


def _sql_pagerank_domains(n: int) -> str:
    from proj_spark.graph import pagerank_sql
    edges_cte = f"""{_links_cte(n)},
e AS (SELECT src, dst, COUNT(*) AS w FROM links GROUP BY 1, 2)"""
    teleport_cte = (f"teleport AS (SELECT range AS node "
                    f"FROM range(0, {N_DOMAINS}))")
    body = pagerank_sql(edges_cte, teleport_cte, iters=PR_ITERS)
    return (body.replace("SELECT node, score FROM",
                         "SELECT node AS domain, score FROM")
            + f"\nORDER BY score DESC, domain LIMIT {PR_TOPK}")


RECT_MOD = 101      # every 101st page becomes a viewport rectangle
RECT_CELL = 2.0     # PBSM grid cell (deg) >= max rect extent (1.2)


def _rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viewport rectangles derived from every 101st page: center at the
    page point, half-extents 0.2..0.6 x 0.15..0.35 deg from the page
    hash (the oracle regenerates them by the same integer arithmetic)."""
    pts = _points(spark, sf_dir)
    base = pts.select(
        F.regexp_extract("url", r"page/(\d+)", 1).cast("long").alias("id"),
        "lon", "lat").where(F.col("id") % RECT_MOD == 0)
    h = (F.col("id") * F.lit(2654435761)) % F.lit(2147483648)
    rx = F.lit(0.2) + (h % F.lit(5)).cast("double") * F.lit(0.1)
    ry = F.lit(0.15) + (h % F.lit(3)).cast("double") * F.lit(0.1)
    return base.select(
        "id",
        (F.col("lon") - rx).alias("xmin"), (F.col("lon") + rx).alias("xmax"),
        (F.col("lat") - ry).alias("ymin"), (F.col("lat") + ry).alias("ymax"))


def q_rect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extent-overlay join: all intersecting viewport-rectangle pairs
    with exact intersection areas, via the PBSM grid join of
    spatial/overlay.py (bounded 4-cell explode, one cell-hash shuffle,
    reference-point dedup — no distinct).  The DuckDB oracle is a
    direct theta join, a different algorithm entirely, so agreement
    validates binning completeness AND the dedup rule."""
    from proj_spark.spatial.overlay import rect_self_join
    return rect_self_join(_rects(spark, sf_dir), RECT_CELL)


def _sql_rect_join(n: int) -> str:
    from proj_spark.spatial.overlay import rect_self_join_sql
    rects_cte = f"""{_pages_cte(n)},
ids AS (SELECT CAST(regexp_extract(url, 'page/(\\d+)', 1) AS BIGINT) AS id,
               lon, lat
        FROM pages WHERE CAST(regexp_extract(url, 'page/(\\d+)', 1) AS BIGINT)
                         % {RECT_MOD} = 0),
hs AS (SELECT id, lon, lat, (id * 2654435761) % 2147483648 AS h FROM ids),
rects AS (SELECT id,
                 lon - (0.2 + CAST(h % 5 AS DOUBLE) * 0.1) AS xmin,
                 lon + (0.2 + CAST(h % 5 AS DOUBLE) * 0.1) AS xmax,
                 lat - (0.15 + CAST(h % 3 AS DOUBLE) * 0.1) AS ymin,
                 lat + (0.15 + CAST(h % 3 AS DOUBLE) * 0.1) AS ymax
          FROM hs)"""
    return (f"WITH {rects_cte}\n"
            + rect_self_join_sql("rects", RECT_CELL))


GETIS_Z = 6


def q_getis_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hotspot z-score for every occupied z6 cell (the
    standard local hotspot statistic; exact-integer sufficient stats +
    fixed float assembly => bit-equal oracle, the morans_i discipline).
    """
    from proj_spark.spatial import stats as spatial_stats
    pts = _points(spark, sf_dir)
    return spatial_stats.getis_gi(
        spatial_stats.cell_counts(pts, GETIS_Z))


def _sql_getis_hotspots(n: int) -> str:
    z = GETIS_Z
    xb = "(CAST(t_sum AS DOUBLE) / n_cells)"
    s = f"SQRT(CAST(s_sq AS DOUBLE) / n_cells - {xb} * {xb})"
    vt = ("((CAST(n_cells AS DOUBLE) * k - k * k) / "
          "(CAST(n_cells AS DOUBLE) - 1.0))")
    return f"""WITH {_pages_cte(n)},
{_sql_cell_counts(z)},
win AS (SELECT a.tx AS tx, a.ty AS ty,
               CAST(SUM(b.x) AS BIGINT) AS w_sum, COUNT(*) AS k
        FROM cl a CROSS JOIN {_kernel_values_sql()}
        JOIN cl b ON b.tx = a.tx + dx AND b.ty = a.ty + dy
        GROUP BY 1, 2),
g AS (SELECT COUNT(*) AS n_cells, CAST(SUM(x) AS BIGINT) AS t_sum,
             CAST(SUM(x * x) AS BIGINT) AS s_sq FROM cl)
SELECT w.tx, w.ty, c.x AS n_pages, w.w_sum, w.k,
       CASE WHEN n_cells > 1 AND {s} > 0.0 AND {vt} > 0.0
            THEN ROUND((w.w_sum - {xb} * w.k) / ({s} * SQRT({vt})), 6)
       END AS gi_star
FROM win w JOIN cl c ON c.tx = w.tx AND c.ty = w.ty CROSS JOIN g"""


VIEWPORT_Z = 7
VIEWPORT_K = 3


def q_viewport_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-tile feature selection: the top-3 pages per z7 viewport
    tile under a deterministic content ranking (md5 of the url — a
    stable sampling order any engine reproduces).

    Plan: Spark 4 rewrites the row_number-filter into WindowGroupLimit
    (per-partition partial top-k BELOW the window exchange), so dense
    city tiles never ship more than k rows per map task — the same
    partial-top-k shape knn_join locks in the plan audit.
    """
    pts = _points(spark, sf_dir)
    t = pts.select(
        cells.tile_x(F.col("lon"), VIEWPORT_Z).alias("tile_x"),
        cells.tile_y(F.col("lat"), VIEWPORT_Z).alias("tile_y"),
        "url")
    w = Window.partitionBy("tile_x", "tile_y").orderBy(F.md5("url"))
    return (t.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= VIEWPORT_K)
            .select("tile_x", "tile_y", "rank", "url"))


def _sql_viewport_topk(n: int) -> str:
    z = VIEWPORT_Z
    return f"""WITH {_pages_cte(n)},
t AS (SELECT {cells.tile_x_sql('lon', z)} AS tile_x,
             {cells.tile_y_sql('lat', z)} AS tile_y, url
      FROM pages)
SELECT tile_x, tile_y, CAST(rnk AS INT) AS rank, url
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY tile_x, tile_y
                                   ORDER BY md5(url)) AS rnk FROM t)
WHERE rnk <= {VIEWPORT_K}"""


IDW_RADIUS_M = 100_000.0
IDW_Z = 7


def _page_value(url) -> F.Column:
    """Deterministic per-page sample value in [0, 1000): the synthesis
    hash bucket h % 1000, recomputed from the url's page ordinal so the
    oracle derives the identical value from `i`."""
    i = F.regexp_extract(url, r"/page/(\d+)$", 1).cast("long")
    h = F.pmod(i * F.lit(2654435761), F.lit(2 ** 31))
    return F.pmod(h, F.lit(1000))


def q_idw_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distance-weighted interpolation of a page metric at the
    10 city query points from all pages within 100 km.

    Integer-quantized weights make the accumulators exact (see
    spatial/interp.py); the cell-ring cover proof is the radius_join
    one, validated up front.  The oracle joins every page against every
    query directly (no cells), independently proving the ring cover
    complete on data.
    """
    from proj_spark.spatial import interp
    pts = _points(spark, sf_dir).withColumn("val", _page_value(F.col("url")))
    qdf = _knn_queries_df(spark)
    return interp.idw_interp(
        qdf, pts, IDW_RADIUS_M, IDW_Z, F.col("val"),
        max_abs_lat=PAGES_MAX_ABS_LAT)


def _sql_idw_interp(n: int) -> str:
    hav = haversine_sql("qlon", "qlat", "lon", "lat")
    return f"""WITH {_pages_cte(n)},
qp AS (SELECT * FROM {_knn_values_sql()}),
hits AS (
  SELECT query_id,
         CAST(FLOOR(CAST(10000000000 AS DOUBLE) / (d_m * d_m)) AS BIGINT) AS w,
         val
  FROM (SELECT query_id,
               GREATEST(CAST(ROUND({hav}, 0) AS BIGINT), CAST(10 AS BIGINT)) AS d_m,
               ((i * 2654435761) % 2147483648) % 1000 AS val
        FROM pages, qp
        WHERE {hav} <= {IDW_RADIUS_M!r})),
agg AS (SELECT query_id, COUNT(*) AS n_pts, CAST(SUM(w) AS BIGINT) AS sum_w,
               CAST(SUM(w * val) AS BIGINT) AS sum_wv
        FROM hits GROUP BY 1)
SELECT q.query_id, COALESCE(a.n_pts, 0) AS n_pts,
       COALESCE(a.sum_w, 0) AS sum_w, COALESCE(a.sum_wv, 0) AS sum_wv,
       CASE WHEN a.sum_w > 0
            THEN ROUND(CAST(a.sum_wv AS DOUBLE) / a.sum_w, 6) END AS idw
FROM qp q LEFT JOIN agg a USING (query_id)"""


DRIFT_JUMP_M = 5_000_000.0  # a >5000 km hop = inter-continental relocation


def q_domain_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain crawl-path drift: order each domain's geotagged pages
    by crawl sequence and measure the consecutive geodesic steps —
    total path length, longest hop, and inter-continental jump count
    (the geo-consistency signal crawl pipelines use to catch CDN/proxy
    mislocations).

    Plan: the sessionize shape — ONE exchange + sort on (domain) for
    the lag window, and the following per-domain hash agg reuses that
    partitioning (no second exchange).  Step sums are per-step meter-
    rounded BIGINTs, so the aggregate is an exact integer sum (order-
    independent); max_step is order-independent by definition.
    """
    pts = _points(spark, sf_dir)
    w = Window.partitionBy("domain").orderBy("seq")
    t = (pts.select("domain", _page_seq().alias("seq"), "lat", "lon")
         .withColumn("plat", F.lag("lat").over(w))
         .withColumn("plon", F.lag("lon").over(w)))
    st = t.withColumn("step", haversine_expr(
        F.col("plon"), F.col("plat"), F.col("lon"), F.col("lat")))
    return (st.groupBy("domain").agg(
        F.count("*").alias("n_pages"),
        F.count("step").alias("n_steps"),
        F.count_if(F.col("step") > F.lit(DRIFT_JUMP_M)).alias("n_jumps"),
        F.sum(F.round(F.col("step"), 0).cast("long")).alias("sum_step_m"),
        F.round(F.max("step"), 0).cast("long").alias("max_step_m")))


def _sql_domain_drift(n: int) -> str:
    hav = haversine_sql("plon", "plat", "lon", "lat")
    return f"""WITH {_pages_cte(n)},
s AS (SELECT domain, i AS seq, lat, lon,
             LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon
      FROM pages WINDOW w AS (PARTITION BY domain ORDER BY i)),
st AS (SELECT domain, {hav} AS step FROM s)
SELECT domain, COUNT(*) AS n_pages, COUNT(step) AS n_steps,
       COUNT(*) FILTER (WHERE step > {DRIFT_JUMP_M!r}) AS n_jumps,
       CAST(SUM(CAST(ROUND(step, 0) AS BIGINT)) AS BIGINT) AS sum_step_m,
       CAST(ROUND(MAX(step), 0) AS BIGINT) AS max_step_m
FROM st GROUP BY 1"""


def q_reverse_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse geocoding at scale: label EVERY page with its nearest of
    the 40 city centers, then per-city stats.

    Plan shape for a big side: the label set is a LITERAL array, the
    argmin is `array_min` over per-candidate (dist, id) structs — all
    inside whole-stage codegen, ZERO joins and zero shuffles of the
    points until the final per-city hash agg.  This is the degenerate
    (small fixed candidate set) kNN that enrichment pipelines run over
    the full corpus; the ring-join machinery (knn_join) is for
    candidate sets that don't fit a literal/broadcast.

    Tie-break: struct comparison orders by (dist, city_id), so an exact
    distance tie picks the lower id deterministically in both engines.
    Distance sums are per-point meter-rounded BIGINTs (exact, order-
    independent).

    Transcendental-count optimization: the argmin runs on the haversine
    KERNEL h = sin²(Δφ/2) + cosφ·cosφ_c·sin²(Δλ/2), which is strictly
    monotone in the distance d = 2R·asin(√h) — so the winner (and the
    (d, city_id) tie-break) is identical, but asin/√ run ONCE per point
    instead of once per candidate (40× fewer).  The oracle keeps the
    full-distance form; equality is via the green value hash.
    """
    pts = _points(spark, sf_dir)
    cand = F.array(*[
        F.struct(
            (F.pow(F.sin((F.radians(F.lit(cy)) - F.radians(F.col("lat"))) / 2), 2)
             + F.cos(F.radians(F.col("lat"))) * F.cos(F.radians(F.lit(cy)))
             * F.pow(F.sin((F.radians(F.lit(cx)) - F.radians(F.col("lon"))) / 2), 2)
             ).alias("h"),
            F.lit(i).alias("city_id"))
        for i, (cx, cy) in enumerate(CITY_CENTERS)])
    best = F.array_min(cand)
    d = F.lit(2.0 * EARTH_R) * F.asin(F.sqrt(best["h"]))
    lab = pts.select(
        "domain",
        best["city_id"].alias("city_id"),
        F.round(d, 0).cast("long").alias("d_m"))
    return (lab.groupBy("city_id").agg(
        F.count("*").alias("n_pages"),
        F.countDistinct("domain").alias("n_domains"),
        F.sum("d_m").alias("sum_dist_m"),
        F.max("d_m").alias("max_dist_m")))


def _sql_reverse_geocode(n: int) -> str:
    terms = []
    for i, (cx, cy) in enumerate(CITY_CENTERS):
        d = (f"2.0 * {EARTH_R} * ASIN(SQRT("
             f"POWER(SIN((RADIANS({cy!r}) - RADIANS(lat))/2), 2) + "
             f"COS(RADIANS(lat)) * COS(RADIANS({cy!r})) * "
             f"POWER(SIN((RADIANS({cx!r}) - RADIANS(lon))/2), 2)))")
        terms.append(f"({d}, {i})")
    lst = "[" + ", ".join(terms) + "]"
    return f"""WITH {_pages_cte(n)},
lab AS (SELECT domain,
               best[2] AS city_id,
               CAST(ROUND(best[1], 0) AS BIGINT) AS d_m
        FROM (SELECT domain, list_aggregate({lst}, 'min') AS best FROM pages))
SELECT city_id, COUNT(*) AS n_pages, COUNT(DISTINCT domain) AS n_domains,
       CAST(SUM(d_m) AS BIGINT) AS sum_dist_m, MAX(d_m) AS max_dist_m
FROM lab GROUP BY 1"""


def q_bpe_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-30 BPE-ish pretokenizer units (space-absorbing letter/
    digit/symbol runs — the GPT-2 pretokenizer restricted to the
    lookahead-free regex subset Java regex and RE2 share), plus the
    corpus-total unit count as a cross-check column.

    Same scale shape as token_topk: explode -> partial hash agg ->
    TakeOrdered; the regexp runs once per document inside codegen.
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(analysis.bpe_tokens(F.col("text"))).alias("unit"))
    return (toks.groupBy("unit").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), "unit").limit(30))


def _sql_bpe_token_topk() -> str:
    return f"""SELECT unit, COUNT(*) AS n
FROM (SELECT unnest(regexp_extract_all(lower(text), '{analysis.BPE_PATTERN}')) AS unit
      FROM documents)
GROUP BY 1 ORDER BY n DESC, unit LIMIT 30"""


WIN_K = 12       # k-gram width (winnowing noise threshold)
WIN_W = 16       # window size (guarantee threshold t = w + k - 1 = 27)
WIN_DF_CAP = 100  # drop fingerprints shared by more docs (skew guard)
WIN_MIN_SHARED = 2


def q_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling-hash document fingerprinting,
    Schleimer et al. 2003): one row per (doc, selected k-gram hash).

    The Arrow-batched winnow_kernel runs the polynomial fold and the
    window-min selection; the DuckDB oracle reproduces every
    hash bit-for-bit (list_reduce's first-element seeding equals the
    init-0 fold).  See proj_spark/text/winnow.py.
    """
    from proj_spark.text import winnow
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    return winnow.fingerprints(docs, k=WIN_K, w=WIN_W)


def _winnow_sel_sql() -> str:
    """DuckDB CTE chain computing the per-doc winnowing selection
    (columns: doc_id, sel BIGINT[]) — DuckDB range() is end-EXCLUSIVE
    where Spark sequence() is inclusive, hence the +2 bounds."""
    k, w, m, b = WIN_K, WIN_W, 2147483647, 131
    return f"""c AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
           list_transform(range(1, len(lower(text)) + 1),
                          i -> CAST(ascii(substr(lower(text), i, 1)) AS BIGINT)) AS codes
      FROM documents),
h AS (SELECT doc_id,
             CASE WHEN len(codes) >= {k} THEN
               list_transform(range(1, len(codes) - {k} + 2),
                              i -> list_reduce(codes[i:i+{k - 1}],
                                               (a, x) -> (a * {b} + x) % {m}))
             ELSE CAST([] AS BIGINT[]) END AS hs
      FROM c),
s AS (SELECT doc_id,
             CASE WHEN len(hs) >= {w} THEN
               list_sort(list_distinct(list_transform(
                 range(1, len(hs) - {w} + 2),
                 i -> list_aggregate(hs[i:i+{w - 1}], 'min'))))
             WHEN len(hs) > 0 THEN [list_aggregate(hs, 'min')]
             ELSE CAST([] AS BIGINT[]) END AS sel
      FROM h)"""


def _sql_winnow_fp() -> str:
    return f"""WITH {_winnow_sel_sql()}
SELECT doc_id, CAST(unnest(sel) AS BIGINT) AS fp FROM s"""


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup localization by shared winnowing fingerprints: document
    pairs sharing >= 2 selected hashes (the winnowing index join).

    Scale shape: shuffle on fp with a document-frequency cap (a
    fingerprint shared by df docs contributes df^2 pairs on ONE shuffle
    key — the ngram_pairs skew lesson), then a pair-count hash agg.
    """
    from proj_spark.text import winnow
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    # persist: the self-join below references the fingerprint relation
    # three times (df-cap + both join sides) — without materialization
    # the winnowing kernel would run 3x over the corpus
    fps = winnow.fingerprints(docs, k=WIN_K, w=WIN_W).persist()
    rare = (fps.groupBy("fp").agg(F.count("*").alias("df"))
            .where(F.col("df") <= WIN_DF_CAP))
    kept = fps.join(F.broadcast(rare.select("fp")), "fp")
    a = kept.select("fp", F.col("doc_id").alias("id_a"))
    b = kept.select("fp", F.col("doc_id").alias("id_b"))
    return (a.join(b, "fp")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_shared"))
            .where(F.col("n_shared") >= WIN_MIN_SHARED))


def _sql_winnow_pairs() -> str:
    return f"""WITH {_winnow_sel_sql()},
fps AS (SELECT doc_id, CAST(unnest(sel) AS BIGINT) AS fp FROM s),
rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= {WIN_DF_CAP}),
kept AS (SELECT fps.doc_id, fps.fp FROM fps JOIN rare USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {WIN_MIN_SHARED}"""


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation funnel per source: total -> quality-kept
    (score >= 0.5) -> language-verified (stopword lang-ID agrees with
    the label) -> exact-dedup survivors (min doc_id per content md5).

    The whole funnel is pure SQL expressions + two hash aggregations —
    no UDFs, fully codegen'd, one shuffle each on (source) and (fp).
    """
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    base = docs.select(
        "source", F.col("doc_id").cast("long").alias("doc_id"),
        F.md5("text").alias("fp"),
        (analysis.quality_score(t) >= 0.5).alias("q_ok"),
        (analysis.lang_guess(t) == F.col("lang")).alias("l_ok"))
    agg1 = base.groupBy("source").agg(
        F.count("*").alias("n_total"),
        F.count_if(F.col("q_ok")).alias("n_quality"),
        F.count_if(F.col("q_ok") & F.col("l_ok")).alias("n_lang"))
    kept = (base.where(F.col("q_ok") & F.col("l_ok"))
            .groupBy("fp")
            .agg(F.min_by("source", "doc_id").alias("source"))
            .groupBy("source")
            .agg(F.count("*").alias("n_kept")))
    return (agg1.join(kept, "source", "left")
            .select("source", "n_total", "n_quality", "n_lang",
                    F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept")))


def _sql_curation_funnel() -> str:
    quality = _sql_text_stats()["quality"]
    guess = _sql_lang_guess()
    return f"""WITH b AS (
  SELECT source, CAST(doc_id AS BIGINT) AS doc_id, md5(text) AS fp,
         ({quality} >= 0.5) AS q_ok, (({guess}) = lang) AS l_ok
  FROM documents),
a1 AS (SELECT source, COUNT(*) AS n_total,
              COUNT(*) FILTER (WHERE q_ok) AS n_quality,
              COUNT(*) FILTER (WHERE q_ok AND l_ok) AS n_lang
       FROM b GROUP BY 1),
k AS (SELECT source, COUNT(*) AS n_kept
      FROM (SELECT arg_min(source, doc_id) AS source
            FROM b WHERE q_ok AND l_ok GROUP BY fp)
      GROUP BY 1)
SELECT a1.source, n_total, n_quality, n_lang, COALESCE(n_kept, 0) AS n_kept
FROM a1 LEFT JOIN k USING (source)"""


# ---------------------------------------------------------------------------
# queries — corpus curation (sampling, representative selection, CCNet
# buckets, distinctive terms, URL canonicalization)
# ---------------------------------------------------------------------------

SAMPLE_RATES = {"en": 2000, "de": 4000, "fr": 6000, "es": 8000}
SAMPLE_DEFAULT = 9500  # zh and anything unlisted
SAMPLE_DENOM = 10_000


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language stratified downsampling (training-data
    mixture control): keep a doc iff hash31(doc_id) % 10000 < rate(lang).

    The decision is a pure map-side expression — reproducible across
    runs, cluster sizes, and engines, unlike df.sample whose output
    depends on partition layout.  One hash agg on (lang, source); reads
    the raw scan (no balance shuffle) — the per-row work is one hash,
    so the map-only single-scan shape is the contract here."""
    from proj_spark.text import curation
    docs = _docs_raw(spark, sf_dir)
    keyed = docs.select(
        "lang", "source", F.col("doc_id").cast("long").alias("doc_id"),
        curation.sample_key(F.col("doc_id"), SAMPLE_DENOM).alias("sk"))
    rate = F.lit(SAMPLE_DEFAULT)
    for k, v in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    keyed = keyed.withColumn("kept", F.col("sk") < rate)
    return (keyed.groupBy("lang", "source")
            .agg(F.count("*").alias("n_total"),
                 F.count_if(F.col("kept")).alias("n_kept"),
                 F.coalesce(F.sum(F.when(F.col("kept"), F.col("doc_id"))),
                            F.lit(0)).alias("kept_id_sum")))


def _sql_stratified_sample() -> str:
    from proj_spark.text.curation import sample_key_sql
    rate = "CASE lang " + " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(SAMPLE_RATES.items())
    ) + f" ELSE {SAMPLE_DEFAULT} END"
    return f"""WITH k AS (
  SELECT lang, source, CAST(doc_id AS BIGINT) AS doc_id,
         {sample_key_sql('doc_id', SAMPLE_DENOM)} AS sk, {rate} AS rate
  FROM documents)
SELECT lang, source, COUNT(*) AS n_total,
       COUNT(*) FILTER (WHERE sk < rate) AS n_kept,
       CAST(COALESCE(SUM(doc_id) FILTER (WHERE sk < rate), 0) AS BIGINT)
         AS kept_id_sum
FROM k GROUP BY 1, 2"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-group representative selection: within each near-dup
    component (same edges as dedup_groups) keep the doc with the most
    tokens, ties to the smallest doc_id — the exact-integer 'keep
    longest' policy real pipelines use so boilerplate-trimmed fragments
    lose to the full document.  One hash agg on comp_id after the CC
    assignment; the argmax is max_by over an (n_tokens, -doc_id) struct
    (no float quality scores whose ulp drift could flip the argmax)."""
    from proj_spark.text.components import dedup_assign
    from proj_spark.text.curation import keep_longest
    docs = _docs(spark, sf_dir)
    edges = (_ngram_jaccard(spark, sf_dir)
             .where(F.col("jaccard") >= DEDUP_TAU)
             .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    comp = dedup_assign(docs.select("doc_id"), edges, id_col="doc_id")
    out = keep_longest(docs, comp.select("doc_id", "comp_id"))
    return out.select(F.col("comp_id").cast("long").alias("comp_id"),
                      F.col("comp_size").cast("long").alias("comp_size"),
                      F.col("keep_id").cast("long").alias("keep_id"),
                      F.col("keep_tokens").cast("long").alias("keep_tokens"))


def _sql_dedup_keep_best() -> str:
    n_tok = _sql_text_stats()["n_tok"]
    return f"""WITH RECURSIVE {_dedup_cc_ctes()},
tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST({n_tok} AS BIGINT) AS n_tokens
  FROM documents
), ranked AS (
  SELECT a.comp_id, t.doc_id, t.n_tokens,
         ROW_NUMBER() OVER (PARTITION BY a.comp_id
                            ORDER BY t.n_tokens DESC, t.doc_id) AS rn
  FROM assigned a JOIN tok t USING (doc_id)
)
SELECT r.comp_id, CAST(s.comp_size AS BIGINT) AS comp_size,
       r.doc_id AS keep_id, r.n_tokens AS keep_tokens
FROM ranked r JOIN sized s USING (comp_id) WHERE rn = 1"""


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail terciles by unigram popularity (the
    LM-perplexity proxy kept exact-rational: mean corpus frequency of a
    doc's tokens).  Bucket thresholds come from two distributed
    TakeOrdered probes — NOT a single-partition global ntile window —
    then a shuffle-free CASE pass; the oracle recomputes the buckets
    with an actual NTILE(3), independently proving the threshold
    bucketing reproduces it exactly."""
    from proj_spark.text.curation import ccnet_buckets
    b = ccnet_buckets(_docs(spark, sf_dir))
    return (b.groupBy("bucket", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("tok_sum"),
                 F.round(F.min("pop"), 6).alias("min_pop"),
                 F.round(F.max("pop"), 6).alias("max_pop")))


def _sql_ccnet_buckets() -> str:
    return f"""WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         unnest({_SQL_TOKS}) AS token
  FROM documents
), vocab AS (
  SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1
), pop AS (
  SELECT doc_id, lang,
         CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS pop,
         COUNT(*) AS n_tokens
  FROM tok JOIN vocab USING (token) GROUP BY 1, 2
), b AS (
  SELECT *, NTILE(3) OVER (ORDER BY pop DESC, doc_id) AS bucket FROM pop
)
SELECT CAST(bucket AS BIGINT) AS bucket, lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
       ROUND(MIN(pop), 6) AS min_pop, ROUND(MAX(pop), 6) AS max_pop
FROM b GROUP BY 1, 2"""


def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 distinctive terms per language by rational tf-idf:
    score = (tf_lang * 1e6) div df_corpus as an exact BIGINT integer
    division (ulp-free ranking; log-idf orders identically for fixed tf
    since idf is monotone in 1/df).  Token shuffle is vocabulary-
    bounded; the top-k window partitions by lang."""
    from proj_spark.text.curation import distinctive_terms
    return distinctive_terms(_docs(spark, sf_dir), top_k=10)


def _sql_distinctive_terms() -> str:
    return f"""WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         unnest({_SQL_TOKS}) AS token
  FROM documents
), tf AS (
  SELECT lang, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
), dfx AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
), scored AS (
  SELECT lang, token, tf, df, (tf * 1000000) // df AS score
  FROM tf JOIN dfx USING (token)
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY score DESC, token) AS rank
  FROM scored
)
SELECT lang, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(score AS BIGINT) AS score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10"""


def q_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup: each page is exploded into 3
    deterministic URL spellings (scheme/case/www variants, tracking
    params, fragments, trailing slashes — the Common-Crawl reality),
    canonicalized with proj_spark.text.urlnorm.canonical_url (one pure
    regex expression chain, map-only), and deduped per canonical form.
    Per-domain rollup proves every variant collapses back to exactly
    its page: n_canon == n_pages and no cross-page merges."""
    from proj_spark.text.urlnorm import canonical_url
    pages = pages_table(spark, _n_pages(sf_dir), N_DOMAINS)
    i = _page_seq()
    h = F.pmod(i * F.lit(2654435761), F.lit(2 ** 31))
    base = pages.select(
        "url", F.regexp_extract("url", r"site(\d+)\.", 1).alias("domain"),
        h.alias("h"))
    v = base.select(
        "url", "domain",
        F.explode(F.array(F.lit(1), F.lit(7), F.lit(49))).alias("dv"),
        F.col("h"))
    c = F.pmod(F.expr("h div dv"), F.lit(6))
    scheme_host = F.regexp_extract("url", r"^(https://[^/]+)", 1)
    rest = F.regexp_replace("url", r"^https://[^/]+", "")
    variant = (F.when(c == 1, F.concat(F.lit("http://www."),
                                       F.regexp_replace("url", r"^https://", "")))
               .when(c == 2, F.concat(F.upper(scheme_host), rest))
               .when(c == 3, F.concat(F.col("url"), F.lit("/")))
               .when(c == 4, F.concat(F.col("url"),
                                      F.lit("?utm_source=feed&utm_medium=rss")))
               .when(c == 5, F.concat(F.col("url"), F.lit("?ref=crawler#frag")))
               .otherwise(F.col("url")))
    canon = v.select("domain", canonical_url(variant).alias("canon"))
    per = canon.groupBy("domain", "canon").agg(F.count("*").alias("n_var"))
    return (per.groupBy("domain")
            .agg(F.count("*").alias("n_canon"),
                 F.sum("n_var").cast("long").alias("n_variant_rows"),
                 F.max("n_var").cast("long").alias("max_group")))


def _sql_url_canon(n: int) -> str:
    from proj_spark.text.urlnorm import canonical_url_sql
    variant = """CASE c
      WHEN 1 THEN 'http://www.' || regexp_replace(url, '^https://', '')
      WHEN 2 THEN upper(regexp_extract(url, '^(https://[^/]+)', 1))
                  || regexp_replace(url, '^https://[^/]+', '')
      WHEN 3 THEN url || '/'
      WHEN 4 THEN url || '?utm_source=feed&utm_medium=rss'
      WHEN 5 THEN url || '?ref=crawler#frag'
      ELSE url END"""
    return f"""WITH {_pages_cte(n)},
v AS (
  SELECT p.url, p.domain, (g.h // dv) % 6 AS c
  FROM pages p JOIN pages_geo g USING (i), UNNEST([1, 7, 49]) AS t(dv)
), canon AS (
  SELECT domain, {canonical_url_sql(variant)} AS canon FROM v
), per AS (
  SELECT domain, canon, COUNT(*) AS n_var FROM canon GROUP BY 1, 2
)
SELECT domain, COUNT(*) AS n_canon,
       CAST(SUM(n_var) AS BIGINT) AS n_variant_rows,
       CAST(MAX(n_var) AS BIGINT) AS max_group
FROM per GROUP BY 1"""


# ---------------------------------------------------------------------------
# queries — spatial anti-join + geodesic densification
# ---------------------------------------------------------------------------

def q_coverage_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial ANTI join: pages inside an admin region's bounding box
    but NOT inside the diamond itself (the corner slivers) — the
    coverage-gap / unlabeled-points primitive.  Broadcast semi-join for
    the bbox candidacy, broadcast anti-join for the exact test; the big
    points relation never shuffles.  Rollup per z7 cell."""
    pts = _points(spark, sf_dir)
    admins = spark.createDataFrame(
        _admin_specs(), "admin_id long, cx double, cy double, "
        "rx double, ry double")
    bbox = ((F.abs(pts["lon"] - admins["cx"]) <= admins["rx"]) &
            (F.abs(pts["lat"] - admins["cy"]) <= admins["ry"]))
    inside = (F.abs(pts["lon"] - admins["cx"]) / admins["rx"]
              + F.abs(pts["lat"] - admins["cy"]) / admins["ry"] < 1.0)
    cand = pts.join(F.broadcast(admins), bbox, "leftsemi")
    gap = cand.join(F.broadcast(admins), inside, "leftanti")
    return (gap.select(cells.cell_id(F.col("lon"), F.col("lat"), 7)
                       .alias("cell7"))
            .groupBy("cell7").agg(F.count("*").alias("n_gap")))


def _sql_coverage_gap(n: int) -> str:
    return f"""WITH {_pages_cte(n)},
gap AS (
  SELECT lon, lat FROM pages p
  WHERE EXISTS (SELECT 1 FROM {_admin_values_sql()}
                WHERE ABS(p.lon - cx) <= rx AND ABS(p.lat - cy) <= ry)
    AND NOT EXISTS (SELECT 1 FROM {_admin_values_sql()}
                    WHERE ABS(p.lon - cx) / rx + ABS(p.lat - cy) / ry < 1.0)
)
SELECT {cells.cell_id_sql('lon', 'lat', 7)} AS cell7, COUNT(*) AS n_gap
FROM gap GROUP BY 1"""


def q_path_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic path densification: insert the great-circle midpoint
    between consecutive crawl-path points of each domain (the resample-
    before-rasterize primitive for tiling sparse trajectories).

    Midpoint via the unit-sphere chord bisector — u = unit(p1 + p2) —
    entirely in codegen'd trig expressions (no UDF); one exchange+sort
    on (domain) for the lead window, map-only after.  Antipodal pairs
    (undefined midpoint) would yield |p1+p2| ~ 0; jittered city data
    never produces them, and atan2(0, 0) = 0 in both engines anyway."""
    pts = _points(spark, sf_dir)
    w = Window.partitionBy("domain").orderBy("seq")
    t = (pts.select("domain", _page_seq().alias("seq"), "lat", "lon")
         .withColumn("nlat", F.lead("lat").over(w))
         .withColumn("nlon", F.lead("lon").over(w))
         .where(F.col("nlat").isNotNull()))
    rad = lambda cc: F.radians(cc)
    x = (F.cos(rad(F.col("lat"))) * F.cos(rad(F.col("lon")))
         + F.cos(rad(F.col("nlat"))) * F.cos(rad(F.col("nlon"))))
    y = (F.cos(rad(F.col("lat"))) * F.sin(rad(F.col("lon")))
         + F.cos(rad(F.col("nlat"))) * F.sin(rad(F.col("nlon"))))
    z = F.sin(rad(F.col("lat"))) + F.sin(rad(F.col("nlat")))
    mlat = F.degrees(F.atan2(z, F.sqrt(x * x + y * y)))
    mlon = F.degrees(F.atan2(y, x))
    return t.select("domain", "seq",
                    F.round(mlat, 6).alias("mid_lat"),
                    F.round(mlon, 6).alias("mid_lon"))


def _sql_path_densify(n: int) -> str:
    return f"""WITH {_pages_cte(n)},
s AS (
  SELECT domain, i AS seq, lat, lon,
         LEAD(lat) OVER w AS nlat, LEAD(lon) OVER w AS nlon
  FROM pages WINDOW w AS (PARTITION BY domain ORDER BY i)
), m AS (
  SELECT domain, seq,
         cos(radians(lat)) * cos(radians(lon))
           + cos(radians(nlat)) * cos(radians(nlon)) AS x,
         cos(radians(lat)) * sin(radians(lon))
           + cos(radians(nlat)) * sin(radians(nlon)) AS y,
         sin(radians(lat)) + sin(radians(nlat)) AS z
  FROM s WHERE nlat IS NOT NULL
)
SELECT domain, seq,
       ROUND(degrees(atan2(z, sqrt(x * x + y * y))), 6) AS mid_lat,
       ROUND(degrees(atan2(y, x)), 6) AS mid_lon
FROM m"""


# ---------------------------------------------------------------------------
# queries — mergeable sketches + exact substring dedup
# ---------------------------------------------------------------------------

def q_hll_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct domains per z5 tile, exact AND via a deterministic
    HyperLogLog built from pure expressions (proj_spark.sketches).

    At 100 TB the exact count-distinct shuffles (cell, domain) pairs;
    the HLL path partial-aggregates 256 registers map-side and merges —
    constant state per cell.  The engine-owned hash makes every
    register (and the one-division estimate) bit-reproducible in the
    DuckDB oracle, unlike approx_count_distinct's private HLL++."""
    from proj_spark import sketches as sk
    from proj_spark.text.curation import hash31
    pts = _points(spark, sf_dir)
    base = pts.select(
        cells.cell_id(F.col("lon"), F.col("lat"), 5).alias("cell5"),
        F.col("domain").cast("long").alias("dom"))
    hcol = base.withColumn("h", hash31(F.col("dom")))
    reg = (hcol.groupBy("cell5", sk.hll_bucket(F.col("h")).alias("bucket"))
           .agg(F.max(sk.hll_rho(F.col("h"))).alias("mr")))
    hll = (reg.groupBy("cell5")
           .agg(sk.hll_stat(F.col("mr"), F.count("*")).alias("s"),
                (F.lit(sk.HLL_M) - F.count("*")).alias("n_zero")))
    exact = base.groupBy("cell5").agg(
        F.count_distinct("dom").alias("n_exact"))
    est = sk.hll_estimate(F.col("s"))
    return (exact.join(hll, "cell5")
            .select("cell5", "n_exact", "s",
                    F.col("n_zero").cast("long").alias("n_zero"),
                    F.round(est, 4).alias("hll_est"),
                    F.round((est - F.col("n_exact")) / F.col("n_exact"), 4)
                    .alias("rel_err")))


def _sql_hll_tiles(n: int) -> str:
    from proj_spark import sketches as sk
    from proj_spark.text.curation import hash31_sql
    h = hash31_sql("CAST(domain AS BIGINT)")
    est = sk.hll_estimate_sql("s")
    return f"""WITH {_pages_cte(n)},
b AS (
  SELECT {cells.cell_id_sql('lon', 'lat', 5)} AS cell5,
         CAST(domain AS BIGINT) AS dom, {h} AS h
  FROM pages
), reg AS (
  SELECT cell5, {sk.hll_bucket_sql('h')} AS bucket,
         MAX({sk.hll_rho_sql('h')}) AS mr
  FROM b GROUP BY 1, 2
), hll AS (
  SELECT cell5,
         CAST(SUM(CAST(POWER(2, {sk.HLL_RHO_MAX} - mr) AS BIGINT))
              + ({sk.HLL_M} - COUNT(*)) * {1 << sk.HLL_RHO_MAX} AS BIGINT) AS s,
         CAST({sk.HLL_M} - COUNT(*) AS BIGINT) AS n_zero
  FROM reg GROUP BY 1
), exact AS (
  SELECT cell5, COUNT(DISTINCT dom) AS n_exact FROM b GROUP BY 1
)
SELECT cell5, n_exact, s, n_zero,
       ROUND({est}, 4) AS hll_est,
       ROUND(({est} - n_exact) / n_exact, 4) AS rel_err
FROM exact JOIN hll USING (cell5)"""


CM_PROBES = ["data", "query", "spark", "window", "value", "join",
             "zzz_absent", "qwerty"]


def q_cmsketch_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy-hitter probe: build a 4x1024 exact-BIGINT counter
    sketch over the token stream (vocabulary-bounded shuffle; counters
    partial-agg map-side and merge exactly under any reorder), then
    point-estimate a fixed probe set.  CM guarantees est >= exact;
    the oracle replays every counter."""
    from proj_spark import sketches as sk
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(
        analysis.tokens(F.lower(F.col("text")))).alias("token"))
    cnt = (toks.groupBy("token").agg(F.count("*").alias("n"))
           .withColumn("tid", sk.token_id48(F.col("token"))))
    rows = F.array(*[
        F.struct(F.lit(r).alias("r"), sk.cm_col(F.col("tid"), r).alias("col"))
        for r in range(sk.CM_D)])
    counters = (cnt.select("n", F.explode(rows).alias("rc"))
                .groupBy(F.col("rc.r").alias("r"), F.col("rc.col").alias("col"))
                .agg(F.sum("n").alias("c")))
    probes = spark.createDataFrame([(t,) for t in CM_PROBES], "token string") \
        .withColumn("tid", sk.token_id48(F.col("token")))
    pcells = probes.select("token", F.explode(F.array(*[
        F.struct(F.lit(r).alias("r"), sk.cm_col(F.col("tid"), r).alias("col"))
        for r in range(sk.CM_D)])).alias("rc"))
    est = (pcells.join(F.broadcast(counters),
                       (F.col("rc.r") == F.col("r"))
                       & (F.col("rc.col") == F.col("col")), "left")
           .groupBy("token")
           .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cm_est")))
    exact = cnt.select("token", F.col("n").alias("n_exact"))
    return (est.join(exact, "token", "left")
            .select("token",
                    F.coalesce(F.col("n_exact"), F.lit(0)).alias("n_exact"),
                    F.col("cm_est").cast("long").alias("cm_est"))
            .withColumn("overcount",
                        (F.col("cm_est") - F.col("n_exact")).cast("long")))


def _sql_cmsketch_tokens() -> str:
    from proj_spark import sketches as sk
    tid = sk.token_id48_sql("token")
    probe_vals = ", ".join(f"('{t}')" for t in CM_PROBES)
    row_cells = " UNION ALL ".join(
        f"SELECT token, n, {r} AS r, {sk.cm_col_sql('tid', r)} AS col FROM cnt"
        for r in range(sk.CM_D))
    probe_cells = " UNION ALL ".join(
        f"SELECT token, {r} AS r, {sk.cm_col_sql('tid', r)} AS col FROM probes"
        for r in range(sk.CM_D))
    return f"""WITH tok AS (
  SELECT unnest({_SQL_TOKS}) AS token
  FROM documents
), cnt AS (
  SELECT token, COUNT(*) AS n, {tid} AS tid FROM tok GROUP BY 1
), cells AS ({row_cells}
), counters AS (
  SELECT r, col, SUM(n) AS c FROM cells GROUP BY 1, 2
), probes AS (
  SELECT token, {tid} AS tid FROM (VALUES {probe_vals}) AS p(token)
), pc AS ({probe_cells}
), est AS (
  SELECT pc.token, MIN(COALESCE(c.c, 0)) AS cm_est
  FROM pc LEFT JOIN counters c USING (r, col) GROUP BY 1
)
SELECT e.token, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_exact,
       CAST(e.cm_est AS BIGINT) AS cm_est,
       CAST(e.cm_est - COALESCE(cnt.n, 0) AS BIGINT) AS overcount
FROM est e LEFT JOIN cnt USING (token)"""


DUP_K = 8
_US = "\x1f"  # unit separator joins window tokens unambiguously


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-dedup statistics (Lee et al. 2022, 'Deduplicating
    Training Data Makes Language Models Better'): for every document,
    how much of it is covered by an 8-token window that also appears
    verbatim in ANOTHER document.

    Plan: the window keys are built with 7 LEAD()s over ONE
    exchange+sort on doc_id (no interpreted higher-order lambdas) and
    the window relation is persisted — it feeds both the cross-doc
    duplicate detection and the coverage join, and without the persist
    Catalyst re-scans and re-sorts the corpus once per use.  The
    cross-doc test is a vocabulary-style shuffle on the window key (at
    real scale the key would shuffle as xxhash64 — same plan shape as
    ngram_pairs); per-doc duplicate-window and covered-token counts
    come out of ONE aggregation over the exploded spans (two distinct
    counts via expand)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                       F.posexplode(analysis.tokens(F.lower(F.col("text"))))
                       .alias("pos", "token"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("token")] + [F.lead("token", j).over(w)
                                for j in range(1, DUP_K)]
    win = (toks.select("doc_id", "pos",
                       F.concat_ws(_US, *parts).alias("wkey"),
                       F.lead("token", DUP_K - 1).over(w).alias("last"))
           .where(F.col("last").isNotNull()).drop("last")).persist()
    dup = (win.groupBy("wkey")
           .agg(F.count_distinct("doc_id").alias("dc"))
           .where(F.col("dc") >= 2).select("wkey"))
    hits = win.join(dup, "wkey")
    stats = (hits.select("doc_id", "pos", F.explode(
        F.sequence(F.col("pos"), F.col("pos") + F.lit(DUP_K - 1)))
        .alias("tpos"))
        .groupBy("doc_id")
        .agg(F.count_distinct("pos").alias("n_dup_win"),
             F.count_distinct("tpos").alias("n_cov")))
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                       F.size(analysis.tokens(F.lower(F.col("text"))))
                       .cast("long").alias("n_tokens"))
    return (base.join(stats, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce(F.col("n_dup_win"), F.lit(0)).cast("long")
                    .alias("n_dup_win"),
                    F.coalesce(F.col("n_cov"), F.lit(0)).cast("long")
                    .alias("n_cov"),
                    F.round(F.coalesce(F.col("n_cov"), F.lit(0))
                            .cast("double") / F.col("n_tokens"), 6)
                    .alias("dup_ratio")))


def _sql_dup_spans() -> str:
    k = DUP_K
    return f"""WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {_SQL_TOKS} AS l
  FROM documents
), win AS (
  SELECT doc_id, i AS pos, array_to_string(l[i:i + {k - 1}], chr(31)) AS wkey
  FROM tok, UNNEST(generate_series(1, len(l) - {k - 1})) AS t(i)
  WHERE len(l) >= {k}
), dup AS (
  SELECT wkey FROM win GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
), hits AS (
  SELECT win.doc_id, win.pos FROM win JOIN dup USING (wkey)
), cov AS (
  SELECT doc_id, COUNT(DISTINCT pos + o) AS n_cov
  FROM hits, UNNEST(generate_series(0, {k - 1})) AS t(o)
  GROUP BY 1
), nwin AS (
  SELECT doc_id, COUNT(*) AS n_dup_win FROM hits GROUP BY 1
), base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(len(l) AS BIGINT) AS n_tokens
  FROM tok
)
SELECT b.doc_id, b.n_tokens,
       CAST(COALESCE(n_dup_win, 0) AS BIGINT) AS n_dup_win,
       CAST(COALESCE(n_cov, 0) AS BIGINT) AS n_cov,
       ROUND(CAST(COALESCE(n_cov, 0) AS DOUBLE) / b.n_tokens, 6) AS dup_ratio
FROM base b LEFT JOIN nwin USING (doc_id) LEFT JOIN cov USING (doc_id)"""


def q_domain_gyration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain geographic footprint: exact integer centroid + the
    radius of gyration (mean squared µdeg distance from the centroid,
    div-quantized) — the classic mobility/dispersion metric, telling a
    curation pipeline which domains are geographically focused vs
    scattered.

    Exactness: coords shift to NON-NEGATIVE µdeg before any integer
    division (Spark's `div` truncates toward zero, DuckDB's `//`
    floors — they only agree on non-negative operands), the centroid
    is one floored division of exact sums, and per-row squared
    distances are div-quantized by 1e6 BEFORE summing so the total
    stays far below 2^63 even under ANSI mode.  Two shuffles on
    `domain` + one broadcast join back.

    FULL SQL ORACLE (_sql_domain_gyration): identical arithmetic."""
    pts = _points(spark, sf_dir)
    t = pts.select("domain", *_udeg_xy(shift=True))
    c = (t.groupBy("domain")
         .agg(F.count("*").alias("n_pages"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"))
         .select("domain", "n_pages",
                 F.expr("sx div n_pages").alias("cx"),
                 F.expr("sy div n_pages").alias("cy")))
    d2q = F.expr("((x - cx) * (x - cx) + (y - cy) * (y - cy)) "
                 "div 1000000")
    out = (t.join(F.broadcast(c), "domain")
           .groupBy("domain", "n_pages", "cx", "cy")
           .agg(F.sum(d2q).alias("sd2q")))
    return out.select(
        "domain", "n_pages",
        (F.col("cx") - 180_000_000).alias("cx_udeg"),
        (F.col("cy") - 90_000_000).alias("cy_udeg"),
        F.expr("sd2q div n_pages").alias("rog2q"))


def _sql_domain_gyration(n: int) -> str:
    return f"""WITH {_pages_cte(n)},
t AS (SELECT domain, {_sql_udeg_xy(shift=True)} FROM pages),
c AS (SELECT domain, COUNT(*) AS n_pages,
             SUM(x) // COUNT(*) AS cx, SUM(y) // COUNT(*) AS cy
      FROM t GROUP BY 1)
SELECT t.domain, c.n_pages,
       CAST(c.cx - 180000000 AS BIGINT) AS cx_udeg,
       CAST(c.cy - 90000000 AS BIGINT) AS cy_udeg,
       CAST(SUM(((x - cx) * (x - cx) + (y - cy) * (y - cy)) // 1000000)
            // c.n_pages AS BIGINT) AS rog2q
FROM t JOIN c USING (domain)
GROUP BY 1, 2, 3, 4"""


HAUS_DOM_LO, HAUS_DOM_HI = 500, 507   # 8 mid-size domains (~400 pts each
                                      # at sf0.1 under the skewed dom law)


HAUS_CELL = 1 << 20   # grid-prune cell side, µdeg (~1.05 deg)


def q_hausdorff_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete HAUSDORFF distance between domain page-location
    footprints: for every pair of selected domains, H(A, B) =
    max(h(A->B), h(B->A)) with h(A->B) = max over a in A of
    min over b in B of d(a, b) — the classic set/trajectory similarity
    measure (how far do two crawls' geographic footprints diverge).

    Exact integer core: squared µdeg distances (BIGINT, max ~1.3e17,
    ANSI-safe — only min/max, never summed); ONE double sqrt of the
    same exact integer at the end, so cross-engine parity is exact.

    Plan (r5: grid-pruned, EXACT — replaces the all-pairs explode
    whose work grew as |D| * sum |dom|^2, the one sub-1.0 retention of
    the sf1 certification):

    - Points land in s = HAUS_CELL µdeg cells.  A point of A with a
      partner B-cell in its 3x3 cell ring has nn-dist <= 2*sqrt(2)*s
      < 3s, so its true nearest B-point lies within cell ring 3 —
      a 7x7-cover equi-join (B-points replicated to their 49-cell
      cover, joined on the point's exact cell key) is therefore
      provably COMPLETE for these "near" points, and it is a pure
      local-density join, never |A| x |B|.
    - The residual "far" points (no B-cell in the 3x3 ring — the
      isolated fringe that actually decides a Hausdorff max) fall
      back to the exact partner-wide join; their count is the fringe,
      not the corpus.  Every point is classified by a broadcast
      left-semi/anti against the 9-dilated B-cell cover (bounded by
      the domain selection: <= 9 x occupied cells).
    - max(min) folds as before; near/far minima union BEFORE the max,
      so the result is the exact discrete Hausdorff — verified
      row-identical to the all-pairs baseline at three scales
      (tests/test_spark_layer.py) and by the unchanged sf0.01 oracle.

    FULL SQL ORACLE (_sql_hausdorff_pairs): the unexploded theta join
    with identical integer arithmetic."""
    pts = _points(spark, sf_dir)
    dom = F.col("domain").cast("long")
    t = (pts.select(dom.alias("dom"), _page_seq().alias("pid"), *_udeg_xy())
         .where((F.col("dom") >= HAUS_DOM_LO) & (F.col("dom") <= HAUS_DOM_HI)))
    # density gate (measured crossover): at <= 600k pages the selected
    # footprints are ~3k points total and the grid plan's ~10 extra
    # stages cost more than the microjoin they avoid (sf0.1: all-pairs
    # 1.0 s vs grid 4.2 s); at sf1 the grid path wins 2.3x (6.7 s vs
    # 15.8 s) and the gap widens with footprint size.  sf<=0.1 keeps
    # the all-pairs plan, so oracles and bench history are unchanged.
    if _n_pages(sf_dir) <= 600_000:
        return _hausdorff_allpairs(t)
    return _hausdorff_grid(t)


def _hausdorff_grid(t: DataFrame, cell: int = HAUS_CELL) -> DataFrame:
    """Exact grid-pruned discrete Hausdorff over (dom, pid, x, y) —
    see q_hausdorff_pairs for the completeness argument."""
    s = float(cell)  # power of two: x/s and floor() are exact in double
    t = (t.withColumn("cx", F.floor(F.col("x") / s).cast("long"))
          .withColumn("cy", F.floor(F.col("y") / s).cast("long")))
    partner = F.explode(F.array(*[
        F.lit(j).cast("long") for j in range(HAUS_DOM_LO, HAUS_DOM_HI + 1)]))
    left = (t.withColumn("partner", partner)
            .where(F.col("partner") != F.col("dom")))
    right = t.select(F.col("dom").alias("partner"),
                     F.col("x").alias("bx"), F.col("y").alias("by"))
    # 9-dilated occupied-cell cover of each partner domain (tiny)
    cells = t.select(F.col("dom").alias("partner"), "cx", "cy").distinct()
    bcell9 = (cells.select("partner", F.explode(F.array(*[
                  F.struct((F.col("cx") + dx).alias("cx"),
                           (F.col("cy") + dy).alias("cy"))
                  for dx in (-1, 0, 1) for dy in (-1, 0, 1)])).alias("c"))
              .select("partner", "c.cx", "c.cy").distinct())
    near = left.join(F.broadcast(bcell9), ["partner", "cx", "cy"],
                     "left_semi")
    far = left.join(F.broadcast(bcell9), ["partner", "cx", "cy"],
                    "left_anti")
    # B-points replicated to their 49-cell cover -> near nn is an
    # equi-join on the exact cell key (complete for near points)
    b49 = (t.select(F.col("dom").alias("partner"),
                    F.col("x").alias("bx"), F.col("y").alias("by"),
                    F.explode(F.array(*[
                        F.struct((F.col("cx") + dx).alias("cx"),
                                 (F.col("cy") + dy).alias("cy"))
                        for dx in range(-3, 4) for dy in range(-3, 4)]))
                    .alias("c"))
           .select("partner", "bx", "by", "c.cx", "c.cy"))
    d2 = ((F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx"))
          + (F.col("y") - F.col("by")) * (F.col("y") - F.col("by")))
    near_nn = (near.join(b49, ["partner", "cx", "cy"])
               .groupBy("dom", "partner", "pid")
               .agg(F.min(d2).alias("mind2")))
    far_nn = (far.join(right, "partner")
              .groupBy("dom", "partner", "pid")
              .agg(F.min(d2).alias("mind2")))
    h = (near_nn.unionByName(far_nn)
         .groupBy("dom", "partner").agg(F.max("mind2").alias("h2")))
    return (h.select(F.least("dom", "partner").alias("dom_a"),
                     F.greatest("dom", "partner").alias("dom_b"), "h2")
            .groupBy("dom_a", "dom_b")
            .agg(F.round(F.sqrt(F.max("h2")), 3).alias("hausdorff_udeg")))


def _hausdorff_allpairs(t: DataFrame) -> DataFrame:
    """The pre-r5 exact all-pairs baseline (|D| * sum |dom|^2 work) —
    kept as the equivalence oracle for _hausdorff_grid."""
    partner = F.explode(F.array(*[
        F.lit(j).cast("long") for j in range(HAUS_DOM_LO, HAUS_DOM_HI + 1)]))
    left = (t.withColumn("partner", partner)
            .where(F.col("partner") != F.col("dom")))
    right = t.select(F.col("dom").alias("partner"),
                     F.col("x").alias("bx"), F.col("y").alias("by"))
    d2 = ((F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx"))
          + (F.col("y") - F.col("by")) * (F.col("y") - F.col("by")))
    mind = (left.join(right, "partner")
            .groupBy("dom", "partner", "pid")
            .agg(F.min(d2).alias("mind2")))
    h = mind.groupBy("dom", "partner").agg(F.max("mind2").alias("h2"))
    return (h.select(F.least("dom", "partner").alias("dom_a"),
                     F.greatest("dom", "partner").alias("dom_b"), "h2")
            .groupBy("dom_a", "dom_b")
            .agg(F.round(F.sqrt(F.max("h2")), 3).alias("hausdorff_udeg")))


def _sql_hausdorff_pairs(n: int) -> str:
    return f"""WITH {_pages_cte(n)},
t AS (SELECT CAST(domain AS BIGINT) AS dom, i AS pid, {_sql_udeg_xy()}
      FROM pages
      WHERE CAST(domain AS BIGINT) BETWEEN {HAUS_DOM_LO} AND {HAUS_DOM_HI}),
m AS (SELECT a.dom, b.dom AS partner, a.pid,
             MIN((a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y)) AS mind2
      FROM t a JOIN t b ON a.dom <> b.dom
      GROUP BY 1, 2, 3),
h AS (SELECT dom, partner, MAX(mind2) AS h2 FROM m GROUP BY 1, 2)
SELECT LEAST(dom, partner) AS dom_a, GREATEST(dom, partner) AS dom_b,
       ROUND(SQRT(MAX(h2)), 3) AS hausdorff_udeg
FROM h GROUP BY 1, 2"""


def q_cluster_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supercluster-style marker placement: per z6 cell, the page count
    and the exact centroid of its points — the primitive map renderers
    use to place one aggregated marker per cluster at each zoom.

    The coordinates are 6-dp decimals by contract (extraction is a
    %.6f round-trip), so each one is recovered as an exact micro-degree
    BIGINT; the centroid is an exact integer sum floored once into
    micro-degrees — order-independent under any partial-agg reorder (a
    naive AVG(lat) over doubles is partitioning-dependent) and free of
    round-half landmines (sum/n lands exactly on .5 µdeg whenever n is
    even, where HALF_UP engines disagree with round-to-nearest ones).
    One shuffle."""
    pts = _points(spark, sf_dir)
    agg = (pts.select(cells.cell_id(F.col("lon"), F.col("lat"), 6)
                      .alias("cell6"), _udeg("lat").alias("lat6"),
                      _udeg("lon").alias("lon6"))
           .groupBy("cell6")
           .agg(F.count("*").alias("n_pages"),
                F.sum("lat6").alias("slat"), F.sum("lon6").alias("slon")))
    # floor(sum/n): the double quotient's error (~1e-8 µdeg) is far
    # below the 1/n >= 1.6e-6 gap to the nearest integer, so the floor
    # is exact in both engines
    return agg.select(
        "cell6", "n_pages",
        F.floor(F.col("slat").cast("double") / F.col("n_pages"))
        .cast("long").alias("c_lat6"),
        F.floor(F.col("slon").cast("double") / F.col("n_pages"))
        .cast("long").alias("c_lon6"))


def _sql_cluster_centroids(n: int) -> str:
    return f"""WITH {_pages_cte(n)}
SELECT {cells.cell_id_sql('lon', 'lat', 6)} AS cell6,
       COUNT(*) AS n_pages,
       CAST(FLOOR(CAST(SUM({_sql_udeg('lat')}) AS DOUBLE)
                  / COUNT(*)) AS BIGINT) AS c_lat6,
       CAST(FLOOR(CAST(SUM({_sql_udeg('lon')}) AS DOUBLE)
                  / COUNT(*)) AS BIGINT) AS c_lon6
FROM pages GROUP BY 1"""


QUANTILES = [(50, "p50"), (90, "p90"), (99, "p99")]


def q_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language token-count quantiles (the Gopher length-
    filter calibration stat): p50/p90/p99 as 'smallest v with
    cum_count >= ceil(q*n)' — a pure cumulative-sum definition with no
    engine-private percentile sketch, so both engines agree exactly.

    Plan: one shuffle on (lang, n_tokens) for the value histogram, a
    window cumsum WITHIN each lang partition (partition-local, no
    global sort), then a min per quantile.  The histogram is at most
    |langs| x |distinct lengths| rows — tiny relative to the corpus."""
    docs = _docs(spark, sf_dir)
    n_tok = F.size(analysis.tokens(F.col("text"))).cast("long")
    hist = (docs.select("lang", n_tok.alias("v"))
            .groupBy("lang", "v").agg(F.count("*").alias("c")))
    w = Window.partitionBy("lang").orderBy("v") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = (hist.withColumn("cum", F.sum("c").over(w))
           .withColumn("n", F.sum("c").over(Window.partitionBy("lang"))))
    aggs = [F.min(F.when(F.col("cum") >= F.ceil(F.col("n") * q / 100),
                         F.col("v"))).alias(name)
            for q, name in QUANTILES]
    return (cum.groupBy("lang")
            .agg(F.max("n").alias("n_docs"), *aggs)
            .select("lang", F.col("n_docs").cast("long").alias("n_docs"),
                    *[F.col(nm).cast("long").alias(nm)
                      for _, nm in QUANTILES]))


def _sql_token_quantiles() -> str:
    n_tok = _sql_text_stats()["n_tok"]
    sel = ", ".join(
        f"MIN(CASE WHEN cum >= CEIL(n * {q} / 100) THEN v END) AS {nm}"
        for q, nm in QUANTILES)
    return f"""WITH hist AS (
  SELECT lang, CAST({n_tok} AS BIGINT) AS v, COUNT(*) AS c
  FROM documents GROUP BY 1, 2
), cum AS (
  SELECT lang, v, c,
         SUM(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
         SUM(c) OVER (PARTITION BY lang) AS n
  FROM hist
)
SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
       {sel}
FROM cum GROUP BY 1"""


ADAPT_CAP = 256  # max pages per serving tile in the adaptive cut


def q_adaptive_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quadtree tiling: the variable-resolution cut where every
    non-empty region gets the SHALLOWEST tile holding <= ADAPT_CAP
    pages (dense cities split deep, sparse ocean stays coarse); z_max
    tiles still over cap are flagged overflow.  See
    proj_spark/spatial/adaptive.py for the partition-exactly-once
    argument and the tile-rows-only join plan."""
    from proj_spark.spatial import adaptive, pyramid
    pts = _points(spark, sf_dir)
    pyr = pyramid.tile_pyramid(pts, PYRAMID_Z_MAX, PYRAMID_Z_MIN)
    return adaptive.adaptive_cut(pyr, PYRAMID_Z_MIN, PYRAMID_Z_MAX,
                                 ADAPT_CAP)


def _sql_adaptive_tiles(n: int) -> str:
    levels = []
    for z in range(PYRAMID_Z_MAX, PYRAMID_Z_MIN - 1, -1):
        levels.append(f"""SELECT {z} AS zoom,
       {cells.tile_x_sql('lon', z)} AS tile_x,
       {cells.tile_y_sql('lat', z)} AS tile_y,
       COUNT(*) AS n
FROM pages GROUP BY 2, 3""")
    union = "\nUNION ALL\n".join(levels)
    return f"""WITH {_pages_cte(n)},
lv AS (
{union}
)
SELECT CAST(c.zoom AS INT) AS zoom, c.tile_x, c.tile_y,
       CAST(c.n AS BIGINT) AS n_pages, c.n > {ADAPT_CAP} AS overflow
FROM lv c LEFT JOIN (SELECT * FROM lv WHERE n > {ADAPT_CAP}) p
  ON p.zoom = c.zoom - 1 AND p.tile_x = c.tile_x // 2
 AND p.tile_y = c.tile_y // 2
WHERE (c.n <= {ADAPT_CAP}
       AND (c.zoom = {PYRAMID_Z_MIN} OR p.zoom IS NOT NULL))
   OR (c.zoom = {PYRAMID_Z_MAX} AND c.n > {ADAPT_CAP})"""


# GPT-3-style decontamination: benchmark set = every 10th doc (id % 10
# == 7); a training doc is contaminated when it shares an exact token
# 13-gram with any benchmark doc (the testdata's planted near-dups make
# this non-trivial: partial-overlap fractions, not just exact dups).
CONTAM_MOD = 10
CONTAM_REM = 7


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark 13-gram decontamination over the documents corpus.
    See proj_spark/text/contamination.py for the broadcast-the-benchmark
    plan (the corpus side sees exactly one wide stage)."""
    from proj_spark.text import contamination
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return contamination.contamination_stats(
        docs, lambda i: i % CONTAM_MOD == CONTAM_REM)


def _sql_decontaminate() -> str:
    nn = 13
    return f"""WITH t AS (SELECT doc_id, {_sql_toks()} AS toks FROM documents),
ngr AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(toks[i+1:i+{nn}], ' ')
                 for i in generate_series(0, len(toks) - {nn})])) AS ng
  FROM t WHERE len(toks) >= {nn}
),
bench AS (SELECT DISTINCT ng FROM ngr
          WHERE doc_id % {CONTAM_MOD} = {CONTAM_REM}),
train AS (SELECT doc_id, ng FROM ngr
          WHERE doc_id % {CONTAM_MOD} != {CONTAM_REM}),
sizes AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM train GROUP BY 1),
hits AS (SELECT doc_id, COUNT(*) AS n_hits FROM train
         WHERE ng IN (SELECT ng FROM bench) GROUP BY 1)
SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
       CAST(n_ngrams AS BIGINT) AS n_ngrams,
       CAST(n_hits AS BIGINT) AS n_hits,
       ROUND(CAST(n_hits AS DOUBLE) / n_ngrams, 6) AS hit_frac
FROM sizes s JOIN hits h ON s.doc_id = h.doc_id"""


def q_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — the broadcast-bitset scale path
    of q_decontaminate: the benchmark split is hashed ONCE into a
    16 KiB bitset and the whole corpus probes it inside a single
    map-side Arrow stage (zero joins/shuffles on the big side; the
    false-positive rate is a deterministic, budgeted property of the
    m/k parameters).  See proj_spark/text/bloom.py.

    FULL SQL ORACLE (_sql_bloom_decontam): rebuilds the identical M61
    char-32-gram hashes and double-hashed bit positions in SQL and
    tests membership relationally — bit collisions (the FPs) included,
    so the comparison is value-exact, not statistical."""
    from proj_spark.text import bloom
    docs = _docs_raw(spark, sf_dir).select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % CONTAM_MOD == CONTAM_REM)
    words = bloom.build_bloom_bits(bench)
    train = docs.where(F.col("doc_id") % CONTAM_MOD != CONTAM_REM)
    return bloom.bloom_stats(train, words)


def _sql_bloom_decontam() -> str:
    from proj_spark.text.bloom import (BLOOM_K, GRAM_WIDTH, gram_hash_sql,
                                       positions_sql)
    hv = gram_hash_sql("text", "p", GRAM_WIDTH)
    pos = positions_sql("hv", "i.i")
    return f"""WITH g AS (
  SELECT DISTINCT doc_id, {hv} AS hv
  FROM documents,
       UNNEST(generate_series(1, greatest(len(text) - {GRAM_WIDTH - 1}, 0)))
         AS t(p)
), pos AS (
  SELECT doc_id, hv, {pos} AS bp
  FROM g CROSS JOIN (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS i) i
), bench_bits AS (
  SELECT DISTINCT bp FROM pos WHERE doc_id % {CONTAM_MOD} = {CONTAM_REM}
), memb AS (
  SELECT doc_id, hv,
         COUNT(*) FILTER (WHERE bp IN (SELECT bp FROM bench_bits))
           = {BLOOM_K} AS member
  FROM pos WHERE doc_id % {CONTAM_MOD} != {CONTAM_REM}
  GROUP BY doc_id, hv
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       ROUND(CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS hit_frac
FROM memb GROUP BY 1"""


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Pareto skyline of (token count, distinct-token
    count): the non-dominated docs on the length-vs-vocabulary plane —
    the data-selection frontier operator.  See
    proj_spark/text/curation.py pareto_skyline for the pre-aggregate
    plan (the frontier is computed on the tiny (lang, n_tokens)
    distinct-value relation, never by windowing the corpus; the big
    side pays one partial-agg shuffle + a broadcast probe).

    FULL SQL ORACLE (_sql_skyline): the literal NOT-EXISTS dominance
    anti-join — a different algorithm; exact integer metrics, exact
    row set."""
    from proj_spark.text.curation import pareto_skyline
    toks = analysis.tokens(F.col("text"))
    m = _docs(spark, sf_dir).select(
        "lang", F.col("doc_id").cast("long").alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"))
    return pareto_skyline(m, "lang", "doc_id", "n_tokens", "n_uniq")


def _sql_skyline() -> str:
    toks = _sql_toks()
    return f"""WITH m AS (
  SELECT lang, CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len({toks}) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct({toks})) AS BIGINT) AS n_uniq
  FROM documents
)
SELECT lang, doc_id, n_tokens, n_uniq FROM m t
WHERE NOT EXISTS (
  SELECT 1 FROM m o
  WHERE o.lang = t.lang
    AND o.n_tokens >= t.n_tokens AND o.n_uniq >= t.n_uniq
    AND (o.n_tokens > t.n_tokens OR o.n_uniq > t.n_uniq))"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score: per-document mean bigram
    conditional probability under the corpus's own bigram model,
    micro-quantized by exact integer division (no float accumulation).
    See proj_spark/text/contamination.py bigram_lm_scores."""
    from proj_spark.text import contamination
    return contamination.bigram_lm_scores(
        _docs(spark, sf_dir).select("doc_id", "text"))


def _sql_lm_score() -> str:
    return f"""WITH t AS (SELECT doc_id, {_sql_toks()} AS toks FROM documents),
bgl AS (
  SELECT doc_id,
         unnest([{{'w1': toks[i+1], 'bg': toks[i+1] || ' ' || toks[i+2]}}
                 for i in generate_series(0, len(toks) - 2)]) AS b
  FROM t WHERE len(toks) >= 2
),
bgf AS (SELECT doc_id, b.w1 AS w1, b.bg AS bigram FROM bgl),
cb AS (SELECT bigram, COUNT(*) AS cb FROM bgf GROUP BY 1),
cw AS (SELECT w1, COUNT(*) AS cw FROM bgf GROUP BY 1),
sc AS (SELECT doc_id, (1000000 * cb.cb) // cw.cw AS micro
       FROM bgf JOIN cb USING (bigram) JOIN cw USING (w1))
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(micro) AS BIGINT) AS sum_micro,
       ROUND(CAST(SUM(micro) AS DOUBLE) / COUNT(*), 4) AS avg_micro
FROM sc GROUP BY 1"""


def _pii_text_col() -> "F.Column":
    """Deterministic PII overlay: 2/3 of docs get a synthetic contact
    block (email; or email + phone + IPv4) derived from doc_id by pure
    integer arithmetic, so the oracle regenerates the identical bytes."""
    i = F.col("doc_id")
    m = F.pmod(i, F.lit(97)).cast("string")
    p4 = F.lpad(F.pmod(i * 7919, F.lit(10000)).cast("string"), 4, "0")
    a = F.pmod(i * 13, F.lit(256)).cast("string")
    b = F.pmod(i * 29, F.lit(256)).cast("string")
    c = F.pmod(i * 53, F.lit(256)).cast("string")
    email = F.concat(F.lit(" Contact user"), i.cast("string"),
                     F.lit("@site"), m, F.lit(".example"))
    v = F.pmod(i, F.lit(3))
    contact = (
        F.when(v == 1, F.concat(email, F.lit(" for details.")))
        .when(v == 2, F.concat(
            email, F.lit(" or call +1-555-"), p4,
            F.lit("; server at 10."), a, F.lit("."), b, F.lit("."), c,
            F.lit(" today.")))
        .otherwise(F.lit("")))
    return F.concat(F.col("text"), contact)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus: count + redact emails / phones / IPv4
    (typed placeholder tokens), entirely as codegen'd regexp
    expressions — zero UDFs, zero shuffles; the canonical map-parallel
    full-corpus rewrite.  Output hashes the redacted text so the oracle
    verifies the rewrite byte-for-byte."""
    from proj_spark.text import pii
    docs = _docs_raw(spark, sf_dir).select("doc_id", "text")
    pt = _pii_text_col()
    ne, np_, ni = pii.pii_counts(pt)
    red = pii.redact(pt)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        ne.cast("long").alias("n_emails"),
        np_.cast("long").alias("n_phones"),
        ni.cast("long").alias("n_ipv4"),
        F.length(red).cast("long").alias("red_len"),
        F.md5(F.encode(red, "UTF-8")).alias("red_md5"))


def _sql_pii_redact() -> str:
    from proj_spark.text import pii
    e = pii.sql_pii_exprs("pii_text")
    return f"""WITH p AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 3 = 1 THEN
             ' Contact user' || CAST(doc_id AS VARCHAR) || '@site'
             || CAST(doc_id % 97 AS VARCHAR) || '.example for details.'
           WHEN doc_id % 3 = 2 THEN
             ' Contact user' || CAST(doc_id AS VARCHAR) || '@site'
             || CAST(doc_id % 97 AS VARCHAR) || '.example or call +1-555-'
             || lpad(CAST((doc_id * 7919) % 10000 AS VARCHAR), 4, '0')
             || '; server at 10.' || CAST((doc_id * 13) % 256 AS VARCHAR)
             || '.' || CAST((doc_id * 29) % 256 AS VARCHAR)
             || '.' || CAST((doc_id * 53) % 256 AS VARCHAR) || ' today.'
           ELSE '' END AS pii_text
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST({e['n_emails']} AS BIGINT) AS n_emails,
       CAST({e['n_phones']} AS BIGINT) AS n_phones,
       CAST({e['n_ipv4']} AS BIGINT) AS n_ipv4,
       CAST(length({e['redacted']}) AS BIGINT) AS red_len,
       md5({e['redacted']}) AS red_md5
FROM p"""


# Corridor route: NYC -> London -> Paris -> Berlin -> Moscow (city
# centers from CITY_CENTERS), 100 km half-width, top-20 per segment.
CORRIDOR_WAYPOINTS = [CITY_CENTERS[0], CITY_CENTERS[6], CITY_CENTERS[7],
                      CITY_CENTERS[8], CITY_CENTERS[13]]
CORRIDOR_D_KM = 100.0
CORRIDOR_K = 20


def q_corridor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle corridor join: the 20 nearest pages per route
    segment among pages within 100 km of it.  See
    proj_spark/spatial/corridor.py for the vector cross-track math and
    the broadcast-NLJ-with-exact-pruning-box plan (the points relation
    never shuffles before the per-segment top-k).  The oracle runs the
    UNPRUNED theta join, so it independently verifies the pruning box
    drops nothing."""
    from proj_spark.spatial import corridor
    pts = _points(spark, sf_dir)
    return corridor.corridor_topk(pts, CORRIDOR_WAYPOINTS, CORRIDOR_D_KM,
                                  CORRIDOR_K)


def _sql_corridor(n: int) -> str:
    from proj_spark.spatial import corridor
    d = corridor.dist_sql("lon", "lat")
    segs = corridor.segments_values_sql(CORRIDOR_WAYPOINTS, CORRIDOR_D_KM)
    return f"""WITH {_pages_cte(n)},
cand AS (
  SELECT seg_id, url, ROUND({d} / 1000.0, 3) AS dist_km
  FROM pages CROSS JOIN {segs}
  WHERE {d} <= {CORRIDOR_D_KM!r} * 1000.0
)
SELECT CAST(seg_id AS INT) AS seg_id, CAST(rnk AS INT) AS rnk, url, dist_km
FROM (SELECT seg_id, url, dist_km,
             ROW_NUMBER() OVER (PARTITION BY seg_id
                                ORDER BY dist_km, url) AS rnk
      FROM cand)
WHERE rnk <= {CORRIDOR_K}"""


# Map-match route: SF -> LA -> Chicago -> NYC -> DC (city centers),
# 150 km half-width — wide enough to catch the route cities' own page
# clusters, so the match population is realistic (dense blobs near
# waypoints, sparse jitter between).
MM_WAYPOINTS = [CITY_CENTERS[3], CITY_CENTERS[1], CITY_CENTERS[2],
                CITY_CENTERS[0], CITY_CENTERS[4]]
MM_D_KM = 150.0


def q_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map matching: every page within 150 km of the SF->LA->Chicago->
    NYC->DC route snaps to its nearest segment, reporting cross-track
    distance and chainage (km along the route) of the matched position
    — the GPS-trace-to-road assignment primitive, at corpus scale.
    See proj_spark/spatial/corridor.py map_match for the broadcast +
    exact-pruning-box plan (the points relation never shuffles before
    the per-point argmin) and the deterministic junction tie-break.

    FULL SQL ORACLE (_sql_map_match): the UNPRUNED theta join with the
    same shared distance/chainage SQL strings — independently proves
    the per-segment pruning boxes drop no true match."""
    from proj_spark.spatial import corridor
    pts = _points(spark, sf_dir)
    return corridor.map_match(pts, MM_WAYPOINTS, MM_D_KM)


def _sql_map_match(n: int) -> str:
    from proj_spark.spatial import corridor
    d = corridor.dist_sql("lon", "lat")
    ch = corridor.chain_sql("lon", "lat")
    segs = corridor.segments_values_sql(MM_WAYPOINTS, MM_D_KM)
    return f"""WITH {_pages_cte(n)},
cand AS (
  SELECT url, seg_id,
         ROUND({d} / 1000.0, 3) AS dist_km,
         ROUND(({ch}) / 1000.0, 3) AS chain_km
  FROM pages CROSS JOIN {segs}
  WHERE {d} <= {MM_D_KM!r} * 1000.0
)
SELECT url, CAST(seg_id AS INT) AS seg_id, dist_km, chain_km
FROM (SELECT url, seg_id, dist_km, chain_km,
             ROW_NUMBER() OVER (PARTITION BY url
                                ORDER BY dist_km, seg_id) AS rnk
      FROM cand)
WHERE rnk = 1"""


SI_CELL_UDEG = 2_000_000.0   # 2-deg PBSM grid cells (µdeg)
SI_MAX_UDEG = 2_000_000      # keep city-local hops; long-haul jumps are
                             # not crawl-path geometry (and would need
                             # segment splitting, not bigger cells)


def _crawl_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain crawl-path segments in exact µdeg ints: consecutive
    geotagged pages chained by page number, filtered to city-local
    hops (|dx|,|dy| <= {SI_MAX_UDEG} µdeg) and non-degenerate."""
    pts = _points(spark, sf_dir)
    t = pts.select("domain", _page_seq().alias("seq"), *_udeg_xy())
    w = Window.partitionBy("domain").orderBy("seq")
    segs = (t.select(F.col("seq").alias("id"), F.col("domain").alias("grp"),
                     F.col("x").alias("x1"), F.col("y").alias("y1"),
                     F.lead("x").over(w).alias("x2"),
                     F.lead("y").over(w).alias("y2"))
            .where(F.col("x2").isNotNull()
                   & (F.abs(F.col("x2") - F.col("x1")) <= SI_MAX_UDEG)
                   & (F.abs(F.col("y2") - F.col("y1")) <= SI_MAX_UDEG)
                   & ~((F.col("x1") == F.col("x2"))
                       & (F.col("y1") == F.col("y2")))))
    return segs


def q_seg_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-line overlay: which crawl-path segments of DIFFERENT
    domains properly cross?  The vector-overlay primitive (road x road,
    route x boundary) as a PBSM grid join — bin to 2-deg cells,
    equi-join on the cell, EXACT-integer orientation tests (no float
    epsilon), reference-point dedup so no distinct shuffle.  See
    proj_spark/spatial/overlay.py seg_self_join.

    FULL SQL ORACLE (_sql_seg_intersect): the unpruned theta join with
    the same integer predicate — a different algorithm (no grid, no
    dedup rule), so agreement proves the binning + reference-point
    logic drops nothing and double-counts nothing."""
    from proj_spark.spatial.overlay import seg_self_join
    segs = _crawl_segments(spark, sf_dir)
    out = seg_self_join(segs, SI_CELL_UDEG)
    return out.select("id_a", "id_b",
                      F.col("grp_a").alias("domain_a"),
                      F.col("grp_b").alias("domain_b"))


def _sql_seg_intersect(n: int) -> str:
    from proj_spark.spatial.overlay import seg_self_join_sql
    inner = seg_self_join_sql("segf")
    return f"""WITH {_pages_cte(n)},
pts AS (SELECT domain, i AS seq, {_sql_udeg_xy()} FROM pages),
segs AS (SELECT seq AS id, domain AS grp, x AS x1, y AS y1,
                LEAD(x) OVER (PARTITION BY domain ORDER BY seq) AS x2,
                LEAD(y) OVER (PARTITION BY domain ORDER BY seq) AS y2
         FROM pts),
segf AS (SELECT * FROM segs
         WHERE x2 IS NOT NULL
           AND ABS(x2 - x1) <= {SI_MAX_UDEG}
           AND ABS(y2 - y1) <= {SI_MAX_UDEG}
           AND NOT (x1 = x2 AND y1 = y2))
SELECT id_a, id_b, grp_a AS domain_a, grp_b AS domain_b
FROM ({inner})"""


KNOX_S_UDEG = 200_000     # spatial box half-width: 0.2 deg in µdeg
KNOX_T_S = 900            # temporal window: 15 min of crawl time


JC_S_UDEG = 50_000    # join-count neighbor radius (Chebyshev µdeg box)


def q_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-COUNT statistics — spatial autocorrelation for a
    CATEGORICAL attribute (page language), the nominal-data sibling of
    Moran's I / Geary's C (which cover numeric fields): for every
    unordered language pair, the OBSERVED number of neighboring page
    pairs (Chebyshev µdeg box <= {JC_S_UDEG}) vs the count EXPECTED
    under random labeling, E[l,m] = W * 2 n_l n_m / (n (n-1)) (and
    W * n_l (n_l - 1) / (n (n-1)) for l = m).  Observed >> expected on
    the diagonal means same-language pages cluster spatially.

    Exactness: observed counts, W, n and the per-language totals are
    exact BIGINTs; `expected` is ONE float expression of those exact
    integers, rounded — bit-identical in both engines.

    Plan: neighbor pairs via the 2-D grid HALF-neighborhood join (cell
    width = radius; each unordered pair generated once — same primitive
    as knox/ripley/semivariogram), one hash agg to 21 language-pair
    rows, then the tiny totals relation (6 rows + the scalar W) joins
    back broadcast.  The corpus is scanned once however large it is.

    FULL SQL ORACLE (_sql_join_counts): the full 3x3-cell box-pair
    join (_sql_udeg_pairs) with identical integer statistics."""
    pts = _points(spark, sf_dir)
    # persisted: the typed point relation feeds BOTH join sides plus
    # the language totals and the global count — four references, each
    # otherwise re-running the html scan + geotag regexes (9.4 s ->
    # ~5 s at sf0.1).  Four narrow columns, plan-keyed cache.
    t = pts.select(_page_seq().alias("pid"), "lang", *_udeg_xy()).persist()
    obs = (_udeg_pairs(t, JC_S_UDEG)
           .select(F.least("a_lang", "b_lang").alias("lang_a"),
                   F.greatest("a_lang", "b_lang").alias("lang_b"))
           .groupBy("lang_a", "lang_b")
           .agg(F.count("*").alias("n_pairs")))
    tot = t.groupBy("lang").agg(F.count("*").alias("n_l"))
    n = t.agg(F.count("*").alias("n"))
    w = obs.agg(F.sum("n_pairs").alias("w"))
    # multiply in double from the start: w * n_l^2 overflows BIGINT at
    # sf >= 1; every operand is an exact integer < 2^53, so the double
    # product is bit-identical across engines
    wd = F.col("w").cast("double")
    exp_same = (wd * F.col("la.n_l") * (F.col("la.n_l") - 1))
    exp_diff = (wd * 2 * F.col("la.n_l") * F.col("lb.n_l"))
    expected = (F.when(F.col("lang_a") == F.col("lang_b"), exp_same)
                .otherwise(exp_diff)
                / (F.col("n").cast("double") * (F.col("n") - 1)))
    return (obs
            .join(F.broadcast(tot.alias("la")),
                  F.col("lang_a") == F.col("la.lang"))
            .join(F.broadcast(tot.alias("lb")),
                  F.col("lang_b") == F.col("lb.lang"))
            .crossJoin(F.broadcast(n)).crossJoin(F.broadcast(w))
            .select("lang_a", "lang_b", "n_pairs",
                    F.round(expected, 3).alias("expected")))


def _sql_join_counts(n: int) -> str:
    S = JC_S_UDEG
    return f"""WITH {_pages_cte(n)},
t AS (SELECT i AS pid, lang, {_sql_udeg_xy()} FROM pages),
{_sql_udeg_pairs("t", S, ("lang",))},
obs AS (
  SELECT LEAST(a_lang, b_lang) AS lang_a,
         GREATEST(a_lang, b_lang) AS lang_b,
         COUNT(*) AS n_pairs
  FROM pairs GROUP BY 1, 2),
tot AS (SELECT lang, COUNT(*) AS n_l FROM t GROUP BY 1),
nn AS (SELECT COUNT(*) AS n FROM t),
ww AS (SELECT SUM(n_pairs) AS w FROM obs)
SELECT o.lang_a, o.lang_b, o.n_pairs,
       ROUND(CASE WHEN o.lang_a = o.lang_b
                  THEN CAST(w AS DOUBLE) * la.n_l * (la.n_l - 1)
                  ELSE CAST(w AS DOUBLE) * 2 * la.n_l * lb.n_l END
             / (CAST(n AS DOUBLE) * (n - 1)), 3) AS expected
FROM obs o
JOIN tot la ON o.lang_a = la.lang
JOIN tot lb ON o.lang_b = lb.lang
CROSS JOIN nn CROSS JOIN ww"""


def q_knox_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knox-style SPATIOTEMPORAL proximity join: page pairs close in
    BOTH space (Chebyshev µdeg box <= {KNOX_S_UDEG}) and time
    (|Δwarc_ts| <= {KNOX_T_S} s) — the space-time interaction
    primitive (epidemiology's Knox test; burst/event detection in web
    crawls).  All predicates are exact integers: µdeg coords and the
    page's crawl second.

    Plan: 3-D grid binning (x cell, y cell, time bucket), the LEFT
    side exploded to a HALF-neighborhood, equi-join on the cell
    triple, exact predicate.  Each unordered pair is generated exactly
    once, so there is no duplicate to dedup — no distinct shuffle, and
    (unlike the full 3x3x3 explode with an id_a < id_b filter) no
    mirror candidate built only to be discarded.  Offsets: b_pid >
    a_pid forces floor(b/T) - floor(a/T) into {0, 1}, so dt = -1 can
    never match (drops 9 of 27); for dt = 0 the pair's cell difference
    is symmetric, so only the 5 lexicographically non-negative spatial
    offsets are needed (the member of {v, -v} that is "upper" explodes
    toward the other's home cell) — 14 offsets total, and candidate
    join volume halves.  At 10^12 rows, explode the SMALLER epoch
    partition of a time-bucketed layout instead of the whole relation;
    the join stays the same.

    FULL SQL ORACLE (_sql_knox_pairs): the full 3x3-cell box-pair join
    (_sql_udeg_pairs), then the time gate."""
    pts = _points(spark, sf_dir)
    t = pts.select(_page_seq().alias("pid"), *_udeg_xy())
    S, T = KNOX_S_UDEG, KNOX_T_S
    offs = ([(dx, dy, 1) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
            + [(dx, dy, 0) for (dx, dy) in
               ((0, 0), (0, 1), (1, -1), (1, 0), (1, 1))])
    off = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                             F.lit(dt).alias("dt"),
                             F.lit(dx == 0 and dy == 0 and dt == 0)
                             .alias("home"))
                    for dx, dy, dt in offs])
    a = (t.withColumn("_o", F.explode(off))
         .select(F.col("pid").alias("a_pid"), F.col("x").alias("a_x"),
                 F.col("y").alias("a_y"), F.col("_o.home").alias("home"),
                 (F.floor(F.col("x") / F.lit(float(S)))
                  + F.col("_o.dx")).alias("cx"),
                 (F.floor(F.col("y") / F.lit(float(S)))
                  + F.col("_o.dy")).alias("cy"),
                 (F.floor(F.col("pid") / F.lit(float(T)))
                  + F.col("_o.dt")).alias("ct")))
    b = t.select(F.col("pid").alias("b_pid"), F.col("x").alias("b_x"),
                 F.col("y").alias("b_y"),
                 F.floor(F.col("x") / F.lit(float(S))).alias("cx"),
                 F.floor(F.col("y") / F.lit(float(S))).alias("cy"),
                 F.floor(F.col("pid") / F.lit(float(T))).alias("ct"))
    # dt=0 directional candidates arrive in arbitrary pid order (the
    # spatially-lower point explodes, which may be the later page):
    # emit time-ordered (earlier = pid_a), deltas signed later-earlier.
    swap = F.col("a_pid") > F.col("b_pid")
    lo = F.least("a_pid", "b_pid")
    hi = F.greatest("a_pid", "b_pid")
    return (a.join(b, ["cx", "cy", "ct"])
            .where((F.abs(F.col("a_x") - F.col("b_x")) <= S)
                   & (F.abs(F.col("a_y") - F.col("b_y")) <= S)
                   & (F.col("a_pid") != F.col("b_pid"))
                   & (hi - lo <= T)
                   & (~F.col("home") | (F.col("a_pid") < F.col("b_pid"))))
            .select(lo.alias("pid_a"), hi.alias("pid_b"),
                    F.when(swap, F.col("a_x") - F.col("b_x"))
                    .otherwise(F.col("b_x") - F.col("a_x"))
                    .alias("dx_udeg"),
                    F.when(swap, F.col("a_y") - F.col("b_y"))
                    .otherwise(F.col("b_y") - F.col("a_y"))
                    .alias("dy_udeg"),
                    (hi - lo).alias("dt_s")))


def _sql_knox_pairs(n: int) -> str:
    S, T = KNOX_S_UDEG, KNOX_T_S
    return f"""WITH {_pages_cte(n)},
t AS (SELECT i AS pid, {_sql_udeg_xy()} FROM pages),
{_sql_udeg_pairs("t", S)}
SELECT a_pid AS pid_a, b_pid AS pid_b,
       b_x - a_x AS dx_udeg, b_y - a_y AS dy_udeg,
       b_pid - a_pid AS dt_s
FROM pairs WHERE b_pid - a_pid <= {T}"""


RIPLEY_SCALES = (25_000, 50_000, 100_000)   # µdeg box half-widths


def q_ripley_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-scale pair counts (Ripley-K-style): how many page pairs
    lie within a Chebyshev µdeg box of half-width S, for three nested
    scales — the multi-distance clustering signature spatial
    statisticians read K(r) from.  ONE pass: pairs found once at the
    LARGEST scale by the 2-D grid HALF-neighborhood join — only the 5
    lexicographically non-negative offsets explode, so each unordered
    pair is generated exactly once instead of twice-then-filtered
    (same trick as knox_pairs; the home cell keeps the pid tiebreak) —
    then each pair's max(|dx|, |dy|) is bucketed into every scale it
    fits: exact integer counts, no per-scale re-scan.

    FULL SQL ORACLE (_sql_ripley_k): the full 3x3-cell box-pair join
    (_sql_udeg_pairs) with the same per-scale bucketing."""
    pts = _points(spark, sf_dir)
    t = pts.select(_page_seq().alias("pid"), *_udeg_xy())
    pairs = _udeg_pairs(t, RIPLEY_SCALES[-1]).select("d")
    scale = F.explode(F.array(*[F.lit(s) for s in RIPLEY_SCALES]))
    return (pairs.select("d", scale.alias("scale_udeg"))
            .where(F.col("d") <= F.col("scale_udeg"))
            .groupBy("scale_udeg")
            .agg(F.count("*").alias("n_pairs")))


def _sql_ripley_k(n: int) -> str:
    S = RIPLEY_SCALES[-1]
    scales = ", ".join(str(s) for s in RIPLEY_SCALES)
    return f"""WITH {_pages_cte(n)},
t AS (SELECT i AS pid, {_sql_udeg_xy()} FROM pages),
{_sql_udeg_pairs("t", S)}
SELECT scale_udeg, COUNT(*) AS n_pairs
FROM (SELECT d, unnest([{scales}]) AS scale_udeg FROM pairs)
WHERE d <= scale_udeg GROUP BY 1"""


HULL_Z = 5           # hull groups: z5 webmerc tiles (11.25 deg)


def _hull_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(tile_x, tile_y, x, y): page points as exact µdeg ints grouped
    by z5 tile — shared by the convex_hull and hull_diameter queries."""
    pts = _points(spark, sf_dir)
    return pts.select(
        cells.tile_x(F.col("lon"), HULL_Z).alias("tile_x"),
        cells.tile_y(F.col("lat"), HULL_Z).alias("tile_y"),
        *_udeg_xy())


def q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT convex hull per z5 tile over µdeg-integer page points:
    vertex count + exact 2x shoelace area.  The hull is computed as a
    DISTRIBUTIVE aggregate — local monotone-chain hulls per
    (tile, salt) slice, then a merge hull over the few surviving
    extreme vertices (hull(S) = hull(∪ hull(S_i))) — so the corpus
    side is touched once however large it is.  See
    proj_spark/spatial/hull.py.

    FULL SQL ORACLE (_sql_convex_hull): a recursive-CTE QUICKHULL — a
    different algorithm entirely — whose inserted-triangle cross
    products sum to the identical integer 2A, and whose found-vertex
    count is the identical n_hull (strict integer cross tests both
    sides: extreme vertices only, no float epsilon)."""
    from proj_spark.spatial.hull import hull_stats
    return hull_stats(_hull_points(spark, sf_dir), ["tile_x", "tile_y"])


def _quickhull_cte(n: int) -> str:
    """Shared recursive-CTE quickhull over z{Z} tile groups: CTEs
    through `edges` (every directed hull sub-edge) and `bestf` (each
    edge's farthest strictly-left point + its cross).  Used by the
    convex_hull and hull_diameter oracles."""
    tx = cells.tile_x_sql("lon", HULL_Z)
    ty = cells.tile_y_sql("lat", HULL_Z)

    def cross(ax, ay, bx, by, px, py):
        return (f"(({bx} - {ax}) * ({py} - {ay}) "
                f"- (({by} - {ay}) * ({px} - {ax})))")

    cr_e = cross("e.ax", "e.ay", "e.bx", "e.by", "p.x", "p.y")
    return f"""{_pages_cte(n)},
pts AS (SELECT DISTINCT {tx} AS tx, {ty} AS ty, {_sql_udeg_xy()}
        FROM pages),
lpt AS (SELECT tx, ty, x AS lx, y AS ly FROM (
          SELECT tx, ty, x, y,
                 ROW_NUMBER() OVER (PARTITION BY tx, ty ORDER BY x, y) AS rn
          FROM pts) WHERE rn = 1),
rpt AS (SELECT tx, ty, x AS rx, y AS ry FROM (
          SELECT tx, ty, x, y,
                 ROW_NUMBER() OVER (PARTITION BY tx, ty
                                    ORDER BY x DESC, y DESC) AS rn
          FROM pts) WHERE rn = 1),
seeds AS (SELECT l.tx, l.ty, lx, ly, rx, ry
          FROM lpt l JOIN rpt r USING (tx, ty)
          WHERE NOT (lx = rx AND ly = ry)),
seeds2 AS (SELECT tx, ty, lx AS ax, ly AS ay, rx AS bx, ry AS by
           FROM seeds
           UNION ALL
           SELECT tx, ty, rx, ry, lx, ly FROM seeds),
edges(tx, ty, ax, ay, bx, by) AS (
  SELECT tx, ty, ax, ay, bx, by FROM seeds2
  UNION ALL
  SELECT f.tx, f.ty,
         CASE s.side WHEN 0 THEN f.ax ELSE f.fx END,
         CASE s.side WHEN 0 THEN f.ay ELSE f.fy END,
         CASE s.side WHEN 0 THEN f.fx ELSE f.bx END,
         CASE s.side WHEN 0 THEN f.fy ELSE f.by END
  FROM (
    SELECT * FROM (
      SELECT e.tx, e.ty, e.ax, e.ay, e.bx, e.by, p.x AS fx, p.y AS fy,
             ROW_NUMBER() OVER (PARTITION BY e.tx, e.ty, e.ax, e.ay,
                                             e.bx, e.by
                                ORDER BY {cr_e} DESC, p.x, p.y) AS rn
      FROM edges e JOIN pts p
        ON p.tx = e.tx AND p.ty = e.ty AND {cr_e} > 0
    ) WHERE rn = 1
  ) f CROSS JOIN (VALUES (0), (1)) s(side)
),
bestf AS (
  SELECT tx, ty, fx, fy, cr FROM (
    SELECT e.tx, e.ty, p.x AS fx, p.y AS fy, {cr_e} AS cr,
           ROW_NUMBER() OVER (PARTITION BY e.tx, e.ty, e.ax, e.ay,
                                           e.bx, e.by
                              ORDER BY {cr_e} DESC, p.x, p.y) AS rn
    FROM edges e JOIN pts p
      ON p.tx = e.tx AND p.ty = e.ty AND {cr_e} > 0
  ) WHERE rn = 1
)"""


def _sql_convex_hull(n: int) -> str:
    return f"""WITH RECURSIVE {_quickhull_cte(n)},
agg AS (SELECT tx, ty, COUNT(*) AS n_f,
               SUM(cr) AS area2 FROM bestf GROUP BY 1, 2),
npts AS (SELECT tx, ty, COUNT(*) AS n FROM pts GROUP BY 1, 2)
SELECT np.tx AS tile_x, np.ty AS tile_y,
       CAST(CASE WHEN np.n = 1 THEN 1
                 ELSE 2 + COALESCE(a.n_f, 0) END AS BIGINT) AS n_hull,
       CAST(COALESCE(a.area2, 0) AS BIGINT) AS area2
FROM npts np LEFT JOIN agg a ON a.tx = np.tx AND a.ty = np.ty"""


def q_hull_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile set DIAMETER (max squared point-pair µdeg distance):
    the farthest pair of a set lies between hull vertices, so the
    distributive hull reduction (proj_spark/spatial/hull.py) makes the
    exact corpus-wide farthest-pair computable from each group's few
    extreme vertices — never a pairwise join of the raw points.

    FULL SQL ORACLE (_sql_hull_diameter): quickhull vertices via the
    shared recursive CTE, then the exact max over vertex pairs."""
    from proj_spark.spatial.hull import hull_stats
    out = hull_stats(_hull_points(spark, sf_dir), ["tile_x", "tile_y"],
                     with_diameter=True)
    return out.select("tile_x", "tile_y", "n_hull", "diam2")


def _sql_hull_diameter(n: int) -> str:
    return f"""WITH RECURSIVE {_quickhull_cte(n)},
verts AS (
  SELECT DISTINCT tx, ty, x, y FROM (
    SELECT tx, ty, lx AS x, ly AS y FROM lpt
    UNION ALL SELECT tx, ty, rx, ry FROM rpt
    UNION ALL SELECT tx, ty, fx, fy FROM bestf)
)
SELECT a.tx AS tile_x, a.ty AS tile_y,
       CAST(COUNT(DISTINCT (a.x, a.y)) AS BIGINT) AS n_hull,
       CAST(MAX((a.x - b.x) * (a.x - b.x)
                + (a.y - b.y) * (a.y - b.y)) AS BIGINT) AS diam2
FROM verts a JOIN verts b ON a.tx = b.tx AND a.ty = b.ty
GROUP BY 1, 2"""


HILBERT_BITS = 8     # 256x256 grid; buckets of 16 cells -> <=4096 rows


def q_hilbert_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus density rollup keyed by HILBERT-curve buckets — the
    locality-optimal layout key (adjacent keys are ALWAYS adjacent
    cells, so a bbox touches few, long key runs; what Z-order trades
    away at its seams).  See proj_spark/spatial/hilbert.py for the
    per-level integer state walk as chained codegen projections and
    the engine-portability notes (arithmetic XOR, %-based bit tests).

    FULL SQL ORACLE (_sql_hilbert_rollup): the identical per-level
    chain as DuckDB CTEs — integer-exact keys, exact counts.
    tests/test_hilbert.py proves the unit-step locality property and
    exhaustive scalar/Spark/DuckDB agreement."""
    from proj_spark.spatial.hilbert import hilbert_df
    pts = _points(spark, sf_dir)
    keyed = hilbert_df(pts, bits=HILBERT_BITS)
    return (keyed.groupBy(F.expr("hkey DIV 16").alias("bucket"))
            .agg(F.count("*").alias("n_pages"),
                 F.countDistinct("domain").alias("n_domains")))


def _sql_hilbert_rollup(n: int) -> str:
    from proj_spark.spatial.hilbert import hilbert_cte_sql
    chain = hilbert_cte_sql("pages", bits=HILBERT_BITS)
    return f"""WITH {_pages_cte(n)},
{chain}
SELECT hkey // 16 AS bucket,
       COUNT(*) AS n_pages,
       COUNT(DISTINCT domain) AS n_domains
FROM hilbert GROUP BY 1"""


# Douglas-Peucker area tolerance in µdeg² (|cross| of the chord and
# point vectors).  1e16 ≈ a 1-degree-deviation × 1-degree-chord scale —
# coarse enough to compress the jumpy synthetic crawl paths ~2.4x.
DP_TOL_AREA = 10_000_000_000_000_000


def q_traj_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain crawl-path simplification: Douglas-Peucker with the
    EXACT-integer triangle-area criterion over micro-degree
    coordinates.  See proj_spark/spatial/simplify.py for why area (not
    perpendicular distance) makes the recursion decisions float-free
    and the kept set engine-independent; the oracle replays the same
    recursion tree as a recursive CTE that splits every active
    interval at its deviation argmax."""
    from proj_spark.spatial.simplify import simplify_stats
    pts = _points(spark, sf_dir)
    t = pts.select("domain", _page_seq().alias("seq"), "lat", "lon")
    return simplify_stats(t, DP_TOL_AREA)


def _sql_traj_simplify(n: int) -> str:
    dev = "ABS((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x))"
    return f"""WITH RECURSIVE {_pages_cte(n)},
pts AS (SELECT domain, i AS seq, {_sql_udeg_xy()} FROM pages),
bounds AS (SELECT domain, MIN(seq) AS lo, MAX(seq) AS hi
           FROM pts GROUP BY 1),
iv(domain, lo, hi) AS (
  SELECT domain, lo, hi FROM bounds
  UNION ALL
  SELECT s.domain,
         CASE WHEN c.side = 0 THEN s.lo ELSE s.m END,
         CASE WHEN c.side = 0 THEN s.m ELSE s.hi END
  FROM (
    SELECT domain, lo, hi, m, dev FROM (
      SELECT iv.domain, iv.lo, iv.hi, p.seq AS m, {dev} AS dev,
             ROW_NUMBER() OVER (PARTITION BY iv.domain, iv.lo, iv.hi
                                ORDER BY {dev} DESC, p.seq) AS rn
      FROM iv
      JOIN pts a ON a.domain = iv.domain AND a.seq = iv.lo
      JOIN pts b ON b.domain = iv.domain AND b.seq = iv.hi
      JOIN pts p ON p.domain = iv.domain
                AND p.seq > iv.lo AND p.seq < iv.hi
    ) WHERE rn = 1 AND dev > {DP_TOL_AREA}
  ) s CROSS JOIN (VALUES (0), (1)) c(side)
),
kept AS (
  -- DISTINCT over UNION ALL, deliberately: plain UNION fails to
  -- deduplicate rows streamed out of the recursive buffer in this
  -- shape (duckdb quirk, reproduced on 1.x)
  SELECT DISTINCT domain, seq FROM (
    SELECT domain, lo AS seq FROM iv
    UNION ALL
    SELECT domain, hi AS seq FROM iv)
),
np_ AS (SELECT domain, COUNT(*) AS n_pts FROM pts GROUP BY 1),
nk AS (SELECT domain, COUNT(*) AS n_kept,
              CAST(SUM(seq) AS BIGINT) AS kept_seq_sum
       FROM kept GROUP BY 1)
SELECT np_.domain AS domain, n_pts, n_kept, kept_seq_sum,
       ROUND(CAST(n_kept AS DOUBLE) / n_pts, 6) AS kept_frac
FROM np_ JOIN nk ON np_.domain = nk.domain"""


# ---------------------------------------------------------------------------
# queries — OLAP rollup, mergeable KMV sketch, spatiotemporal trend
# ---------------------------------------------------------------------------

CUBE_Z = 5


def q_tile_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity OLAP CUBE over (z{CUBE_Z} tile, lang): page and
    distinct-domain counts at every grouping-set granularity — per
    (tile, lang), per tile, per lang, and the grand total — in ONE pass
    (Spark expands the cube map-side; each grouping set still benefits
    from partial aggregation, so the big side is scanned once, not four
    times).  The grouping id disambiguates the rolled-up rows; NULL keys
    are COALESCEd to sentinels (-1 / 'ALL') so the result is
    engine-portable (no NULL-vs-NaN ambiguity in the compare).

    FULL SQL ORACLE (_sql_tile_cube): GROUP BY CUBE with the same
    GROUPING() arithmetic."""
    pts = _points(spark, sf_dir)
    mult = 1 << CUBE_Z
    t = pts.select(
        (cells.tile_x(F.col("lon"), CUBE_Z) * mult
         + cells.tile_y(F.col("lat"), CUBE_Z)).alias("tile"),
        "lang", "domain")
    return (t.cube("tile", "lang")
            .agg(F.count("*").alias("n_pages"),
                 F.countDistinct("domain").alias("n_domains"),
                 (F.grouping("tile") * 2 + F.grouping("lang")).alias("gid"))
            .select(F.coalesce(F.col("tile"), F.lit(-1)).alias("tile"),
                    F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang"),
                    "gid", "n_pages", "n_domains"))


def _sql_tile_cube(n: int) -> str:
    mult = 1 << CUBE_Z
    tx = cells.tile_x_sql("lon", CUBE_Z)
    ty = cells.tile_y_sql("lat", CUBE_Z)
    return f"""WITH {_pages_cte(n)},
t AS (SELECT {tx} * {mult} + {ty} AS tile, lang, domain FROM pages)
SELECT COALESCE(tile, -1) AS tile, COALESCE(lang, 'ALL') AS lang,
       GROUPING(tile) * 2 + GROUPING(lang) AS gid,
       COUNT(*) AS n_pages, COUNT(DISTINCT domain) AS n_domains
FROM t GROUP BY CUBE(tile, lang)"""


KMV_K = 32                 # bottom-k sketch size
KMV_RANGE = 1 << 31        # hash31 codomain


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per z6 cell: the
    K={KMV_K} smallest hash31 values of the cell's domains, the kth
    smallest h_k, and the Beyer et al. estimator (K-1)*2^31 div h_k —
    EXACT integer division, so the estimate is oracle-replayable to the
    unit (unlike approx_count_distinct's engine-private HLL++).  Cells
    holding fewer than K distinct hashes fall back to the exact count.

    Bottom-k sets merge by union-then-bottom-k (mergeable under any
    partial-agg reorder), the same property the engine's HLL and CMS
    sketches have; at 10^12 rows the per-cell window is bounded by the
    cell's DISTINCT domain count, never its row count, because the
    distinct() runs first.

    FULL SQL ORACLE (_sql_kmv_distinct): same hash, same window, same
    integer division in DuckDB."""
    from proj_spark.text.curation import hash31
    pts = _points(spark, sf_dir)
    d = (pts.select(
            cells.cell_id(F.col("lon"), F.col("lat"), 6).alias("cell6"),
            F.col("domain").cast("long").alias("dom"))
         .distinct())
    hs = d.select("cell6", hash31(F.col("dom")).alias("h")).distinct()
    w = Window.partitionBy("cell6").orderBy("h")
    sk = (hs.withColumn("rn", F.row_number().over(w))
          .where(F.col("rn") <= KMV_K)
          .groupBy("cell6")
          .agg(F.max("h").alias("h_k"), F.count("*").alias("k_used")))
    exact = d.groupBy("cell6").agg(F.countDistinct("dom").alias("n_exact"))
    est = F.when(F.col("k_used") < KMV_K, F.col("k_used")).otherwise(
        F.expr(f"({KMV_K - 1} * {KMV_RANGE}) div h_k"))
    return (sk.join(exact, "cell6")
            .select("cell6", "n_exact", "k_used", "h_k", est.alias("est")))


def _sql_kmv_distinct(n: int) -> str:
    from proj_spark.text.curation import hash31_sql
    cid = cells.cell_id_sql("lon", "lat", 6)
    return f"""WITH {_pages_cte(n)},
d AS (SELECT DISTINCT {cid} AS cell6, CAST(domain AS BIGINT) AS dom
      FROM pages),
hs AS (SELECT DISTINCT cell6, {hash31_sql('dom')} AS h FROM d),
r AS (SELECT cell6, h,
             ROW_NUMBER() OVER (PARTITION BY cell6 ORDER BY h) AS rn
      FROM hs),
sk AS (SELECT cell6, MAX(h) AS h_k, COUNT(*) AS k_used
       FROM r WHERE rn <= {KMV_K} GROUP BY cell6),
ex AS (SELECT cell6, COUNT(DISTINCT dom) AS n_exact FROM d GROUP BY cell6)
SELECT sk.cell6 AS cell6, n_exact, k_used, h_k,
       CASE WHEN k_used < {KMV_K} THEN k_used
            ELSE ({KMV_K - 1} * {KMV_RANGE}) // h_k END AS est
FROM sk JOIN ex ON sk.cell6 = ex.cell6"""


MK_BUCKETS = 8          # Mann-Kendall time buckets
MK_Z = 5                # trend tiles: z5
MK_THRESH = 10          # |S| >= 10 of max 28 -> trend call


def q_hotspot_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emerging-hotspot trend per z{MK_Z} tile: the Mann-Kendall S
    statistic over the tile's page counts in {MK_BUCKETS} equal crawl-
    time buckets — S = sum over bucket pairs i<j of sign(c_j - c_i), an
    EXACT integer (the nonparametric trend test ArcGIS's emerging-
    hotspot analysis runs per space-time-cube bin).  Missing buckets
    count as 0, so the series is densified (tile x bucket grid) before
    the pair scan; the pair self-join is over the {MK_BUCKETS}-row
    per-tile series — bounded by buckets², never by rows.

    FULL SQL ORACLE (_sql_hotspot_trend): same densify + sign-pair
    arithmetic."""
    pts = _points(spark, sf_dir)
    n = _n_pages(sf_dir)
    seq = _page_seq()
    # floor((seq*B)/n) on doubles is exact here: seq*B < 2^53 and a
    # non-integer quotient sits >= 1/n from the next integer, far above
    # double rounding error — so it equals the oracle's integer // .
    ev = pts.select(
        cells.tile_x(F.col("lon"), MK_Z).alias("tx"),
        cells.tile_y(F.col("lat"), MK_Z).alias("ty"),
        F.floor((seq * MK_BUCKETS) / F.lit(float(n))).cast("long")
        .alias("bucket"))
    counts = ev.groupBy("tx", "ty", "bucket").agg(F.count("*").alias("c"))
    tiles = counts.select("tx", "ty").distinct()
    buckets = spark.range(MK_BUCKETS).select(F.col("id").alias("bucket"))
    dense = (tiles.crossJoin(F.broadcast(buckets))
             .join(counts, ["tx", "ty", "bucket"], "left")
             .select("tx", "ty", "bucket",
                     F.coalesce(F.col("c"), F.lit(0)).alias("c")))
    a = dense.select("tx", "ty", F.col("bucket").alias("b1"),
                     F.col("c").alias("c1"))
    b = dense.select("tx", "ty", F.col("bucket").alias("b2"),
                     F.col("c").alias("c2"))
    sgn = (F.when(F.col("c2") > F.col("c1"), 1)
           .when(F.col("c2") < F.col("c1"), -1).otherwise(0))
    s = (a.join(b, ["tx", "ty"]).where(F.col("b1") < F.col("b2"))
         .groupBy("tx", "ty")
         .agg(F.sum(sgn).alias("s_stat")))
    tot = counts.groupBy("tx", "ty").agg(F.sum("c").alias("n_total"))
    trend = (F.when(F.col("s_stat") >= MK_THRESH, "rising")
             .when(F.col("s_stat") <= -MK_THRESH, "falling")
             .otherwise("flat"))
    return (s.join(tot, ["tx", "ty"])
            .select("tx", "ty", "n_total", "s_stat", trend.alias("trend")))


def _sql_hotspot_trend(n: int) -> str:
    tx = cells.tile_x_sql("lon", MK_Z)
    ty = cells.tile_y_sql("lat", MK_Z)
    return f"""WITH {_pages_cte(n)},
ev AS (SELECT {tx} AS tx, {ty} AS ty,
              (i * {MK_BUCKETS}) // {n} AS bucket
       FROM pages),
counts AS (SELECT tx, ty, bucket, COUNT(*) AS c FROM ev GROUP BY 1, 2, 3),
tiles AS (SELECT DISTINCT tx, ty FROM counts),
dense AS (SELECT t.tx, t.ty, b.range AS bucket, COALESCE(c.c, 0) AS c
          FROM tiles t CROSS JOIN range(0, {MK_BUCKETS}) b
          LEFT JOIN counts c
            ON c.tx = t.tx AND c.ty = t.ty AND c.bucket = b.range),
s AS (SELECT a.tx, a.ty,
             SUM(CASE WHEN b.c > a.c THEN 1
                      WHEN b.c < a.c THEN -1 ELSE 0 END) AS s_stat
      FROM dense a JOIN dense b
        ON a.tx = b.tx AND a.ty = b.ty AND a.bucket < b.bucket
      GROUP BY 1, 2),
tot AS (SELECT tx, ty, SUM(c) AS n_total FROM counts GROUP BY 1, 2)
SELECT s.tx AS tx, s.ty AS ty, CAST(n_total AS BIGINT) AS n_total,
       CAST(s_stat AS BIGINT) AS s_stat,
       CASE WHEN s_stat >= {MK_THRESH} THEN 'rising'
            WHEN s_stat <= -{MK_THRESH} THEN 'falling'
            ELSE 'flat' END AS trend
FROM s JOIN tot ON s.tx = tot.tx AND s.ty = tot.ty"""


# ---------------------------------------------------------------------------
# queries — relational layer over the driver's TPC-H-ish tables
# ---------------------------------------------------------------------------

# l_shipdate <= 1998-09-02  ==  epoch micros < 1998-09-03T00:00Z
_Q1_CUTOFF_US = 904_694_400 * 1_000_000
# o_orderdate in [1996-01-01, 1997-01-01)
_Q5_LO_US = 820_454_400 * 1_000_000
_Q5_HI_US = 852_076_800 * 1_000_000


def _money_cents(col: F.Column) -> F.Column:
    """Deterministic cents quantization: round(x*100) as BIGINT.  The
    double multiply and the positive-value half-away round are bit-
    identical across Spark and DuckDB, so every downstream sum is an
    EXACT integer — order-independent under any partial-agg reorder."""
    return F.round(col * 100, 0).cast("long")


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary over the driver's REAL lineitem
    parquet: per (returnflag, linestatus) exact integer sums of
    quantity, base price cents, discounted price (cents x100) and
    charge (cents x10^4), plus exact-rational milli-averages — no float
    accumulation anywhere, so the result is independent of partial-agg
    order (the classic Q1 double-SUM is NOT).  The shipdate gate
    compares stored epoch micros (temporal.epoch_micros), immune to the
    harness session's timezone and timestamp read mode.

    Plan: one scan, map-side partial agg into 4 groups — ReadSchema
    prunes to the 7 referenced columns.

    FULL SQL ORACLE (_sql_pricing_summary): same integer arithmetic on
    the same parquet file."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    t = li.where(temporal.epoch_micros(li, "l_shipdate") < _Q1_CUTOFF_US)
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    price_c = _money_cents(F.col("l_extendedprice"))
    disc_c = _money_cents(F.col("l_discount"))
    tax_c = _money_cents(F.col("l_tax"))
    g = (t.groupBy("l_returnflag", "l_linestatus")
         .agg(F.sum(qty).alias("sum_qty"),
              F.sum(price_c).alias("sum_base_c"),
              F.sum(price_c * (100 - disc_c)).alias("sum_disc_c2"),
              F.sum(price_c * (100 - disc_c) * (100 + tax_c))
              .alias("sum_charge_c4"),
              F.count("*").alias("count_order")))
    return g.select(
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_c",
        "sum_disc_c2", "sum_charge_c4", "count_order",
        F.expr("(sum_qty * 1000) div count_order").alias("avg_qty_milli"),
        F.expr("(sum_base_c * 1000) div count_order").alias("avg_price_c_milli"))


def _sql_pricing_summary() -> str:
    return f"""WITH t AS (
  SELECT l_returnflag, l_linestatus,
         CAST(ROUND(l_quantity, 0) AS BIGINT) AS qty,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS price_c,
         CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS disc_c,
         CAST(ROUND(l_tax * 100, 0) AS BIGINT) AS tax_c
  FROM lineitem
  WHERE epoch_us(l_shipdate) < {_Q1_CUTOFF_US}
),
g AS (
  SELECT l_returnflag, l_linestatus,
         CAST(SUM(qty) AS BIGINT) AS sum_qty,
         CAST(SUM(price_c) AS BIGINT) AS sum_base_c,
         CAST(SUM(price_c * (100 - disc_c)) AS BIGINT) AS sum_disc_c2,
         CAST(SUM(price_c * (100 - disc_c) * (100 + tax_c)) AS BIGINT)
           AS sum_charge_c4,
         COUNT(*) AS count_order
  FROM t GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_c, sum_disc_c2,
       sum_charge_c4, count_order,
       (sum_qty * 1000) // count_order AS avg_qty_milli,
       (sum_base_c * 1000) // count_order AS avg_price_c_milli
FROM g"""


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style local-supplier revenue by nation: lineitem joined
    through orders->customer and to supplier, keeping only rows where
    the customer's and supplier's nation agree, nations restricted to
    one region, orders to one year.  Revenue is the exact integer
    Σ price_c * (100 - disc_c).

    Plan shape for 10^12 rows: region+nation collapse to a broadcast
    dim; supplier x dim broadcasts onto lineitem (suppkey) so the fact
    table reaches the orderkey shuffle pre-filtered to ASIA suppliers;
    the only big exchanges are lineitem⋈orders (orderkey) and
    ⋈customer (custkey).  The date filter pushes into the orders scan.

    FULL SQL ORACLE (_sql_nation_revenue): the same join graph in
    DuckDB."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")

    dim = (nation.join(
        F.broadcast(region.where(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name"))
    s2 = (supp.join(F.broadcast(dim),
                    F.col("s_nationkey") == F.col("n_nationkey"))
          .select("s_suppkey", "n_name",
                  F.col("s_nationkey").alias("sn")))
    om = temporal.epoch_micros(orders, "o_orderdate")
    o2 = (orders.where((om >= _Q5_LO_US) & (om < _Q5_HI_US))
          .select("o_orderkey", "o_custkey"))
    c2 = cust.select("c_custkey", F.col("c_nationkey").alias("cn"))
    rev = _money_cents(F.col("l_extendedprice")) * \
        (100 - _money_cents(F.col("l_discount")))
    return (li.select("l_orderkey", "l_suppkey", rev.alias("rev_c2"))
            .join(F.broadcast(s2), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(o2, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(c2, F.col("o_custkey") == F.col("c_custkey"))
            .where(F.col("cn") == F.col("sn"))
            .groupBy("n_name")
            .agg(F.sum("rev_c2").alias("revenue_c2"),
                 F.count("*").alias("n_items"))
            .select(F.col("n_name").alias("nation"), "revenue_c2",
                    "n_items"))


def _sql_nation_revenue() -> str:
    return f"""SELECT n.n_name AS nation,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT)))
            AS BIGINT) AS revenue_c2,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND c.c_nationkey = s.s_nationkey
  AND epoch_us(o.o_orderdate) >= {_Q5_LO_US}
  AND epoch_us(o.o_orderdate) < {_Q5_HI_US}
GROUP BY 1"""


# ---------------------------------------------------------------------------
# session 13: weighted shortest paths, semivariogram, edit-distance join
# ---------------------------------------------------------------------------

SP_ROUNDS = 4        # shortest_paths: path length bound (edges)
SP_WMOD = 9          # edge weight = 1 + (src*31 + dst*17) % SP_WMOD


def q_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source-set shortest paths over the domain link
    graph: exact minimum COST (not hop count) from the seed set, over
    paths of <= SP_ROUNDS edges — bounded Bellman-Ford / infinite-delta
    delta-stepping (proj_spark/graph.py weighted_hops).  Edge weights
    are derived deterministically from the endpoint ids
    (1 + (src*31 + dst*17) % 9), so the whole computation is exact
    integer arithmetic, reproducible under any partial-agg reorder.

    Scale plan: each round joins only the IMPROVED frontier against the
    checkpointed edge relation and merges labels with ONE groupBy-min; the
    frontier shrinks as labels converge and the loop early-stops, so
    work per round is O(|frontier| x avg-degree) — the same
    level-synchronous discipline as BFS/pagerank, generalized to
    weighted label correction.

    FULL SQL ORACLE (_sql_shortest_paths): a recursive CTE carrying
    (node, dist, hops) triples with UNION dedup and a MIN(dist) rollup
    — a different evaluation strategy over the same edge set."""
    from proj_spark.graph import weighted_hops
    e0 = _domain_links(spark, sf_dir).distinct()
    edges = e0.select(
        "src", "dst",
        (F.lit(1) + (F.col("src") * 31 + F.col("dst") * 17) % SP_WMOD)
        .cast("long").alias("w"))
    seeds = (spark.range(N_DOMAINS).select(F.col("id").alias("node"))
             .where(F.col("node") % BFS_SEED_MOD == 0))
    out = weighted_hops(edges, seeds, rounds=SP_ROUNDS)
    return out.select(F.col("node").alias("domain"),
                      F.col("dist").cast("long").alias("dist"))


def _sql_shortest_paths(n: int) -> str:
    return f"""WITH RECURSIVE {_links_cte(n)},
e0 AS (SELECT DISTINCT src, dst FROM links),
e AS (SELECT src, dst, 1 + (src * 31 + dst * 17) % {SP_WMOD} AS w FROM e0),
reach(node, d, hp) AS (
  SELECT i AS node, 0 AS d, 0 AS hp
  FROM range(0, {N_DOMAINS}) t(i) WHERE i % {BFS_SEED_MOD} = 0
  UNION
  SELECT e.dst, r.d + e.w, r.hp + 1 FROM reach r JOIN e ON e.src = r.node
  WHERE r.hp < {SP_ROUNDS}
)
SELECT CAST(node AS BIGINT) AS domain, CAST(MIN(d) AS BIGINT) AS dist
FROM reach GROUP BY 1"""


SEMIVAR_LAGS = (25_000, 50_000, 100_000)   # Chebyshev µdeg lag bins
SEMIVAR_ZCELL = 50_000                     # z field smoothness scale (µdeg)


def _semivar_z(x, y):
    """Deterministic integer field value at (x, y) µdeg: a smooth
    lattice gradient (steps every SEMIVAR_ZCELL µdeg), so the variogram
    rises with lag like a real regionalized variable.  Coords shifted
    non-negative BEFORE integer division: Spark `div` truncates toward
    zero while DuckDB `//` floors, and they agree only on non-negative
    operands (same portability rule as domain_gyration)."""
    return ((x + F.lit(180_000_000)) / F.lit(SEMIVAR_ZCELL)).cast("long") * 3 \
        + ((y + F.lit(90_000_000)) / F.lit(SEMIVAR_ZCELL)).cast("long") * 5


def q_semivariogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical semivariogram — the kriging-calibration primitive:
    gamma(h) = (1 / 2N(h)) * SUM (z_i - z_j)^2 over point pairs whose
    Chebyshev µdeg separation falls in lag bin h, for 3 nested lags.
    The field z is a deterministic integer lattice gradient of the
    coordinates, so every sufficient statistic (pair count, summed
    squared difference) is exact BIGINT; gamma is ONE float division
    at the end, mirrored by the oracle.

    Scale plan: pairs are found ONCE at the LARGEST lag by the 2-D
    grid HALF-neighborhood join (cell width = max lag; only the 5
    lexicographically non-negative offsets explode, so every
    qualifying pair is generated exactly once — no dedup shuffle, no
    discarded mirror candidates; same trick as knox_pairs/ripley_k),
    then bucketed into disjoint lag rings by a CASE.  No per-lag
    re-scan, no theta join.  The squared z-difference is symmetric, so
    candidate pair order is irrelevant.

    FULL SQL ORACLE (_sql_semivariogram): the full 3x3-cell box-pair
    join (_sql_udeg_pairs) with the same CASE bucketing and integer
    statistics."""
    pts = _points(spark, sf_dir)
    t = pts.select(_page_seq().alias("pid"), *_udeg_xy())
    t = t.withColumn("z", _semivar_z(F.col("x"), F.col("y")))
    # inline, not _udeg_pairs' `d`: a thrice-read column would keep an
    # extra Project in the plan
    d = F.greatest(F.abs(F.col("a_x") - F.col("b_x")),
                   F.abs(F.col("a_y") - F.col("b_y")))
    lag = (F.when(d <= SEMIVAR_LAGS[0], F.lit(SEMIVAR_LAGS[0]))
           .when(d <= SEMIVAR_LAGS[1], F.lit(SEMIVAR_LAGS[1]))
           .otherwise(F.lit(SEMIVAR_LAGS[2])))
    sq = (F.col("a_z") - F.col("b_z")) * (F.col("a_z") - F.col("b_z"))
    return (_udeg_pairs(t, SEMIVAR_LAGS[-1])
            .select(lag.cast("long").alias("lag_udeg"), sq.alias("sq"))
            .groupBy("lag_udeg")
            .agg(F.count("*").alias("n_pairs"),
                 F.sum("sq").alias("sum_sqdiff"))
            .withColumn("gamma",
                        F.round(F.col("sum_sqdiff")
                                / (2.0 * F.col("n_pairs")), 6)))


def _sql_semivariogram(n: int) -> str:
    S = SEMIVAR_LAGS[-1]
    return f"""WITH {_pages_cte(n)},
t AS (SELECT i AS pid, {_sql_udeg_xy()} FROM pages),
tz AS (SELECT pid, x, y,
              ((x + 180000000) // {SEMIVAR_ZCELL}) * 3
              + ((y + 90000000) // {SEMIVAR_ZCELL}) * 5 AS z
       FROM t),
{_sql_udeg_pairs("tz", S, ("z",))},
p AS (SELECT d, (a_z - b_z) * (a_z - b_z) AS sq FROM pairs)
SELECT CAST(CASE WHEN d <= {SEMIVAR_LAGS[0]} THEN {SEMIVAR_LAGS[0]}
                 WHEN d <= {SEMIVAR_LAGS[1]} THEN {SEMIVAR_LAGS[1]}
                 ELSE {SEMIVAR_LAGS[2]} END AS BIGINT) AS lag_udeg,
       COUNT(*) AS n_pairs,
       CAST(SUM(sq) AS BIGINT) AS sum_sqdiff,
       ROUND(SUM(sq) / (2.0 * COUNT(*)), 6) AS gamma
FROM p GROUP BY 1"""


EDIT_SIG_DFCAP = 50   # signatures in more docs than this are dropped


def q_url_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join: all url pairs within Levenshtein
    distance 1, by SymSpell deletion-neighborhood signatures (Garbe's
    symmetric-delete scheme): sigs(s) = {s} U {s minus one char}, and
    any two strings within distance 1 share a signature — substitution
    pairs meet at a common 1-deletion, insertion/deletion pairs at the
    shorter string itself.  Candidates therefore come from ONE
    shuffle-on-signature equi-join (|s|+1 signatures per row — linear,
    never the O(n^2) cross join), capped at EDIT_SIG_DFCAP docs per
    signature exactly like ngram_pairs' shingle cap; the exact verify
    is Spark's built-in JVM `levenshtein` — this whole query runs with
    ZERO Python UDFs.

    The Spark side joins on xxhash64(sig) to keep the shuffle key
    narrow; hash collisions can only ADD candidates, which the exact
    verify removes, so the result equals the oracle's raw-string join.
    The df-cap itself is computed on raw signature strings in BOTH
    engines (the anti join is broadcast, so the strings never cross an
    exchange), so the surviving-signature set is identical.

    Shuffle slimming: only (pid, k) — 16 bytes/row — enters the
    signature self-join; the URL strings are fetched AFTER the
    candidate dedup by joining the deduped (id_a, id_b) pairs back to
    the url relation (AQE broadcasts it when it fits).  At sf0.1 the
    fat and slim plans time within co-tenant noise of each other
    (~5-7 s), but at 100 TB the strings are long and the |s|+1-way
    explode makes the string-carrying shuffle the clear bottleneck —
    the slim plan ships 16 B/row regardless of URL length.

    FULL SQL ORACLE (_sql_url_edit_pairs): the same deletion expansion
    via range+substr in DuckDB, raw-string join, DuckDB levenshtein."""
    pts = _points(spark, sf_dir)
    u = pts.select(_page_seq().alias("pid"),
                   F.expr("substring(url, 9)").alias("s"))
    sig = (u.select("pid", "s", F.explode(F.concat(
        F.array(F.col("s")),
        F.expr("transform(sequence(1, length(s)), "
               "i -> concat(substring(s, 1, i-1), substring(s, i+1)))")))
        .alias("sig")))
    hot = (sig.groupBy("sig").agg(F.count("*").alias("df"))
           .where(F.col("df") > EDIT_SIG_DFCAP).select("sig"))
    # persisted: both self-join sides read the capped 16 B/row
    # signature relation; without the barrier each side re-runs the
    # |s|+1-way explode + anti join over the corpus.
    sig = (sig.join(F.broadcast(hot), "sig", "left_anti")
           .select("pid", F.xxhash64("sig").alias("k"))
           .persist())
    a = sig.select(F.col("pid").alias("id_a"), "k")
    b = sig.select(F.col("pid").alias("id_b"), "k")
    cand = (a.join(b, "k")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b").agg(F.lit(1)))
    return (cand
            .join(u.select(F.col("pid").alias("id_a"),
                           F.col("s").alias("s_a")), "id_a")
            .join(u.select(F.col("pid").alias("id_b"),
                           F.col("s").alias("s_b")), "id_b")
            .withColumn("edit_dist",
                        F.levenshtein(F.col("s_a"), F.col("s_b"))
                        .cast("long"))
            .where(F.col("edit_dist") <= 1)
            .select("id_a", "id_b", "edit_dist"))


def _sql_url_edit_pairs(n: int) -> str:
    return f"""WITH {_pages_cte(n)},
u AS (SELECT i AS pid, substr(url, 9) AS s FROM pages),
sigs AS (
  SELECT pid, s, s AS sig FROM u
  UNION ALL
  SELECT u.pid, u.s,
         concat(substr(u.s, 1, CAST(t.i AS INT) - 1),
                substr(u.s, CAST(t.i AS INT) + 1)) AS sig
  FROM u, range(1, 256) t(i)
  WHERE t.i <= length(u.s)
),
hot AS (SELECT sig FROM sigs GROUP BY sig
        HAVING COUNT(*) > {EDIT_SIG_DFCAP}),
kept AS (SELECT * FROM sigs WHERE sig NOT IN (SELECT sig FROM hot)),
cand AS (
  SELECT DISTINCT a.pid AS id_a, b.pid AS id_b, a.s AS s_a, b.s AS s_b
  FROM kept a JOIN kept b ON a.sig = b.sig AND a.pid < b.pid)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(levenshtein(s_a, s_b) AS BIGINT) AS edit_dist
FROM cand
WHERE levenshtein(s_a, s_b) <= 1"""


# ---------------------------------------------------------------------------
# session 14: k-core peel, co-citation, bigram lift, phrase index probe
# ---------------------------------------------------------------------------

KCORE_SAMPLE_MOD = 4   # DOULION edge sampling, as in q_triangles
KCORE_ROUNDS = 4       # peel rounds (converged at sf0.01: E3 == E4)


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-core extraction: `KCORE_ROUNDS` rounds of k-core peeling
    over the sampled undirected domain link graph, with k derived from
    the data itself (mean degree + 1, exact integer division — both
    engines compute the identical k).  Peeling a node drags neighbors
    below k, so the filter iterates; the fixed round bound keeps the
    result deterministic and SQL-unrollable, exactly like pagerank's
    fixed iters (at sf0.01 the peel converges: round 3 == round 4).

    Scale plan (proj_spark/graph.py kcore_peel): each round is one
    map-side-combined degree agg + two broadcast semi joins against
    the shrinking survivor set; k travels as a one-row relation, so
    no scalar ever crosses to the driver.

    FULL SQL ORACLE (_sql_kcore): the peel unrolled as 4 MATERIALIZED
    CTE triples (degree -> survivor -> restricted edges)."""
    from proj_spark.graph import kcore_peel
    # persist the sampled edge set: it feeds the k derivation, BOTH
    # branches of the kernel's symmetrization, and (lazily) each
    # round's broadcast — without this the upstream distinct over the
    # full link graph re-runs ~6x (measured 14 s -> ~5 s at sf0.1)
    und = undirected(_domain_links(spark, sf_dir),
                     KCORE_SAMPLE_MOD).persist()
    # one-row relation, materialized ONCE so the per-round broadcasts
    # reuse it instead of re-deriving the whole edge pipeline
    k = (und.select(F.explode(F.array("a", "b")).alias("u"))
         .agg(F.expr("count(*) div count(distinct u) + 1")
              .cast("long").alias("kval"))
         .localCheckpoint(eager=True))
    out = kcore_peel(und, k, rounds=KCORE_ROUNDS)
    und.unpersist()  # kernel eagerly checkpointed the symmetrized edges
    return out.select(F.col("node").alias("domain"),
                      F.col("deg").cast("long").alias("deg"))


def _sql_kcore(n: int) -> str:
    # each round's CTEs are MATERIALIZED, as in graph.truss_sql: a round
    # reads its predecessor twice, and DuckDB would otherwise inline and
    # recompute the whole peel chain (41.6 s -> 2.3 s at sf0.01)
    rounds = []
    for r in range(1, KCORE_ROUNDS + 1):
        rounds.append(f"""d{r} AS MATERIALIZED (SELECT u, COUNT(*) AS c FROM e{r-1} GROUP BY 1),
v{r} AS MATERIALIZED (SELECT u FROM d{r}, kv WHERE c >= kval),
e{r} AS MATERIALIZED (SELECT e.u, e.v FROM e{r-1} e
         JOIN v{r} x ON e.u = x.u JOIN v{r} y ON e.v = y.u)""")
    chain = ",\n".join(rounds)
    return f"""WITH {_links_cte(n)},
{_sql_und(KCORE_SAMPLE_MOD)},
e0 AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
kv AS (SELECT COUNT(*) // COUNT(DISTINCT u) + 1 AS kval FROM e0),
{chain}
SELECT CAST(u AS BIGINT) AS domain, CAST(COUNT(*) AS BIGINT) AS deg
FROM e{KCORE_ROUNDS} GROUP BY 1"""


COCITE_SAMPLE_MOD = 4   # directed-edge sampling
COCITE_OUTDEG_CAP = 64  # hub srcs dropped before the pair explode
COCITE_MIN = 3          # min common sources
COCITE_TOPK = 100


def q_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation similarity (Small 1973): domain pairs ranked by how
    many distinct source domains link to BOTH — the classic web-graph
    relatedness signal next to pagerank's authority.

    Scale plan: the pair explode is the quadratic hazard (a hub src
    with out-degree d contributes d^2/2 pairs), so srcs above
    COCITE_OUTDEG_CAP distinct out-links are dropped BEFORE the
    self-join — the same df-cap discipline as ngram_pairs' shingle cap
    — and the edge set is hash-sampled like q_triangles.  What remains
    is one self-equi-join on src + one hash agg on the pair key; the
    out-degree relation (one row per domain) broadcasts.

    FULL SQL ORACLE (_sql_cocitation): identical cap + join + HAVING
    over the independently re-derived edge set."""
    e = (_domain_links(spark, sf_dir).distinct()
         .where(edge_sample("src", "dst", COCITE_SAMPLE_MOD)))
    odeg = e.groupBy("src").agg(F.count("*").alias("od"))
    kept = e.join(
        F.broadcast(odeg.where(F.col("od") <= COCITE_OUTDEG_CAP)
                    .select("src")), "src")
    a = kept.select("src", F.col("dst").alias("d1"))
    b = kept.select("src", F.col("dst").alias("d2"))
    pairs = (a.join(b, "src").where(F.col("d1") < F.col("d2"))
             .groupBy("d1", "d2").agg(F.count("*").alias("n_common")))
    return (pairs.where(F.col("n_common") >= COCITE_MIN)
            .orderBy(F.col("n_common").desc(), "d1", "d2")
            .limit(COCITE_TOPK))


def _sql_cocitation(n: int) -> str:
    return f"""WITH {_links_cte(n)},
ed AS (SELECT DISTINCT src, dst FROM links),
es AS (SELECT src, dst FROM ed
       WHERE {_sql_edge_sample('src', 'dst', COCITE_SAMPLE_MOD)}),
odeg AS (SELECT src, COUNT(*) AS od FROM es GROUP BY 1),
kept AS (SELECT es.src, es.dst FROM es JOIN odeg USING (src)
         WHERE od <= {COCITE_OUTDEG_CAP}),
pairs AS (SELECT a.dst AS d1, b.dst AS d2, COUNT(*) AS n_common
          FROM kept a JOIN kept b ON a.src = b.src AND a.dst < b.dst
          GROUP BY 1, 2)
SELECT CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
       CAST(n_common AS BIGINT) AS n_common
FROM pairs WHERE n_common >= {COCITE_MIN}
ORDER BY n_common DESC, d1, d2 LIMIT {COCITE_TOPK}"""


PMI_MIN = 30    # min bigram count (phrase-mining support threshold)
PMI_TOPK = 50


def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram association mining: adjacent-token pairs ranked by LIFT
    = P(x,y) / (P(x)P(y)) — the monotone core of PMI without the log,
    so every input to the ONE float expression is an exact BIGINT and
    the rounded double is bit-identical across engines (IEEE mul/div
    are exactly rounded; only transcendentals drift).

    Scale plan: two exploded hash aggs (unigrams, bigrams) — both
    map-side combinable — plus broadcast joins of the tiny vocabulary
    relation; corpus totals travel as one-row relations.  No UDF, no
    window, nothing driver-side.

    FULL SQL ORACLE (_sql_token_pmi): identical counts and the
    identical float expression tree."""
    docs = _docs(spark, sf_dir)
    t = docs.select(analysis.tokens(F.lower(F.col("text"))).alias("a"))
    uni = t.select(F.explode("a").alias("tok"))
    cx = uni.groupBy("tok").agg(F.count("*").alias("c"))
    tot = uni.agg(F.count("*").alias("n_tok"))
    big = (t.where(F.size("a") >= 2)
           .select(F.explode(F.expr(
               "transform(sequence(0, size(a)-2), "
               "i -> struct(a[i] as x, a[i+1] as y))")).alias("s"))
           .select("s.x", "s.y"))
    btot = big.agg(F.count("*").alias("n_big"))
    cxy = big.groupBy("x", "y").agg(F.count("*").alias("c_xy"))
    j = (cxy.where(F.col("c_xy") >= PMI_MIN)
         .join(F.broadcast(cx.select(F.col("tok").alias("x"),
                                     F.col("c").alias("c_x"))), "x")
         .join(F.broadcast(cx.select(F.col("tok").alias("y"),
                                     F.col("c").alias("c_y"))), "y")
         .crossJoin(F.broadcast(tot))
         .crossJoin(F.broadcast(btot)))
    lift = F.round(F.col("c_xy").cast("double") * F.col("n_tok")
                   * F.col("n_tok")
                   / (F.col("n_big").cast("double") * F.col("c_x")
                      * F.col("c_y")), 6)
    return (j.select("x", "y", "c_xy", "c_x", "c_y",
                     lift.alias("lift"))
            .orderBy(F.col("lift").desc(), "x", "y").limit(PMI_TOPK))




def _sql_token_pmi() -> str:
    return f"""WITH t AS (SELECT {_SQL_TOKS} AS a FROM documents),
uni AS (SELECT unnest(a) AS tok FROM t),
cx AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY 1),
tot AS (SELECT COUNT(*) AS n_tok FROM uni),
big AS (SELECT s.x AS x, s.y AS y FROM (
          SELECT unnest([{{'x': a[i], 'y': a[i+1]}}
                         for i in generate_series(1, len(a)-1)]) AS s
          FROM t WHERE len(a) >= 2)),
btot AS (SELECT COUNT(*) AS n_big FROM big),
cxy AS (SELECT x, y, COUNT(*) AS c_xy FROM big GROUP BY 1, 2)
SELECT p.x, p.y, CAST(p.c_xy AS BIGINT) AS c_xy,
       CAST(a.c AS BIGINT) AS c_x, CAST(b.c AS BIGINT) AS c_y,
       ROUND(CAST(p.c_xy AS DOUBLE) * t2.n_tok * t2.n_tok
             / (CAST(bt.n_big AS DOUBLE) * a.c * b.c), 6) AS lift
FROM cxy p JOIN cx a ON a.tok = p.x JOIN cx b ON b.tok = p.y,
     tot t2, btot bt
WHERE p.c_xy >= {PMI_MIN}
ORDER BY lift DESC, p.x, p.y LIMIT {PMI_TOPK}"""


def q_phrase_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase probe: mine the corpus's single most
    frequent trigram (deterministic tie-break), then return EVERY
    (doc_id, pos) occurrence — the two phases of a search engine
    (index build, phrase lookup) in one plan.  `pos` is the 1-based
    token position of the phrase start.

    Scale plan: trigram postings are built once by an array transform
    (no UDF, no per-row Python); the top-1 phrase is a one-row
    relation broadcast back into the postings — the probe never
    collects, so at 10^12 docs this is index-scan + broadcast
    semi-probe.  (A production index would materialize the postings
    bucketed by phrase hash; here both phases share one derivation.)

    FULL SQL ORACLE (_sql_phrase_hits): identical trigram expansion,
    top-1 selection, and probe."""
    docs = _docs(spark, sf_dir)
    t = docs.select("doc_id",
                    analysis.tokens(F.lower(F.col("text"))).alias("a"))
    tri = (t.where(F.size("a") >= 3)
           .select("doc_id", F.explode(F.expr(
               "transform(sequence(0, size(a)-3), "
               "i -> struct(i + 1 as pos, "
               "concat(a[i], ' ', a[i+1], ' ', a[i+2]) as ph))"))
               .alias("s"))
           .select("doc_id", "s.pos", "s.ph"))
    top = (tri.groupBy("ph").agg(F.count("*").alias("c"))
           .orderBy(F.col("c").desc(), "ph").limit(1).select("ph"))
    return (tri.join(F.broadcast(top), "ph")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("pos").cast("long").alias("pos"),
                    F.col("ph").alias("phrase")))


def _sql_phrase_hits() -> str:
    return f"""WITH t AS (SELECT doc_id, {_SQL_TOKS} AS a FROM documents),
tri AS (SELECT doc_id, s.pos AS pos, s.ph AS ph FROM (
          SELECT doc_id,
                 unnest([{{'pos': i,
                           'ph': a[i] || ' ' || a[i+1] || ' ' || a[i+2]}}
                         for i in generate_series(1, len(a)-2)]) AS s
          FROM t WHERE len(a) >= 3)),
top AS (SELECT ph FROM tri GROUP BY ph
        ORDER BY COUNT(*) DESC, ph LIMIT 1)
SELECT CAST(tri.doc_id AS BIGINT) AS doc_id,
       CAST(tri.pos AS BIGINT) AS pos, tri.ph AS phrase
FROM tri JOIN top USING (ph)"""


# ---------------------------------------------------------------------------
# session 15: BM25 retrieval, HITS, RA link prediction, stay points
# ---------------------------------------------------------------------------

BM25_QK = 6        # query terms mined from the corpus (top df, len>=6)
BM25_MINLEN = 6    # min term length for the mined query set
BM25_TOPK = 50


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document retrieval (Robertson-Sparck Jones), exact-integer
    variant: the corpus's BM25_QK highest-df long tokens become the
    query; every doc is scored by a RATIONAL BM25 with k1=2, b=3/4 —
    chosen so idf and the tf-saturation term are each ONE floored
    integer division (no log, no float sum):

        idf_micro = 1e6*(2N - 2df + 1) div (2df + 1)         (log-free
            monotone idf surrogate — same ranking family)
        tfp_micro = 1e6 * 6*tf*S div (2*tf*S + S + 3*dl*N)
            (= tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with
             avgdl = S/N cleared of fractions)
        score    = Σ_terms (idf_micro * tfp_micro) div 1e6   (BIGINT
            sum — order-independent under any partial-agg schedule)

    Scale plan: the (doc, tok, tf) relation IS the inverted index —
    one shuffle on the explode, map-side combinable; df and the mined
    query relation are TakeOrdered over the tiny vocabulary and
    broadcast back; dl joins tf co-partitioned on doc_id; final top-k
    is a TakeOrdered, no global sort.

    FULL SQL ORACLE (_sql_bm25_topk): identical counts + divisions."""
    docs = _docs(spark, sf_dir)
    t = docs.select("doc_id",
                    analysis.tokens(F.lower(F.col("text"))).alias("a"))
    tf = (t.select("doc_id", F.explode("a").alias("tok"))
          .groupBy("doc_id", "tok").agg(F.count("*").alias("tf")))
    tf = tf.persist()
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    tot = dl.agg(F.count("*").alias("nn"), F.sum("dl").alias("s"))
    dfr = tf.groupBy("tok").agg(F.count("*").alias("df"))
    q = (dfr.where(F.length("tok") >= BM25_MINLEN)
         .orderBy(F.col("df").desc(), "tok").limit(BM25_QK))
    m = (tf.join(F.broadcast(q), "tok")
         .join(dl, "doc_id")
         .crossJoin(F.broadcast(tot)))
    sm = F.expr(
        "((1000000 * (2*nn - 2*df + 1)) div (2*df + 1))"
        " * ((1000000 * 6 * tf * s) div (2*tf*s + s + 3*dl*nn))"
        " div 1000000")
    out = (m.select("doc_id", sm.alias("sm"))
           .groupBy("doc_id")
           .agg(F.count("*").alias("n_terms"),
                F.sum("sm").alias("score_micro"))
           .orderBy(F.col("score_micro").desc(), "doc_id")
           .limit(BM25_TOPK))
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      F.col("n_terms").cast("long").alias("n_terms"),
                      F.col("score_micro").cast("long")
                      .alias("score_micro"))


def _sql_bm25_topk() -> str:
    return f"""WITH t AS (SELECT doc_id, {_SQL_TOKS} AS a FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM (
         SELECT doc_id, unnest(a) AS tok FROM t) GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
               CAST(SUM(dl) AS BIGINT) AS s FROM dl),
dfr AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
q AS (SELECT tok, df FROM dfr WHERE length(tok) >= {BM25_MINLEN}
      ORDER BY df DESC, tok LIMIT {BM25_QK}),
sc AS (SELECT tf.doc_id,
              ((1000000 * (2*nn - 2*df + 1)) // (2*df + 1))
              * ((1000000 * 6 * tf * s) // (2*tf*s + s + 3*dl*nn))
              // 1000000 AS sm
       FROM tf JOIN q USING (tok) JOIN dl USING (doc_id), tot)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(sm) AS BIGINT) AS score_micro
FROM sc GROUP BY 1
ORDER BY score_micro DESC, doc_id LIMIT {BM25_TOPK}"""


HITS_TOPK = 100


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the domain link
    graph, UNNORMALIZED two-sweep variant: with A the 0/1 adjacency,
    h1 = A·1 (out-degree), a2 = Aᵀh1, h3 = A·a2, a4 = Aᵀh3 — the
    power iteration's normalization only rescales, so the raw integer
    iterates preserve the exact HITS ranking while staying oracle-
    replayable (every score is a BIGINT sum of BIGINT products).

    Scale plan: each sweep is one broadcast join of the tiny per-node
    score relation into the edge list + one map-side-combined sum —
    the edge relation (the big side) is scanned, never shuffled on a
    new key; at web scale this is textbook distributed SpMV.

    FULL SQL ORACLE (_sql_hits_scores): the same four sweeps as CTEs
    over the independently re-derived edge set."""
    e = _domain_links(spark, sf_dir).distinct().persist()
    h1 = e.groupBy("src").agg(F.count("*").alias("h1"))
    a2 = (e.join(F.broadcast(h1), "src")
          .groupBy("dst").agg(F.sum("h1").alias("a2")))
    h3 = (e.join(F.broadcast(a2), "dst")
          .groupBy("src").agg(F.sum("a2").alias("h3")))
    a4 = (e.join(F.broadcast(h3), "src")
          .groupBy("dst").agg(F.sum("h3").alias("a4")))
    out = (a4.join(h3.withColumnRenamed("src", "dst"), "dst", "full")
           .select(F.col("dst").alias("domain"),
                   F.coalesce("a4", F.lit(0)).alias("auth"),
                   F.coalesce("h3", F.lit(0)).alias("hub"))
           .orderBy(F.col("auth").desc(), "domain").limit(HITS_TOPK))
    return out.select(F.col("domain").cast("long").alias("domain"),
                      F.col("auth").cast("long").alias("auth"),
                      F.col("hub").cast("long").alias("hub"))


def _sql_hits_scores(n: int) -> str:
    return f"""WITH {_links_cte(n)},
ed AS (SELECT DISTINCT src, dst FROM links),
h1 AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS h1 FROM ed GROUP BY 1),
a2 AS (SELECT dst, CAST(SUM(h1) AS BIGINT) AS a2
       FROM ed JOIN h1 USING (src) GROUP BY 1),
h3 AS (SELECT src, CAST(SUM(a2) AS BIGINT) AS h3
       FROM ed JOIN a2 USING (dst) GROUP BY 1),
a4 AS (SELECT dst, CAST(SUM(h3) AS BIGINT) AS a4
       FROM ed JOIN h3 USING (src) GROUP BY 1)
SELECT CAST(COALESCE(a4.dst, h3.src) AS BIGINT) AS domain,
       CAST(COALESCE(a4, 0) AS BIGINT) AS auth,
       CAST(COALESCE(h3, 0) AS BIGINT) AS hub
FROM a4 FULL JOIN h3 ON a4.dst = h3.src
ORDER BY auth DESC, domain LIMIT {HITS_TOPK}"""


LP_SAMPLE_MOD = 32   # undirected-edge hash sampling (degree control)
LP_DEG_CAP = 64      # wedge centers above this degree are dropped
LP_MIN_COMMON = 1
LP_TOPK = 100


def q_link_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by the resource-allocation index (Zhou, Lu &
    Zhang 2009): for each NON-adjacent pair (x, y), score
    Σ_{z ∈ N(x)∩N(y)} 1/deg(z) — like Adamic-Adar but with a rational
    weight, so each contribution is the exact integer 1e6 div deg(z)
    and the per-pair BIGINT sum is order-independent.

    Scale plan: wedges materialize at their center z (one self-equi-
    join on z), and the quadratic hazard is killed the same two ways
    as cocitation — hash-sampled edges + a hard degree cap on wedge
    centers BEFORE the join; existing edges leave via one broadcast
    anti join.  Work is Σ_z deg(z)², bounded by CAP·|E|, never n².

    FULL SQL ORACLE (_sql_link_pred): identical sample, cap, wedge
    join, and division."""
    und = undirected(_domain_links(spark, sf_dir), LP_SAMPLE_MOD).persist()
    sym = (und.select(F.col("a").alias("z"), F.col("b").alias("nbr"))
           .union(und.select(F.col("b").alias("z"),
                             F.col("a").alias("nbr"))))
    deg = sym.groupBy("z").agg(F.count("*").alias("deg"))
    capped = (sym.join(F.broadcast(
        deg.where(F.col("deg") <= LP_DEG_CAP)), "z")
        .select("z", "nbr", "deg"))
    wl = capped.select("z", F.col("nbr").alias("x"), "deg")
    wr = capped.select("z", F.col("nbr").alias("y"))
    pairs = (wl.join(wr, "z").where(F.col("x") < F.col("y"))
             .groupBy("x", "y")
             .agg(F.count("*").alias("n_common"),
                  F.sum(F.expr("1000000 div deg")).alias("ra_micro")))
    new = pairs.join(
        F.broadcast(und.select(F.col("a").alias("x"),
                               F.col("b").alias("y"))),
        ["x", "y"], "anti")
    out = (new.where(F.col("n_common") >= LP_MIN_COMMON)
           .orderBy(F.col("ra_micro").desc(),
                    F.col("n_common").desc(), "x", "y")
           .limit(LP_TOPK))
    return out.select(F.col("x").cast("long").alias("x"),
                      F.col("y").cast("long").alias("y"),
                      F.col("n_common").cast("long").alias("n_common"),
                      F.col("ra_micro").cast("long").alias("ra_micro"))


def _sql_link_pred(n: int) -> str:
    return f"""WITH {_links_cte(n)},
{_sql_und(LP_SAMPLE_MOD)},
sym AS (SELECT a AS z, b AS nbr FROM und
        UNION ALL SELECT b, a FROM und),
deg AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
capped AS (SELECT sym.z, sym.nbr, deg FROM sym JOIN deg USING (z)
           WHERE deg <= {LP_DEG_CAP}),
pairs AS (SELECT l.nbr AS x, r.nbr AS y,
                 CAST(COUNT(*) AS BIGINT) AS n_common,
                 CAST(SUM(1000000 // l.deg) AS BIGINT) AS ra_micro
          FROM capped l JOIN capped r
               ON l.z = r.z AND l.nbr < r.nbr
          GROUP BY 1, 2)
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       n_common, ra_micro
FROM pairs p
WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.a = p.x AND e.b = p.y)
  AND n_common >= {LP_MIN_COMMON}
ORDER BY ra_micro DESC, n_common DESC, x, y LIMIT {LP_TOPK}"""


SP_JUMP_UDEG = 4_000_000   # Chebyshev break threshold (4 deg, µdeg)
SP_MIN_PTS = 2


def q_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point / dwell detection over each domain's crawl path: the
    seq-ordered point stream splits into segments wherever the
    Chebyshev µdeg jump between CONSECUTIVE points exceeds
    SP_JUMP_UDEG; segments with >= SP_MIN_PTS points are emitted with
    their exact integer centroid and seq span — the classic mobility
    stay-point primitive (Li et al. 2008) in its consecutive-pair
    form, which is window-expressible (the anchored form needs a scan
    loop).

    Exactness: coords shift to non-negative µdeg before the floored
    centroid division (Spark `div` truncates, DuckDB `//` floors —
    equal on non-negative operands); all predicates are integer.

    Scale plan: ONE shuffle on domain feeds both windows (LAG for the
    break flag, running SUM for the segment id — same partition+order,
    one sort) and the segment agg is map-side combinable after it.

    FULL SQL ORACLE (_sql_stay_points): identical windows + agg."""
    pts = _points(spark, sf_dir)
    t = pts.select("domain", _page_seq().alias("seq"),
                   *_udeg_xy(shift=True))
    w = Window.partitionBy("domain").orderBy("seq")
    brk = F.when(F.lag("x").over(w).isNull(), F.lit(0)).when(
        F.greatest(F.abs(F.col("x") - F.lag("x").over(w)),
                   F.abs(F.col("y") - F.lag("y").over(w)))
        > SP_JUMP_UDEG, F.lit(1)).otherwise(F.lit(0))
    seg = (t.withColumn("brk", brk)
           .withColumn("seg", F.sum("brk").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    out = (seg.groupBy("domain", "seg")
           .agg(F.count("*").alias("n_pts"),
                F.min("seq").alias("seq_start"),
                F.max("seq").alias("seq_end"),
                F.sum("x").alias("sx"), F.sum("y").alias("sy"))
           .where(F.col("n_pts") >= SP_MIN_PTS))
    return out.select(
        "domain", F.col("seg").cast("long").alias("seg"),
        F.col("n_pts").cast("long").alias("n_pts"),
        "seq_start", "seq_end",
        (F.expr("sx div n_pts") - 180_000_000).alias("cx_udeg"),
        (F.expr("sy div n_pts") - 90_000_000).alias("cy_udeg"))


def _sql_stay_points(n: int) -> str:
    return f"""WITH {_pages_cte(n)},
t AS (SELECT domain, i AS seq, {_sql_udeg_xy(shift=True)} FROM pages),
l AS (SELECT domain, seq, x, y,
             LAG(x) OVER (PARTITION BY domain ORDER BY seq) AS px,
             LAG(y) OVER (PARTITION BY domain ORDER BY seq) AS py
      FROM t),
b AS (SELECT domain, seq, x, y,
             CASE WHEN px IS NULL THEN 0
                  WHEN GREATEST(ABS(x - px), ABS(y - py))
                       > {SP_JUMP_UDEG} THEN 1 ELSE 0 END AS brk
      FROM l),
s AS (SELECT domain, seq, x, y,
             SUM(brk) OVER (PARTITION BY domain ORDER BY seq
                            ROWS UNBOUNDED PRECEDING) AS seg
      FROM b),
g AS (SELECT domain, seg, COUNT(*) AS n_pts,
             MIN(seq) AS seq_start, MAX(seq) AS seq_end,
             SUM(x) AS sx, SUM(y) AS sy
      FROM s GROUP BY 1, 2)
SELECT domain, CAST(seg AS BIGINT) AS seg,
       CAST(n_pts AS BIGINT) AS n_pts,
       CAST(seq_start AS BIGINT) AS seq_start,
       CAST(seq_end AS BIGINT) AS seq_end,
       CAST(sx // n_pts AS BIGINT) - 180000000 AS cx_udeg,
       CAST(sy // n_pts AS BIGINT) - 90000000 AS cy_udeg
FROM g WHERE n_pts >= {SP_MIN_PTS}"""


# ---------------------------------------------------------------------------
# session 16: funnel conversion, retention cohorts, label propagation,
#             robust MAD outliers
# ---------------------------------------------------------------------------

FUNNEL_STAGES = ("view", "click", "purchase")
DAY_US = 86_400_000_000


def q_funnel_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion over the event stream: per user, the
    first 'view', the first 'click' STRICTLY AFTER it, and the first
    'purchase' strictly after that — the sequential-pattern semantics
    (not mere set membership), with per-stage user counts and the
    exact summed inter-stage delay in micros.

    All times are canonical epoch micros (_events_micros), so the
    result is session-timezone independent; every stat is a BIGINT.

    Scale plan: three per-user conditional-min aggregations chained by
    equi-joins on user_id — every shuffle is on the same key, so AQE
    coalesces them into co-partitioned exchanges; no window over the
    raw stream, no driver logic.  At web scale this is the standard
    funnel shape (shuffle ~ |users|, not |events|).

    FULL SQL ORACLE (_sql_funnel_conv): identical conditional mins."""
    ev = _events_micros(spark, sf_dir)
    v = (ev.where(F.col("event_type") == FUNNEL_STAGES[0])
         .groupBy("user_id").agg(F.min("tm").alias("t1")))
    c = (ev.where(F.col("event_type") == FUNNEL_STAGES[1])
         .join(v, "user_id").where(F.col("tm") > F.col("t1"))
         .groupBy("user_id", "t1").agg(F.min("tm").alias("t2")))
    p = (ev.where(F.col("event_type") == FUNNEL_STAGES[2])
         .join(c, "user_id").where(F.col("tm") > F.col("t2"))
         .groupBy("user_id", "t2").agg(F.min("tm").alias("t3")))
    s1 = v.agg(F.lit(1).cast("long").alias("stage"),
               F.count("*").alias("n_users"),
               F.lit(0).cast("long").alias("sum_delay_us"))
    s2 = c.agg(F.lit(2).cast("long").alias("stage"),
               F.count("*").alias("n_users"),
               F.sum(F.col("t2") - F.col("t1")).alias("sum_delay_us"))
    s3 = p.agg(F.lit(3).cast("long").alias("stage"),
               F.count("*").alias("n_users"),
               F.sum(F.col("t3") - F.col("t2")).alias("sum_delay_us"))
    return (s1.union(s2).union(s3)
            .select("stage", F.col("n_users").cast("long").alias("n_users"),
                    F.coalesce(F.col("sum_delay_us"), F.lit(0))
                    .cast("long").alias("sum_delay_us")))


def _sql_funnel_conv() -> str:
    a, b, cst = FUNNEL_STAGES
    return f"""WITH ev AS (SELECT user_id, event_type,
                   epoch_us(ts) AS tm FROM events),
v AS (SELECT user_id, MIN(tm) AS t1 FROM ev
      WHERE event_type = '{a}' GROUP BY 1),
c AS (SELECT ev.user_id, t1, MIN(tm) AS t2 FROM ev JOIN v USING (user_id)
      WHERE event_type = '{b}' AND tm > t1 GROUP BY 1, 2),
p AS (SELECT ev.user_id, t2, MIN(tm) AS t3 FROM ev JOIN c USING (user_id)
      WHERE event_type = '{cst}' AND tm > t2 GROUP BY 1, 2)
SELECT CAST(1 AS BIGINT) AS stage, CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(0 AS BIGINT) AS sum_delay_us FROM v
UNION ALL
SELECT 2, COUNT(*), CAST(COALESCE(SUM(t2 - t1), 0) AS BIGINT) FROM c
UNION ALL
SELECT 3, COUNT(*), CAST(COALESCE(SUM(t3 - t2), 0) AS BIGINT) FROM p"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users grouped by their FIRST active
    absolute day (the cohort), then counted distinct on each later
    day-offset — the standard growth-analytics rollup.  Days are
    floored epoch-micros divisions (micros are non-negative), so both
    engines bucket identically under any session timezone.

    Scale plan: one shuffle on user_id for the cohort min, one
    broadcast-sized join back (cohort relation is |users| rows — at
    web scale co-partitioned on user_id, here broadcast), one hash agg
    on (cohort_day, offset) with countDistinct handled by Spark's
    two-phase expand — bounded by users x days, not events.

    FULL SQL ORACLE (_sql_retention_cohorts): identical arithmetic."""
    ev = _events_micros(spark, sf_dir).select(
        "user_id", F.expr(f"tm div {DAY_US}").alias("day"))
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (ev.join(first, "user_id")
            .groupBy("cohort_day",
                     (F.col("day") - F.col("cohort_day")).alias("offset"))
            .agg(F.countDistinct("user_id").alias("n_users"))
            .select(F.col("cohort_day").cast("long").alias("cohort_day"),
                    F.col("offset").cast("long").alias("offset"),
                    F.col("n_users").cast("long").alias("n_users")))


def _sql_retention_cohorts() -> str:
    return f"""WITH ev AS (SELECT user_id,
                   epoch_us(ts) // {DAY_US} AS day FROM events),
fst AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY 1)
SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
       CAST(day - cohort_day AS BIGINT) AS offset,
       CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_users
FROM ev JOIN fst USING (user_id)
GROUP BY 1, 2"""


LPA_SAMPLE_MOD = 4   # same sampled undirected graph as kcore
LPA_ROUNDS = 2


def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) with a DETERMINISTIC tie-break: labels start as node
    ids; each round every node adopts its neighbors' most frequent
    label, ties to the SMALLEST label — so the fixed-round result is
    engine-independent and SQL-unrollable (the classic async LPA is
    order-dependent by design; the synchronous min-tie variant is the
    reproducible one).  Output: surviving community label -> size.

    Scale plan: each round is one edge-list join against the per-node
    label relation (broadcast here; co-partitioned at web scale), one
    (node, label) count agg, and one partition-local row_number pick —
    all map-side combinable, edges never reshuffled on a new key.

    FULL SQL ORACLE (_sql_label_prop): the same rounds as CTE pairs."""
    und = _lpa_und(spark, sf_dir)
    sym = _sym(und)
    lab = _lpa_labels(sym)
    return (lab.groupBy("lab").agg(F.count("*").alias("n_nodes"))
            .select(F.col("lab").cast("long").alias("community"),
                    F.col("n_nodes").cast("long").alias("n_nodes")))


def _lpa_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic hash-sampled undirected simple domain graph
    shared by label_prop and modularity (same sample as kcore).

    Persisted: the LPA rounds and the modularity scoring reference the
    edge relation many times (sym union, degree agg, e_in join), and
    without a barrier EVERY reference re-executes the full corpus
    synthesis + geotag extraction upstream.  The relation is two-long
    columns bounded by the domain-pair universe, and Spark's
    CacheManager keys the entry by canonicalized plan, so label_prop
    and modularity share ONE copy per (corpus, sample) — the same
    amortization _ngram_jaccard documents."""
    return undirected(_domain_links(spark, sf_dir), LPA_SAMPLE_MOD).persist()


def _sym(und: DataFrame) -> DataFrame:
    """Both orientations (u, v) of the undirected edges (a, b)."""
    return (und.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .union(und.select(F.col("b").alias("u"),
                              F.col("a").alias("v"))))


def _lpa_labels(sym: DataFrame) -> DataFrame:
    """LPA_ROUNDS synchronous min-tie label-propagation rounds over the
    symmetric edge relation -> final (u, lab)."""
    lab = sym.select("u").distinct().select(
        "u", F.col("u").alias("lab"))
    for _ in range(LPA_ROUNDS):
        cnt = (sym.join(F.broadcast(
            lab.select(F.col("u").alias("v"), "lab")), "v")
            .groupBy("u", "lab").agg(F.count("*").alias("c")))
        w = Window.partitionBy("u").orderBy(F.col("c").desc(), "lab")
        lab = (cnt.withColumn("rn", F.row_number().over(w))
               .where(F.col("rn") == 1).select("u", "lab"))
    return lab


def _sql_lpa_chain(n: int) -> str:
    """Shared WITH-body: sampled undirected graph + LPA_ROUNDS label
    rounds, ending at lab{LPA_ROUNDS} — used by the label_prop and
    modularity oracles."""
    rounds = []
    for r in range(1, LPA_ROUNDS + 1):
        rounds.append(f"""cnt{r} AS (SELECT e.u, l.lab, COUNT(*) AS c
         FROM sym e JOIN lab{r-1} l ON e.v = l.u GROUP BY 1, 2),
lab{r} AS (SELECT u, lab FROM (
          SELECT u, lab, ROW_NUMBER() OVER (
            PARTITION BY u ORDER BY c DESC, lab) AS rn FROM cnt{r})
        WHERE rn = 1)""")
    chain = ",\n".join(rounds)
    return f"""{_links_cte(n)},
{_sql_und(LPA_SAMPLE_MOD)},
sym AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
lab0 AS (SELECT DISTINCT u, u AS lab FROM sym),
{chain}"""


def _sql_label_prop(n: int) -> str:
    return f"""WITH {_sql_lpa_chain(n)}
SELECT CAST(lab AS BIGINT) AS community,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM lab{LPA_ROUNDS} GROUP BY 1"""


MAD_K = 3   # outlier threshold: |x - med| > MAD_K * mad


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per event type: lower-median and MAD
    (median absolute deviation) of the cents value by the same exact
    cumulative-histogram quantile definition as token_quantiles
    ('smallest v with cum >= (n+1) div 2' — no engine-private
    percentile sketch), then the exact count of rows beyond
    MAD_K * mad.  Everything is BIGINT comparisons — no float ever.

    Scale plan: value HISTOGRAMS shuffle, not rows — each pass is one
    hash agg on (type, value) + a partition-local cumsum window over
    the tiny histogram; the raw relation is scanned twice map-side
    with the per-type med/mad relations broadcast in.

    FULL SQL ORACLE (_sql_mad_outliers): identical two-pass medians."""
    ev = _events_micros(spark, sf_dir).select("event_type", "cents")
    cw = (Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0))
    nw = Window.partitionBy("event_type")

    def lower_median(rel: DataFrame) -> DataFrame:
        hist = rel.groupBy("event_type", "v").agg(F.count("*").alias("c"))
        cum = (hist.withColumn("cum", F.sum("c").over(cw))
               .withColumn("n", F.sum("c").over(nw)))
        return (cum.groupBy("event_type")
                .agg(F.max("n").alias("n"),
                     F.min(F.when(
                         F.col("cum") >= F.expr("(n + 1) div 2"),
                         F.col("v"))).alias("med")))

    med = lower_median(ev.select("event_type",
                                 F.col("cents").alias("v")))
    dev = (ev.join(F.broadcast(med.select("event_type", "med")),
                   "event_type")
           .select("event_type",
                   F.abs(F.col("cents") - F.col("med")).alias("v")))
    mad = lower_median(dev).select(
        "event_type", F.col("med").alias("mad"))
    outl = (dev.join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(F.sum(F.when(F.col("v") > MAD_K * F.col("mad"), 1)
                       .otherwise(0)).alias("n_outliers")))
    return (med.join(mad, "event_type").join(outl, "event_type")
            .select("event_type", F.col("n").cast("long").alias("n"),
                    F.col("med").cast("long").alias("med_cents"),
                    F.col("mad").cast("long").alias("mad_cents"),
                    F.col("n_outliers").cast("long").alias("n_outliers")))


def _sql_mad_outliers() -> str:
    return f"""WITH ev AS (SELECT event_type,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
            FROM events),
h1 AS (SELECT event_type, cents AS v, COUNT(*) AS c FROM ev GROUP BY 1, 2),
c1 AS (SELECT event_type, v,
              SUM(c) OVER (PARTITION BY event_type ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cum,
              SUM(c) OVER (PARTITION BY event_type) AS n
       FROM h1),
med AS (SELECT event_type, MAX(n) AS n,
               MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS med
        FROM c1 GROUP BY 1),
dev AS (SELECT ev.event_type, ABS(cents - med) AS v
        FROM ev JOIN med USING (event_type)),
h2 AS (SELECT event_type, v, COUNT(*) AS c FROM dev GROUP BY 1, 2),
c2 AS (SELECT event_type, v,
              SUM(c) OVER (PARTITION BY event_type ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cum,
              SUM(c) OVER (PARTITION BY event_type) AS n
       FROM h2),
mad AS (SELECT event_type,
               MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS mad
        FROM c2 GROUP BY 1),
outl AS (SELECT dev.event_type,
                SUM(CASE WHEN v > {MAD_K} * mad THEN 1 ELSE 0 END) AS n_outliers
         FROM dev JOIN mad USING (event_type) GROUP BY 1)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CAST(med AS BIGINT) AS med_cents,
       CAST(mad AS BIGINT) AS mad_cents,
       CAST(n_outliers AS BIGINT) AS n_outliers
FROM med JOIN mad USING (event_type) JOIN outl USING (event_type)"""


# ---------------------------------------------------------------------------
# session 17: rolling-window stats, Markov event transitions
# ---------------------------------------------------------------------------

ROLL_WIN_US = DAY_US   # trailing 24 h


def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h per-user rolling stats: for every event, the count
    and exact cents sum of that user's events in the preceding day —
    the standard feature-engineering window (rate limiting, velocity
    features) as a RANGE frame over canonical epoch micros, so both
    engines bound the frame by VALUE, not row position, and tie rows
    (peers) are included identically.

    Scale plan: ONE shuffle on user_id + a partition-local sort; the
    range frame is computed in a single pass per partition (Spark's
    sliding window accumulates/retracts — no per-row rescan); output
    is row-parallel with the input, never collected.

    FULL SQL ORACLE (_sql_rolling_stats): identical RANGE frame."""
    ev = _events_micros(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy("tm")
         .rangeBetween(-ROLL_WIN_US, 0))
    return (ev.select("event_id", "user_id", "tm",
                      F.count("*").over(w).alias("n_24h"),
                      F.sum("cents").over(w).alias("cents_24h"))
            .select("event_id", "user_id", "tm",
                    F.col("n_24h").cast("long").alias("n_24h"),
                    F.col("cents_24h").cast("long").alias("cents_24h")))


def _sql_rolling_stats() -> str:
    return f"""WITH ev AS (SELECT event_id, user_id,
                   epoch_us(ts) AS tm,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
            FROM events)
SELECT event_id, user_id, tm,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_24h,
       CAST(SUM(cents) OVER w AS BIGINT) AS cents_24h
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY tm
             RANGE BETWEEN {ROLL_WIN_US} PRECEDING AND CURRENT ROW)"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream: per
    user, consecutive event-type pairs (LEAD over canonical micros),
    rolled up to (from_type, to_type) counts with the empirical
    transition probability as an exact micro-quantized integer
    (1e6 * n div row_total — one floored division, no float sum).

    Scale plan: one shuffle on user_id for the LEAD window, one hash
    agg on the 5x5 pair key, and the per-from totals come from a
    window over the TINY aggregated matrix — nothing quadratic, no
    second scan of the raw stream.

    FULL SQL ORACLE (_sql_event_transitions): identical windows."""
    ev = _events_micros(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("tm", "event_id")
    pairs = (ev.select("user_id", "event_type", "tm", "event_id",
                       F.lead("event_type").over(w).alias("nxt"))
             .where(F.col("nxt").isNotNull())
             .groupBy(F.col("event_type").alias("from_type"),
                      F.col("nxt").alias("to_type"))
             .agg(F.count("*").alias("n")))
    tot = Window.partitionBy("from_type")
    return (pairs.withColumn("row_total", F.sum("n").over(tot))
            .select("from_type", "to_type",
                    F.col("n").cast("long").alias("n"),
                    F.expr("(1000000 * n) div row_total")
                    .cast("long").alias("p_micro")))


def _sql_event_transitions() -> str:
    return """WITH ev AS (SELECT user_id, event_type, event_id,
                   epoch_us(ts) AS tm FROM events),
pairs AS (SELECT event_type AS from_type,
                 LEAD(event_type) OVER (PARTITION BY user_id
                                        ORDER BY tm, event_id) AS to_type
          FROM ev),
m AS (SELECT from_type, to_type, COUNT(*) AS n FROM pairs
      WHERE to_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       CAST((1000000 * n) // SUM(n) OVER (PARTITION BY from_type)
            AS BIGINT) AS p_micro
FROM m"""


# ---------------------------------------------------------------------------
# session 18: TPC-H Q3/Q6 analogues over the real relational tables
# ---------------------------------------------------------------------------

_Q3_CUT_US = 865_123_200 * 1_000_000     # 1997-06-01T00:00:00Z
_Q3_SEGMENT = "BUILDING"
_Q3_TOPK = 10
_Q6_LO_US = 852_076_800 * 1_000_000      # 1997-01-01
_Q6_HI_US = 883_612_800 * 1_000_000      # 1998-01-01


def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority: unshipped revenue per order
    for one market segment — orders placed before the cutoff whose
    lineitems ship after it, revenue as the exact integer
    Σ price_c * (100 - disc_c) (cents x100), top orders by revenue.

    All date gates compare stored epoch micros — session-timezone
    independent; all money is integer cents, so the revenue ranking
    has no float-accumulation ambiguity.

    Plan: customer (segment-filtered) broadcasts into orders; the
    orders->lineitem join shuffles on orderkey (both sides pre-filtered
    — predicate pushdown confirmed in ReadSchema/PushedFilters); final
    top-k is a TakeOrdered.

    FULL SQL ORACLE (_sql_ship_priority): identical gates+arithmetic."""
    cust = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .where(F.col("c_mktsegment") == _Q3_SEGMENT)
            .select("c_custkey"))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders = (o.where(temporal.epoch_micros(o, "o_orderdate")
                      < _Q3_CUT_US)
              .join(F.broadcast(cust),
                    F.col("o_custkey") == F.col("c_custkey"))
              .select("o_orderkey",
                      temporal.epoch_micros(o, "o_orderdate")
                      .alias("o_date_us"),
                      "o_orderpriority"))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    items = (li.where(temporal.epoch_micros(li, "l_shipdate")
                      > _Q3_CUT_US)
             .select("l_orderkey",
                     (_money_cents(F.col("l_extendedprice"))
                      * (100 - _money_cents(F.col("l_discount"))))
                     .alias("rev_c2")))
    return (items.join(orders,
                       F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_orderkey", "o_date_us", "o_orderpriority")
            .agg(F.sum("rev_c2").alias("revenue_c2"))
            .orderBy(F.col("revenue_c2").desc(), "l_orderkey")
            .limit(_Q3_TOPK)
            .select(F.col("l_orderkey").cast("long").alias("l_orderkey"),
                    F.col("o_date_us").cast("long").alias("o_date_us"),
                    "o_orderpriority",
                    F.col("revenue_c2").cast("long").alias("revenue_c2")))


def _sql_ship_priority() -> str:
    return f"""WITH cust AS (SELECT c_custkey FROM customer
          WHERE c_mktsegment = '{_Q3_SEGMENT}'),
o AS (SELECT o_orderkey, epoch_us(o_orderdate) AS o_date_us,
             o_orderpriority
      FROM orders JOIN cust ON o_custkey = c_custkey
      WHERE epoch_us(o_orderdate) < {_Q3_CUT_US}),
it AS (SELECT l_orderkey,
              CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
              * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))
              AS rev_c2
       FROM lineitem WHERE epoch_us(l_shipdate) > {_Q3_CUT_US})
SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
       CAST(o_date_us AS BIGINT) AS o_date_us, o_orderpriority,
       CAST(SUM(rev_c2) AS BIGINT) AS revenue_c2
FROM it JOIN o ON l_orderkey = o_orderkey
GROUP BY 1, 2, 3
ORDER BY revenue_c2 DESC, l_orderkey LIMIT {_Q3_TOPK}"""


def q_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style revenue-change forecast: the exact integer
    Σ price_c * disc_c (cents x100) over one ship year for discounts
    in the 5-7 cent band and quantity < 24 — the canonical
    scan-filter-aggregate: ONE map-side stage, single-row result.
    The gates here are expressions (epoch micros, cents rounding) so
    they filter in the scan stage but are not parquet row-group
    predicates; a production layout partitions by ship date so this
    query prunes files instead (cf. plans/checkpoint.py's
    dynamic-partition layout).

    FULL SQL ORACLE (_sql_revenue_forecast): identical gates."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    disc_c = _money_cents(F.col("l_discount"))
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    t = (li.where((temporal.epoch_micros(li, "l_shipdate") >= _Q6_LO_US)
                  & (temporal.epoch_micros(li, "l_shipdate") < _Q6_HI_US))
         .where(disc_c.between(5, 7) & (qty < 24)))
    return (t.agg(F.sum(_money_cents(F.col("l_extendedprice"))
                        * disc_c).alias("revenue_c2"),
                  F.count("*").alias("n_items"))
            .select(F.col("revenue_c2").cast("long").alias("revenue_c2"),
                    F.col("n_items").cast("long").alias("n_items")))


def _sql_revenue_forecast() -> str:
    return f"""SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                * CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS BIGINT)
           AS revenue_c2,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE epoch_us(l_shipdate) >= {_Q6_LO_US}
  AND epoch_us(l_shipdate) < {_Q6_HI_US}
  AND CAST(ROUND(l_discount * 100, 0) AS BIGINT) BETWEEN 5 AND 7
  AND CAST(ROUND(l_quantity, 0) AS BIGINT) < 24"""


DSIR_B = 256         # hashed-feature buckets
DSIR_LANG = "en"     # target subcorpus for importance weighting


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. NeurIPS 2023): score every
    document by how target-like (English subcorpus) its hashed
    unigram+bigram bag is under add-1-smoothed bucket models.  Each
    bucket's log-ratio is quantized ONCE to an integer, so the per-doc
    sum logw_q is exact BIGINT — no float-sum order anywhere and the
    resample cut is engine-independent.  FULL SQL ORACLE
    (_sql_dsir_weights) — see text/curation.py dsir_weights."""
    from proj_spark.text.curation import dsir_weights
    return dsir_weights(_docs(spark, sf_dir),
                        target=(F.col("lang") == DSIR_LANG),
                        n_buckets=DSIR_B)


def _sql_dsir_weights() -> str:
    from proj_spark.text.curation import str_bucket_sql
    b = DSIR_B
    return f"""WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CASE WHEN lang = '{DSIR_LANG}' THEN 1 ELSE 0 END AS tgt,
         {_SQL_TOKS} AS a
  FROM documents
), feat AS (
  SELECT doc_id, tgt, unnest(a) AS f FROM tok
  UNION ALL
  SELECT doc_id, tgt,
         unnest(list_transform(range(1, length(a)),
                               i -> a[i] || ' ' || a[i + 1])) AS f
  FROM tok
), bk AS (
  SELECT doc_id, tgt, {str_bucket_sql('f', b)} AS b FROM feat
), db AS (
  SELECT doc_id, b, COUNT(*) AS c FROM bk GROUP BY 1, 2
), bs AS (
  SELECT b, COUNT(*) AS cr, CAST(SUM(tgt) AS BIGINT) AS ct
  FROM bk GROUP BY 1
), lr AS (
  SELECT b, CAST(ROUND((LN(CAST(ct + 1 AS DOUBLE))
                        - LN(CAST(cr + 1 AS DOUBLE))) * 1e6, 0)
                 AS BIGINT) AS lrq
  FROM bs
), off AS (
  SELECT CAST(ROUND((LN(CAST(COUNT(*) + {b} AS DOUBLE))
                     - LN(CAST(SUM(tgt) + {b} AS DOUBLE))) * 1e6, 0)
              AS BIGINT) AS offq
  FROM bk
), agg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
         CAST(SUM(c * lrq) AS BIGINT) AS sq
  FROM db JOIN lr USING (b) GROUP BY 1
)
SELECT doc_id, n_feats, sq + n_feats * offq AS logw_q,
       ROUND(CAST(sq + n_feats * offq AS DOUBLE) / 1e6, 6) AS logw
FROM agg CROSS JOIN off"""


def q_emd_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 1-D Wasserstein (earth mover's) distance between every
    two languages' spatial page distributions, compared along the
    Hilbert-curve order of their cells (sliced-Wasserstein along the
    locality-preserving axis, Rabin et al. 2011).  Cross-multiplied
    CDFs keep emd_q exact BIGINT — engine-independent — and the
    normalized emd is one float expression over exact integers.
    FULL SQL ORACLE (_sql_emd_langs) — see spatial/stats.py emd_pairs."""
    from proj_spark.spatial import stats as spatial_stats
    from proj_spark.spatial.hilbert import hilbert_df
    pts = _points(spark, sf_dir)
    keyed = hilbert_df(pts.select("lang", "lon", "lat"), bits=HILBERT_BITS)
    obs = keyed.groupBy("lang", "hkey").agg(F.count("*").alias("c"))
    return spatial_stats.emd_pairs(obs, cls_col="lang", pos_col="hkey",
                                   cnt_col="c")


def _sql_emd_langs(n: int) -> str:
    from proj_spark.spatial.hilbert import hilbert_cte_sql
    chain = hilbert_cte_sql("pages", bits=HILBERT_BITS)
    return f"""WITH {_pages_cte(n)},
{chain},
cnt AS (SELECT lang, hkey, CAST(COUNT(*) AS BIGINT) AS c
        FROM hilbert GROUP BY 1, 2),
tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
pairs AS (SELECT a.lang AS cls_a, b.lang AS cls_b, a.n AS n_a, b.n AS n_b
          FROM tot a CROSS JOIN tot b WHERE a.lang < b.lang),
pos AS (SELECT DISTINCT hkey FROM cnt),
g AS (SELECT p.cls_a, p.cls_b, p.n_a, p.n_b, pos.hkey,
             COALESCE(ca.c, 0) AS c_a, COALESCE(cb.c, 0) AS c_b
      FROM pairs p CROSS JOIN pos
      LEFT JOIN cnt ca ON ca.lang = p.cls_a AND ca.hkey = pos.hkey
      LEFT JOIN cnt cb ON cb.lang = p.cls_b AND cb.hkey = pos.hkey),
cm AS (SELECT cls_a, cls_b, n_a, n_b,
              SUM(c_a) OVER (PARTITION BY cls_a, cls_b
                             ORDER BY hkey) AS cum_a,
              SUM(c_b) OVER (PARTITION BY cls_a, cls_b
                             ORDER BY hkey) AS cum_b,
              LEAD(hkey) OVER (PARTITION BY cls_a, cls_b
                               ORDER BY hkey) - hkey AS gap
       FROM g),
res AS (SELECT cls_a, cls_b, n_a, n_b,
               CAST(SUM(ABS(cum_a * n_b - cum_b * n_a) * gap) AS BIGINT)
                 AS emd_q
        FROM cm WHERE gap IS NOT NULL GROUP BY 1, 2, 3, 4),
sp AS (SELECT CAST(MAX(hkey) - MIN(hkey) AS BIGINT) AS span FROM pos)
SELECT cls_a, cls_b, emd_q,
       ROUND(CAST(emd_q AS DOUBLE)
             / CAST(n_a * n_b * span AS DOUBLE), 8) AS emd
FROM res CROSS JOIN sp"""


def q_ks_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    document-length distributions of every source pair — the standard
    drift test a curation pipeline runs between crawl snapshots /
    upstream sources.  ks_q = max |cum_a*n_b - cum_b*n_a| is exact
    BIGINT (engine-independent max of integers) with the arg-max
    length reported under an integer tie-break.  FULL SQL ORACLE
    (_sql_ks_sources) — see spatial/stats.py ks_pairs."""
    from proj_spark.spatial import stats as spatial_stats
    docs = _docs(spark, sf_dir)
    obs = docs.select(F.col("source"),
                      F.col("n_chars").cast("long").alias("v"),
                      F.lit(1).alias("c"))
    return spatial_stats.ks_pairs(obs, cls_col="source", val_col="v",
                                  cnt_col="c")


def _sql_ks_sources() -> str:
    return """WITH cnt AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
), tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
pairs AS (SELECT a.source AS cls_a, b.source AS cls_b,
                 a.n AS n_a, b.n AS n_b
          FROM tot a CROSS JOIN tot b WHERE a.source < b.source),
vals AS (SELECT DISTINCT v FROM cnt),
g AS (SELECT p.cls_a, p.cls_b, p.n_a, p.n_b, vals.v,
             COALESCE(ca.c, 0) AS c_a, COALESCE(cb.c, 0) AS c_b
      FROM pairs p CROSS JOIN vals
      LEFT JOIN cnt ca ON ca.source = p.cls_a AND ca.v = vals.v
      LEFT JOIN cnt cb ON cb.source = p.cls_b AND cb.v = vals.v),
cm AS (SELECT cls_a, cls_b, n_a, n_b, v,
              ABS(SUM(c_a) OVER (PARTITION BY cls_a, cls_b ORDER BY v)
                    * n_b
                  - SUM(c_b) OVER (PARTITION BY cls_a, cls_b ORDER BY v)
                    * n_a) AS d
       FROM g),
mx AS (SELECT *, MAX(d) OVER (PARTITION BY cls_a, cls_b) AS m FROM cm)
SELECT cls_a, cls_b, CAST(MAX(d) AS BIGINT) AS ks_q,
       CAST(MIN(CASE WHEN d = m THEN v END) AS BIGINT) AS arg_v,
       ROUND(CAST(MAX(d) AS DOUBLE) / CAST(n_a * n_b AS DOUBLE), 8) AS ks
FROM mx GROUP BY cls_a, cls_b, n_a, n_b"""


def q_gravity_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gravity-model distance-decay fit over the OD matrix: regress
    ln(flow) on ln(tile distance) across all origin-destination pairs
    (the classic spatial-interaction exponent; Zipf 1946 / Wilson
    1971).  ln(d) enters as round(ln(d^2)*5e5) over the EXACT integer
    squared tile distance, so both axes are exact micro-nat integers
    and the least-squares assembly is the shared quantized-sum fit.
    FULL SQL ORACLE (_sql_gravity_fit)."""
    od = q_od_flows(spark, sf_dir)
    dx = F.col("from_x") - F.col("to_x")
    dy = F.col("from_y") - F.col("to_y")
    d2 = (dx * dx + dy * dy).cast("long")
    uv = od.select(
        F.round(F.log(d2.cast("double")) * 5e5, 0).cast("long").alias("u"),
        F.round(F.log(F.col("n_hops").cast("double")) * 1e6, 0)
        .cast("long").alias("v"))
    return _loglog_fit(_loglog_sums(uv))


def _sql_gravity_fit(n: int) -> str:
    return f"""WITH od AS ({_sql_od_flows(n)}),
uv AS (
  SELECT CAST(ROUND(LN(CAST((from_x - to_x) * (from_x - to_x)
                            + (from_y - to_y) * (from_y - to_y)
                            AS DOUBLE)) * 5e5, 0) AS BIGINT) AS u,
         CAST(ROUND(LN(CAST(n_hops AS DOUBLE)) * 1e6, 0) AS BIGINT) AS v
  FROM od),
{_SQL_FIT_SUMS}
SELECT n_pts, su, sv, suuq, suvq,{_SQL_FIT}
FROM a"""


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance of order totals — the standard
    synthetic-vs-organic data forensics test (Benford 1938; Nigrini's
    audit usage).  The leading digit comes from the EXACT integer cents
    (identical decimal rendering in any engine); the expected share
    log10(1 + 1/d) and per-digit chi-square term are one fixed float
    expression over exact counts.  FULL SQL ORACLE (_sql_benford)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    d = (orders.where(cents > 0)
         .select(F.substring(cents.cast("string"), 1, 1).cast("int")
                 .alias("digit"))
         .groupBy("digit").agg(F.count("*").alias("n_obs")))
    tot = d.agg(F.sum("n_obs").alias("n_tot"))
    p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    exp = F.col("n_tot").cast("double") * p
    dev = F.col("n_obs").cast("double") - exp
    return (d.crossJoin(F.broadcast(tot))
            .select("digit", "n_obs",
                    F.round(p, 8).alias("p_benford"),
                    F.round(dev * dev / exp, 6).alias("chi2_term")))


def _sql_benford() -> str:
    p = "LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE))"
    exp = f"CAST(n_tot AS DOUBLE) * {p}"
    return f"""WITH c AS (
  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
  WHERE CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) > 0
), d AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM c GROUP BY 1
), t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_tot FROM d)
SELECT digit, n_obs, ROUND({p}, 8) AS p_benford,
       ROUND((CAST(n_obs AS DOUBLE) - {exp})
             * (CAST(n_obs AS DOUBLE) - {exp}) / ({exp}), 6) AS chi2_term
FROM d CROSS JOIN t"""


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of hourly event volume: the median of all
    pairwise slopes over the hourly-count series (Theil 1950 / Sen
    1968) — the outlier-resistant alternative to least squares every
    monitoring pipeline wants.  The series is the (epoch-hour, count)
    AGGREGATE, so the O(m^2) pair set grows with the time range only,
    never the corpus.  The median slope is reported as its EXACT
    rational (med_dy, med_dx) picked by a deterministic total order
    (double slope, then dy, dx — IEEE division is exactly rounded, so
    the order is engine-identical); lower median at rank ceil(n/2).

    The global rank runs in one partition BY CONTRACT: the pair set is
    m(m-1)/2 for m = distinct hours in the window (720 here; bounded
    by the monitoring horizon, never by corpus size).  For multi-year
    horizons the production path subsamples pairs per Sen's estimator
    before the same median machinery.  FULL SQL ORACLE
    (_sql_theil_sen)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if ev.schema["ts"].dataType.typeName() == "timestamp_ntz":
        # NTZ wall clock IS the stored (UTC-normalized) clock: absolute
        # epoch hour from date arithmetic, no session-timezone reading.
        hr = (F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long")
              * 24 + F.hour("ts"))
    else:
        hr = F.floor(F.unix_micros(F.col("ts")) / F.lit(3_600_000_000))
    ser = (ev.select(hr.alias("x"))
           .groupBy("x").agg(F.count("*").alias("y")))
    a, b = ser.alias("a"), ser.alias("b")
    pr = (a.join(b, F.col("a.x") < F.col("b.x"))
          .select((F.col("b.y") - F.col("a.y")).alias("dy"),
                  (F.col("b.x") - F.col("a.x")).alias("dx")))
    sl = pr.select("dy", "dx", (F.col("dy").cast("double")
                                / F.col("dx").cast("double")).alias("s"))
    w = Window.orderBy("s", "dy", "dx")
    r = sl.withColumn("rk", F.row_number().over(w))
    cnt = sl.agg(F.count("*").alias("n_pairs"))
    med = (r.crossJoin(F.broadcast(cnt))
           .where(F.col("rk") == F.floor((F.col("n_pairs") + 1) / 2))
           .select("n_pairs", F.col("dy").alias("med_dy"),
                   F.col("dx").alias("med_dx"),
                   F.round(F.col("s"), 8).alias("slope")))
    return med


def _sql_theil_sen() -> str:
    return f"""WITH {_sql_hourly()},
pr AS (
  SELECT b.y - a.y AS dy, b.x - a.x AS dx
  FROM ser a JOIN ser b ON a.x < b.x
), sl AS (
  SELECT dy, dx, CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE) AS s FROM pr
), r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY s, dy, dx) AS rk FROM sl
), c AS (SELECT COUNT(*) AS n_pairs FROM sl)
SELECT n_pairs, dy AS med_dy, dx AS med_dx, ROUND(s, 8) AS slope
FROM r CROSS JOIN c
WHERE rk = (n_pairs + 1) // 2"""


def q_mwu_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U (tie-corrected) between the document-length
    distributions of every source pair — the rank-based location-shift
    test next to ks_sources' shape test.  The doubled tie-averaged rank
    sum keeps u2q = 2*U exact BIGINT; the tie-corrected z is one float
    expression over exact integers.  FULL SQL ORACLE (_sql_mwu_sources)
    — see spatial/stats.py mwu_pairs."""
    from proj_spark.spatial import stats as spatial_stats
    docs = _docs(spark, sf_dir)
    obs = docs.select(F.col("source"),
                      F.col("n_chars").cast("long").alias("v"),
                      F.lit(1).alias("c"))
    return spatial_stats.mwu_pairs(obs, cls_col="source", val_col="v",
                                   cnt_col="c")


def _sql_mwu_sources() -> str:
    return """WITH cnt AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
), tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
pairs AS (SELECT a.source AS cls_a, b.source AS cls_b,
                 a.n AS n_a, b.n AS n_b
          FROM tot a CROSS JOIN tot b WHERE a.source < b.source),
vals AS (SELECT DISTINCT v FROM cnt),
g AS (SELECT p.cls_a, p.cls_b, p.n_a, p.n_b, vals.v,
             COALESCE(ca.c, 0) AS c_a, COALESCE(cb.c, 0) AS c_b,
             COALESCE(ca.c, 0) + COALESCE(cb.c, 0) AS ct
      FROM pairs p CROSS JOIN vals
      LEFT JOIN cnt ca ON ca.source = p.cls_a AND ca.v = vals.v
      LEFT JOIN cnt cb ON cb.source = p.cls_b AND cb.v = vals.v),
cm AS (SELECT cls_a, cls_b, n_a, n_b, c_a, ct,
              SUM(ct) OVER (PARTITION BY cls_a, cls_b ORDER BY v) - ct
                AS before
       FROM g),
agg AS (SELECT cls_a, cls_b, n_a, n_b,
               CAST(SUM(c_a * (2 * before + ct + 1)) AS BIGINT) AS r2,
               CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS tie_t
        FROM cm GROUP BY 1, 2, 3, 4)
SELECT cls_a, cls_b, r2 - n_a * (n_a + 1) AS u2q, tie_t,
       ROUND((CAST(r2 - n_a * (n_a + 1) AS DOUBLE)
              - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
             / SQRT(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 3.0
                    * (CAST(n_a + n_b + 1 AS DOUBLE)
                       - CAST(tie_t AS DOUBLE)
                       / (CAST(n_a + n_b AS DOUBLE)
                          * CAST(n_a + n_b - 1 AS DOUBLE)))), 6) AS z
FROM agg"""


NOV_BATCH = 50       # docs per ingest batch in the novelty curve


def q_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-novelty curve across ingest batches: for each batch of
    NOV_BATCH docs (crawl order = doc_id), the share of its distinct
    text shingles never seen in any earlier batch — the marginal-new-
    content metric that prices incremental crawls (diminishing novelty
    = stop recrawling).  Exact integers: distinct presence, min-batch
    first sighting, one float division.

    Scale shape: one distinct on (batch, shingle), one agg on shingle
    for the first sighting (both map-side combinable), then two TINY
    batch-level aggregates joined — the vocabulary never joins back to
    the corpus.  FULL SQL ORACLE (_sql_novelty_curve)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    sh = docs.select(
        (F.col("doc_id") / NOV_BATCH).cast("long").alias("batch"),
        F.explode(F.expr(
            f"array_distinct(transform("
            f"sequence(1, greatest(length(text) - {NGRAM_W - 1}, 0)),"
            f" i -> xxhash64(substring(text, i, {NGRAM_W}))))"))
        .alias("s"))
    present = sh.distinct()
    tot = present.groupBy("batch").agg(F.count("*").alias("n_shingles"))
    first = present.groupBy("s").agg(F.min("batch").alias("batch"))
    new = first.groupBy("batch").agg(F.count("*").alias("n_new"))
    return (tot.join(new, "batch", "left")
            .fillna(0, subset=["n_new"])
            .select("batch", "n_shingles", "n_new",
                    F.round(F.col("n_new").cast("double")
                            / F.col("n_shingles").cast("double"), 6)
                    .alias("novelty")))


def _sql_novelty_curve() -> str:
    return f"""WITH sh AS (
  SELECT DISTINCT CAST(doc_id AS BIGINT) // {NOV_BATCH} AS batch,
         unnest(list_distinct([substring(text, i, {NGRAM_W})
           for i in generate_series(1,
             greatest(len(text) - {NGRAM_W - 1}, 0))])) AS s
  FROM documents
), tot AS (
  SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_shingles
  FROM sh GROUP BY 1
), first AS (
  SELECT s, MIN(batch) AS batch FROM sh GROUP BY 1
), nw AS (
  SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_new FROM first GROUP BY 1
)
SELECT t.batch, t.n_shingles, COALESCE(nw.n_new, 0) AS n_new,
       ROUND(CAST(COALESCE(nw.n_new, 0) AS DOUBLE)
             / CAST(t.n_shingles AS DOUBLE), 6) AS novelty
FROM tot t LEFT JOIN nw USING (batch)"""


def q_lang_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information + chi-square decomposition of the
    lang x source contingency table — the dependence screen between
    corpus dimensions (is language balanced per upstream source?).
    Per-cell PMI is quantized ONCE to integer micro-nats (the DSIR
    discipline), so mi_q = n_ij * round(ln(n_ij*N/(n_i*n_j))*1e6) is
    exact BIGINT and the table's total MI is an exact integer sum; the
    chi-square term is one float expression over exact counts.
    FULL SQL ORACLE (_sql_lang_source_mi)."""
    docs = _docs(spark, sf_dir)
    cell = docs.groupBy("lang", "source").agg(F.count("*").alias("n_ij"))
    ri = docs.groupBy("lang").agg(F.count("*").alias("n_i"))
    cj = docs.groupBy("source").agg(F.count("*").alias("n_j"))
    tot = docs.agg(F.count("*").alias("n_tot"))
    g = (cell.join(F.broadcast(ri), "lang")
         .join(F.broadcast(cj), "source")
         .crossJoin(F.broadcast(tot)))
    lr = F.round(F.log(F.col("n_ij").cast("double")
                       * F.col("n_tot").cast("double")
                       / (F.col("n_i").cast("double")
                          * F.col("n_j").cast("double"))) * 1e6, 0)
    e = (F.col("n_i").cast("double") * F.col("n_j").cast("double")
         / F.col("n_tot").cast("double"))
    dev = F.col("n_ij").cast("double") - e
    return g.select(
        "lang", "source", "n_ij", "n_i", "n_j",
        (F.col("n_ij") * lr.cast("long")).alias("mi_q"),
        F.round(dev * dev / e, 6).alias("chi2_term"))


def _sql_lang_source_mi() -> str:
    lr = ("ROUND(LN(CAST(n_ij AS DOUBLE) * CAST(n_tot AS DOUBLE)"
          " / (CAST(n_i AS DOUBLE) * CAST(n_j AS DOUBLE))) * 1e6, 0)")
    e = ("(CAST(n_i AS DOUBLE) * CAST(n_j AS DOUBLE)"
         " / CAST(n_tot AS DOUBLE))")
    return f"""WITH cell AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_ij
  FROM documents GROUP BY 1, 2
), ri AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_i
          FROM documents GROUP BY 1),
cj AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_j
       FROM documents GROUP BY 1),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM documents)
SELECT lang, source, n_ij, n_i, n_j,
       n_ij * CAST({lr} AS BIGINT) AS mi_q,
       ROUND((CAST(n_ij AS DOUBLE) - {e}) * (CAST(n_ij AS DOUBLE) - {e})
             / {e}, 6) AS chi2_term
FROM cell JOIN ri USING (lang) JOIN cj USING (source) CROSS JOIN t"""


ACF_MAX_LAG = 24     # hourly autocorrelation horizon


def q_acf_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of hourly event volume at lags 1..24 —
    the periodicity fingerprint (diurnal cycle) of the event stream.
    Per lag, the Pearson correlation over overlapping (y_t, y_{t+l})
    windows is assembled from six EXACT BIGINT sums (n, S_ab, S_a,
    S_b, S_aa, S_bb) in one fixed float expression.  The lagged
    self-join runs on the AGGREGATED hourly series (bounded by the
    horizon, never the corpus).  FULL SQL ORACLE (_sql_acf_hours)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if ev.schema["ts"].dataType.typeName() == "timestamp_ntz":
        hr = (F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long")
              * 24 + F.hour("ts"))
    else:
        hr = F.floor(F.unix_micros(F.col("ts")) / F.lit(3_600_000_000))
    ser = (ev.select(hr.alias("x"))
           .groupBy("x").agg(F.count("*").alias("y")))
    a = ser.select("x", F.col("y").alias("ya")).withColumn(
        "lag", F.explode(F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))))
    b = ser.select(F.col("x").alias("bx"), F.col("y").alias("yb"))
    j = a.join(b, F.col("x") + F.col("lag") == F.col("bx"))
    agg = (j.groupBy("lag").agg(
        F.count("*").alias("n_win"),
        F.sum(F.col("ya") * F.col("yb")).alias("s_ab"),
        F.sum("ya").alias("s_a"), F.sum("yb").alias("s_b"),
        F.sum(F.col("ya") * F.col("ya")).alias("s_aa"),
        F.sum(F.col("yb") * F.col("yb")).alias("s_bb")))
    nd = F.col("n_win").cast("double")
    num = nd * F.col("s_ab").cast("double") - (F.col("s_a").cast("double")
                                               * F.col("s_b").cast("double"))
    da = nd * F.col("s_aa").cast("double") - (F.col("s_a").cast("double")
                                              * F.col("s_a").cast("double"))
    db = nd * F.col("s_bb").cast("double") - (F.col("s_b").cast("double")
                                              * F.col("s_b").cast("double"))
    return agg.select("lag", "n_win", "s_ab", "s_a", "s_b", "s_aa", "s_bb",
                      F.when(da * db > 0,
                             F.round(num / F.sqrt(da * db), 6)).alias("acf"))


def _sql_acf_hours() -> str:
    return f"""WITH {_sql_hourly()},
lags AS (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag),
j AS (
  SELECT l.lag, a.y AS ya, b.y AS yb
  FROM ser a CROSS JOIN lags l JOIN ser b ON a.x + l.lag = b.x
), agg AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_win,
         CAST(SUM(ya * yb) AS BIGINT) AS s_ab,
         CAST(SUM(ya) AS BIGINT) AS s_a, CAST(SUM(yb) AS BIGINT) AS s_b,
         CAST(SUM(ya * ya) AS BIGINT) AS s_aa,
         CAST(SUM(yb * yb) AS BIGINT) AS s_bb
  FROM j GROUP BY 1)
SELECT lag, n_win, s_ab, s_a, s_b, s_aa, s_bb,
       CASE WHEN (CAST(n_win AS DOUBLE) * CAST(s_aa AS DOUBLE)
                  - (CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)))
                 * (CAST(n_win AS DOUBLE) * CAST(s_bb AS DOUBLE)
                    - (CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE))) > 0
       THEN ROUND((CAST(n_win AS DOUBLE) * CAST(s_ab AS DOUBLE)
              - (CAST(s_a AS DOUBLE) * CAST(s_b AS DOUBLE)))
             / SQRT((CAST(n_win AS DOUBLE) * CAST(s_aa AS DOUBLE)
                     - (CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)))
                    * (CAST(n_win AS DOUBLE) * CAST(s_bb AS DOUBLE)
                       - (CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)))),
             6) END AS acf
FROM agg"""


# ---------------------------------------------------------------------------
# session 21: graph quality metrics + corpus-statistics + relational spine
# ---------------------------------------------------------------------------


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation partition — the
    standard "was the community detection any good" score (Q > 0.3 is
    the folk threshold for real structure).  Runs LPA on the SAME
    deterministic hash-sampled undirected graph as q_label_prop, then
    scores the partition with graph.modularity: per community c,
    q_num = 4*m*e_c - d_c^2 is an exact BIGINT and the contribution
    Q_c = q_num / (4 m^2) one fixed float division (Newman & Girvan
    2004).  Total Q = sum(q_part).

    Scale plan: the LPA rounds are the label_prop plan; the scoring
    adds one hash-agg for degrees, one edge join against broadcast
    labels and tiny per-community joins — the edge list is never
    reshuffled onto a new key.

    FULL SQL ORACLE (_sql_modularity): the label rounds as CTE pairs
    (shared with the label_prop oracle) + the same exact-integer
    scoring."""
    from proj_spark.graph import modularity
    und = _lpa_und(spark, sf_dir)
    lab = _lpa_labels(_sym(und))
    return modularity(und, lab)


def _sql_modularity(n: int) -> str:
    R = LPA_ROUNDS
    return f"""WITH {_sql_lpa_chain(n)},
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY 1),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_e FROM und),
ein AS (SELECT la.lab AS community, CAST(COUNT(*) AS BIGINT) AS e_in
        FROM und
        JOIN lab{R} la ON la.u = und.a
        JOIN lab{R} lb ON lb.u = und.b
        WHERE la.lab = lb.lab GROUP BY 1),
dc AS (SELECT l.lab AS community, CAST(SUM(d.d) AS BIGINT) AS d_tot,
              CAST(COUNT(*) AS BIGINT) AS n_nodes
       FROM lab{R} l JOIN deg d ON d.u = l.u GROUP BY 1)
SELECT CAST(dc.community AS BIGINT) AS community, dc.n_nodes,
       COALESCE(ein.e_in, 0) AS e_in, dc.d_tot, m.m_e,
       4 * m.m_e * COALESCE(ein.e_in, 0) - dc.d_tot * dc.d_tot AS q_num,
       ROUND(CAST(4 * m.m_e * COALESCE(ein.e_in, 0)
                  - dc.d_tot * dc.d_tot AS DOUBLE)
             / (4.0 * CAST(m.m_e AS DOUBLE) * CAST(m.m_e AS DOUBLE)), 6)
         + 0.0 AS q_part
FROM dc LEFT JOIN ein ON ein.community = dc.community CROSS JOIN m"""


def q_clustering_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per domain over the SAME
    DOULION-sampled undirected graph as q_triangles: for each node of
    degree >= 2, lcc = 2*tri / (deg*(deg-1)) (Watts & Strogatz 1998),
    reported as the exact floored integer micro-ratio
    lcc_micro = (2*tri*1e6) div (deg*(deg-1)) so the output is
    engine-exact BIGINT — no float ever.

    Scale plan: triangle counts come from the degree-oriented wedge
    join (graph.triangle_counts — hub wedges bounded); degrees are one
    hash-agg on the sampled edge list; the final assembly is a left
    join on the tiny per-node relation.

    FULL SQL ORACLE (_sql_clustering_coef): the canonical a<b<c
    three-way self-join triangle count + the same degree/div
    arithmetic — agreement re-proves the orientation scheme AND the
    coefficient arithmetic."""
    from proj_spark.graph import triangle_counts
    # persisted: triangle_counts re-derives its own sampled und from
    # the raw links, and the degree relation here walks them again —
    # caching the skinny directed edge list keeps the corpus synthesis
    # to ONE pass per (corpus) via the plan-keyed cache.
    links = _domain_links(spark, sf_dir).persist()
    und = undirected(links, TRI_SAMPLE_MOD)
    deg = (und.select(F.col("a").alias("domain"))
           .union(und.select("b"))
           .groupBy("domain").agg(F.count("*").alias("deg")))
    tri = (triangle_counts(links, sample_mod=TRI_SAMPLE_MOD)
           .select(F.col("node").alias("domain"), "n_tri"))
    return (deg.where(F.col("deg") >= 2)
            .join(tri, "domain", "left")
            .fillna(0, subset=["n_tri"])
            .select(F.col("domain").cast("long").alias("domain"),
                    F.col("deg").cast("long").alias("deg"),
                    F.col("n_tri").cast("long").alias("n_tri"),
                    F.expr("(2 * n_tri * 1000000)"
                           " div (deg * (deg - 1))").alias("lcc_micro")))


def _sql_clustering_coef(n: int) -> str:
    return f"""WITH {_links_cte(n)},
{_sql_und(TRI_SAMPLE_MOD)},
{_SQL_TRI},
tc AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
       FROM (SELECT x AS node FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri)
       GROUP BY 1),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        GROUP BY 1)
SELECT CAST(deg.node AS BIGINT) AS domain, deg.deg,
       COALESCE(tc.n_tri, 0) AS n_tri,
       (2 * COALESCE(tc.n_tri, 0) * 1000000)
         // (deg.deg * (deg.deg - 1)) AS lcc_micro
FROM deg LEFT JOIN tc ON tc.node = deg.node
WHERE deg.deg >= 2"""


def _full_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL (unsampled) canonical undirected simple domain graph,
    shared by assortativity and rich_club.

    Persisted: these statistics reference the edge relation many times
    (symmetric union, degree joins); without the barrier each reference
    re-runs the corpus synthesis (assortativity measured 28.8 s -> 3.4 s
    at sf0.1).  Plan-keyed cache — both consumers share one copy."""
    return undirected(_domain_links(spark, sf_dir)).persist()


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the full distinct-edge domain graph:
    the Pearson correlation of endpoint degrees over all DIRECTED edge
    incidences (both orientations of each undirected edge — the
    standard edge-endpoint formulation, Newman 2002).  Webgraphs are
    typically disassortative (hubs link to leaves, r < 0).

    Exactness: degrees are exact BIGINTs, so all five sufficient sums
    (n, s_x, s_xx, s_yy, s_xy) are exact BIGINT — r is ONE fixed float
    expression at the end.  By symmetry s_y = s_x, but both are
    computed and emitted as independent checks.

    Scale plan: the degree relation is one hash-agg (bounded by the
    domain universe), broadcast twice into the edge incidence
    relation; one single-row agg ends the plan — the edge list
    shuffles zero times.

    FULL SQL ORACLE (_sql_assortativity)."""
    und = _full_und(spark, sf_dir)
    sym = _sym(und)
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    du = deg.select(F.col("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dy"))
    inc = sym.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    agg = inc.agg(F.count("*").alias("n_inc"),
                  F.sum("dx").alias("s_x"), F.sum("dy").alias("s_y"),
                  F.sum(F.col("dx") * F.col("dx")).alias("s_xx"),
                  F.sum(F.col("dy") * F.col("dy")).alias("s_yy"),
                  F.sum(F.col("dx") * F.col("dy")).alias("s_xy"))
    nd = F.col("n_inc").cast("double")
    num = nd * F.col("s_xy").cast("double") - (F.col("s_x").cast("double")
                                               * F.col("s_y").cast("double"))
    vx = nd * F.col("s_xx").cast("double") - (F.col("s_x").cast("double")
                                              * F.col("s_x").cast("double"))
    vy = nd * F.col("s_yy").cast("double") - (F.col("s_y").cast("double")
                                              * F.col("s_y").cast("double"))
    return agg.select("n_inc", "s_x", "s_y", "s_xx", "s_yy", "s_xy",
                      F.when(vx * vy > 0,
                             F.round(num / F.sqrt(vx * vy), 6))
                      .alias("r"))


def _sql_assortativity(n: int) -> str:
    return f"""WITH {_links_cte(n)},
{_sql_und()},
sym AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
inc AS (SELECT du.d AS dx, dv.d AS dy
        FROM sym JOIN deg du ON du.u = sym.u
                 JOIN deg dv ON dv.u = sym.v),
a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_inc,
             CAST(SUM(dx) AS BIGINT) AS s_x,
             CAST(SUM(dy) AS BIGINT) AS s_y,
             CAST(SUM(dx * dx) AS BIGINT) AS s_xx,
             CAST(SUM(dy * dy) AS BIGINT) AS s_yy,
             CAST(SUM(dx * dy) AS BIGINT) AS s_xy
      FROM inc)
SELECT n_inc, s_x, s_y, s_xx, s_yy, s_xy,
       CASE WHEN (CAST(n_inc AS DOUBLE) * CAST(s_xx AS DOUBLE)
                  - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE))
                 * (CAST(n_inc AS DOUBLE) * CAST(s_yy AS DOUBLE)
                    - CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE)) > 0
       THEN ROUND((CAST(n_inc AS DOUBLE) * CAST(s_xy AS DOUBLE)
              - CAST(s_x AS DOUBLE) * CAST(s_y AS DOUBLE))
             / SQRT((CAST(n_inc AS DOUBLE) * CAST(s_xx AS DOUBLE)
                     - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE))
                    * (CAST(n_inc AS DOUBLE) * CAST(s_yy AS DOUBLE)
                       - CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE))),
             6) END AS r
FROM a"""


HEAPS_B = NOV_BATCH   # same ingest batches as the novelty curve


def q_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(n) ~ K * n^beta, fitted
    as ln V vs ln n at ingest-batch boundaries (crawl order = doc_id,
    HEAPS_B docs per batch — the novelty_curve batching).  The
    "vocabulary" is the NGRAM_W-char shingle space — the engine's
    dedup fingerprint unit (Heaps' law generalizes from word types to
    n-grams; the synthetic corpus' word-type vocabulary saturates in
    the first batch, so word types would give a degenerate zero-slope
    fit — the shingle exponent is the one that prices fingerprint-
    table growth with crawl size).

    Exactness: cumulative shingle totals (pure length arithmetic — no
    explode needed for the x axis) and first-sighting vocabulary
    counts are exact BIGINT window sums over the TINY per-batch
    relation; both logs are quantized to integer micro-nats per point
    and the least-squares assembly is the shared _loglog_fit — engine
    bit-exact.

    Scale plan: one explode + two hash-aggs for first sightings
    (map-side combinable), one arithmetic agg for totals; the
    cumulative windows and the fit run over #batches rows only.  The
    vocabulary never joins back to the corpus.

    FULL SQL ORACLE (_sql_heaps_fit)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    batch = F.expr(f"CAST(doc_id AS BIGINT) div {HEAPS_B}").alias("batch")
    tot = (docs.select(
        batch,
        F.greatest(F.length("text") - (NGRAM_W - 1), F.lit(0))
        .cast("long").alias("k"))
        .groupBy("batch").agg(F.sum("k").alias("n_tok")))
    sh = docs.select(
        batch,
        F.explode(F.expr(
            f"transform(sequence(1, greatest(length(text) - {NGRAM_W - 1},"
            f" 0)), i -> substring(text, i, {NGRAM_W}))")).alias("tok"))
    first = (sh.groupBy("tok").agg(F.min("batch").alias("batch"))
             .groupBy("batch").agg(F.count("*").alias("n_new")))
    w = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, 0)
    cum = (tot.join(first, "batch", "left")
           .fillna(0, subset=["n_new"])
           .select("batch",
                   F.sum("n_tok").over(w).alias("cum_tok"),
                   F.sum("n_new").over(w).alias("cum_vocab")))
    uv = cum.select(
        F.round(F.log(F.col("cum_tok").cast("double")) * 1e6, 0)
        .cast("long").alias("u"),
        F.round(F.log(F.col("cum_vocab").cast("double")) * 1e6, 0)
        .cast("long").alias("v"))
    return _loglog_fit(_loglog_sums(uv))


def _sql_heaps_fit() -> str:
    return f"""WITH tk AS (
  SELECT CAST(doc_id AS BIGINT) // {HEAPS_B} AS batch,
         unnest([substring(text, i, {NGRAM_W})
                 for i in generate_series(1,
                   greatest(len(text) - {NGRAM_W - 1}, 0))]) AS tok
  FROM documents),
tot AS (SELECT CAST(doc_id AS BIGINT) // {HEAPS_B} AS batch,
               CAST(SUM(GREATEST(len(text) - {NGRAM_W - 1}, 0))
                    AS BIGINT) AS n_tok
        FROM documents GROUP BY 1),
fs AS (SELECT tok, MIN(batch) AS batch FROM tk GROUP BY 1),
nw AS (SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_new
       FROM fs GROUP BY 1),
cum AS (SELECT t.batch,
               SUM(t.n_tok) OVER (ORDER BY t.batch
                 ROWS UNBOUNDED PRECEDING) AS cum_tok,
               SUM(COALESCE(nw.n_new, 0)) OVER (ORDER BY t.batch
                 ROWS UNBOUNDED PRECEDING) AS cum_vocab
        FROM tot t LEFT JOIN nw ON nw.batch = t.batch),
uv AS (SELECT
         CAST(ROUND(LN(CAST(cum_tok AS DOUBLE)) * 1e6, 0) AS BIGINT) AS u,
         CAST(ROUND(LN(CAST(cum_vocab AS DOUBLE)) * 1e6, 0) AS BIGINT) AS v
       FROM cum),
{_SQL_FIT_SUMS}
SELECT n_pts, su, sv, suuq, suvq,{_SQL_FIT}
FROM a"""


def q_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-richness estimators from the token frequency-of-
    frequencies: Chao1 lower-bound species richness
    chao1 = V + f1*(f1-1) / (2*(f2+1))  (Chao 1984, bias-corrected)
    and the Good-Turing unseen-probability mass f1/N (Good 1953) —
    the "how much vocabulary has this crawl NOT seen yet" estimates
    that complement heaps_fit's growth exponent.

    Exactness: V, N, f1, f2 are exact counts; both estimators are
    emitted as floored integer micro-units (BIGINT div) so every
    output column is engine-exact BIGINT — no float ever.

    Scale plan: token hash-agg -> frequency histogram hash-agg ->
    one single-row agg; all map-side combinable, output one row.

    FULL SQL ORACLE (_sql_vocab_richness)."""
    docs = _docs(spark, sf_dir)
    cnts = (docs.select(F.explode(analysis.tokens(F.col("text")))
                        .alias("tok"))
            .groupBy("tok").agg(F.count("*").alias("c")))
    agg = cnts.agg(
        F.count("*").alias("v_types"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("f2"))
    return agg.select(
        F.col("v_types").cast("long").alias("v_types"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        F.expr("v_types * 1000000"
               " + (f1 * (f1 - 1) * 1000000) div (2 * (f2 + 1))")
        .alias("chao1_micro"),
        F.expr("(f1 * 1000000) div n_tokens").alias("gt_unseen_micro"))


def _sql_vocab_richness() -> str:
    return f"""WITH tk AS (
  SELECT unnest({_sql_toks()}) AS tok FROM documents),
cnts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY 1),
a AS (SELECT CAST(COUNT(*) AS BIGINT) AS v_types,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM cnts)
SELECT v_types, n_tokens, f1, f2,
       v_types * 1000000
         + (f1 * (f1 - 1) * 1000000) // (2 * (f2 + 1)) AS chao1_micro,
       (f1 * 1000000) // n_tokens AS gt_unseen_micro
FROM a"""


KT_XW = 32     # kendall_tau token-count bucket width
KT_YW = 256    # kendall_tau char-count bucket width


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between bucketed document length
    measures (token count div 32 vs char count div 256) — the robust
    monotone-association screen between corpus size dimensions, with
    the tie correction that bucketing makes mandatory.

    Exact pair counting on the AGGREGATED lattice: concordant C and
    discordant D come from the lattice self-join on x1 < x2 (cell
    count products — never a document self-join); x/y tie pair counts
    t_x, t_y from the marginals as Σ T(T-1)/2 (exact: T(T-1) is even);
    n0 = n(n-1)/2.  tau_b = (C-D)/sqrt((n0-t_x)(n0-t_y)) is ONE fixed
    float expression over exact BIGINTs.  (At >1e9 docs the pair
    counts approach BIGINT limits — promote the final sums to
    DECIMAL(38) there; the lattice algebra is unchanged.)

    Scale plan: one hash-agg to the tiny (xb, yb) lattice, broadcast
    lattice self-join, three single-row aggs — the corpus shuffles
    once.  FULL SQL ORACLE (_sql_kendall_tau)."""
    docs = _docs(spark, sf_dir)
    s = analysis.doc_stats(docs).select(
        F.expr(f"CAST(n_tokens AS BIGINT) div {KT_XW}").alias("xb"),
        F.expr(f"CAST(n_chars_c AS BIGINT) div {KT_YW}").alias("yb"))
    cells = s.groupBy("xb", "yb").agg(F.count("*").alias("c"))
    c1 = cells.select(F.col("xb").alias("x1"), F.col("yb").alias("y1"),
                      F.col("c").alias("c1"))
    c2 = cells.select(F.col("xb").alias("x2"), F.col("yb").alias("y2"),
                      F.col("c").alias("c2"))
    pairs = (c1.join(F.broadcast(c2), F.col("x1") < F.col("x2"))
             .agg(F.sum(F.when(F.col("y1") < F.col("y2"),
                               F.col("c1") * F.col("c2")).otherwise(0))
                  .alias("nc"),
                  F.sum(F.when(F.col("y1") > F.col("y2"),
                               F.col("c1") * F.col("c2")).otherwise(0))
                  .alias("nd")))
    tx = (cells.groupBy("xb").agg(F.sum("c").alias("t"))
          .agg(F.sum(F.expr("(t * (t - 1)) div 2")).alias("t_x")))
    ty = (cells.groupBy("yb").agg(F.sum("c").alias("t"))
          .agg(F.sum(F.expr("(t * (t - 1)) div 2")).alias("t_y")))
    tot = cells.agg(F.sum("c").alias("n_docs"))
    out = (pairs.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
           .crossJoin(F.broadcast(tot)))
    n0 = F.expr("(n_docs * (n_docs - 1)) div 2")
    den = ((n0 - F.col("t_x")).cast("double")
           * (n0 - F.col("t_y")).cast("double"))
    return out.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("nc").cast("long").alias("nc"),
        F.col("nd").cast("long").alias("nd"),
        F.col("t_x").cast("long").alias("t_x"),
        F.col("t_y").cast("long").alias("t_y"),
        F.when(den > 0,
               F.round((F.col("nc") - F.col("nd")).cast("double")
                       / F.sqrt(den), 6)).alias("tau_b"))


def _sql_kendall_tau() -> str:
    s = _sql_text_stats()
    return f"""WITH st AS (
  SELECT CAST({s['n_tok']} AS BIGINT) // {KT_XW} AS xb,
         CAST({s['n']} AS BIGINT) // {KT_YW} AS yb
  FROM documents),
cells AS (SELECT xb, yb, CAST(COUNT(*) AS BIGINT) AS c
          FROM st GROUP BY 1, 2),
p AS (SELECT
        CAST(SUM(CASE WHEN a.yb < b.yb THEN a.c * b.c ELSE 0 END)
             AS BIGINT) AS nc,
        CAST(SUM(CASE WHEN a.yb > b.yb THEN a.c * b.c ELSE 0 END)
             AS BIGINT) AS nd
      FROM cells a JOIN cells b ON a.xb < b.xb),
txs AS (SELECT CAST(SUM((t * (t - 1)) // 2) AS BIGINT) AS t_x
        FROM (SELECT SUM(c) AS t FROM cells GROUP BY xb)),
tys AS (SELECT CAST(SUM((t * (t - 1)) // 2) AS BIGINT) AS t_y
        FROM (SELECT SUM(c) AS t FROM cells GROUP BY yb)),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_docs FROM cells)
SELECT n_docs, nc, nd, t_x, t_y,
       CASE WHEN (CAST((n_docs * (n_docs - 1)) // 2 - t_x AS DOUBLE)
                  * CAST((n_docs * (n_docs - 1)) // 2 - t_y AS DOUBLE)) > 0
       THEN ROUND(CAST(nc - nd AS DOUBLE)
             / SQRT(CAST((n_docs * (n_docs - 1)) // 2 - t_x AS DOUBLE)
                    * CAST((n_docs * (n_docs - 1)) // 2 - t_y AS DOUBLE)),
             6) END AS tau_b
FROM p CROSS JOIN txs CROSS JOIN tys CROSS JOIN tot"""


_Q4_LO_US = 852_076_800 * 1_000_000    # 1997-01-01T00:00:00Z
_Q4_HI_US = 859_852_800 * 1_000_000    # 1997-04-01T00:00:00Z
_Q4_LATE_US = 60 * 86_400 * 1_000_000  # "late": shipped >= 60 days after


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style order-priority check: orders placed in one
    quarter that had at least one LATE lineitem (shipped >= 60 days
    after the order date — this schema has no commit/receipt dates, so
    lateness is ship-lag), counted per priority class.

    Semantics: EXISTS — implemented as a LEFT SEMI join with the
    compound condition (key equality + the correlated lateness gate),
    so no lineitem multiplicity ever inflates a count.  All date
    arithmetic is stored epoch micros (session-timezone independent).

    Scale plan: orders pre-filtered to the quarter (a small fraction);
    the semi join shuffles both sides on orderkey once — lineitem is
    projected to (orderkey, ship_us) first, so the wide columns never
    move; output is a 5-row hash agg.

    FULL SQL ORACLE (_sql_order_priority): the literal EXISTS form."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ous = temporal.epoch_micros(o, "o_orderdate")
    orders = (o.where((ous >= _Q4_LO_US) & (ous < _Q4_HI_US))
              .select("o_orderkey", "o_orderpriority",
                      ous.alias("o_date_us")))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    items = li.select("l_orderkey",
                      temporal.epoch_micros(li, "l_shipdate")
                      .alias("l_ship_us"))
    late = orders.join(
        items,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_ship_us") >= F.col("o_date_us") + F.lit(_Q4_LATE_US)),
        "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders"))
            .select("o_orderpriority",
                    F.col("n_orders").cast("long").alias("n_orders")))


def _sql_order_priority() -> str:
    return f"""SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
WHERE epoch_us(o_orderdate) >= {_Q4_LO_US}
  AND epoch_us(o_orderdate) < {_Q4_HI_US}
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND epoch_us(l.l_shipdate)
                    >= epoch_us(o.o_orderdate) + {_Q4_LATE_US})
GROUP BY 1"""


_Q14_LO_US = 883_612_800 * 1_000_000   # 1998-01-01T00:00:00Z
_Q14_HI_US = 915_148_800 * 1_000_000   # 1999-01-01T00:00:00Z


def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promotion effect: the share of one ship-year's
    revenue on PROMO-type parts.  Revenue is the exact integer
    price_c * (100 - disc_c) (cents x100) so both sums are exact
    BIGINTs; the percentage is one fixed float expression.

    Scale plan: the part dimension (bounded) broadcasts into the
    date-pre-filtered lineitem scan; ONE map-side stage + a single-row
    agg — zero shuffles of the fact table.

    FULL SQL ORACLE (_sql_promo_share)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    lus = temporal.epoch_micros(li, "l_shipdate")
    items = (li.where((lus >= _Q14_LO_US) & (lus < _Q14_HI_US))
             .select("l_partkey",
                     (_money_cents(F.col("l_extendedprice"))
                      * (100 - _money_cents(F.col("l_discount"))))
                     .alias("rev_c2")))
    part = (spark.read.parquet(f"{sf_dir}/part.parquet")
            .select("p_partkey", "p_type"))
    j = items.join(F.broadcast(part),
                   F.col("l_partkey") == F.col("p_partkey"))
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev_c2"))
              .otherwise(0)).alias("promo_c2"),
        F.sum("rev_c2").alias("total_c2"))
    return agg.select(
        F.col("promo_c2").cast("long").alias("promo_c2"),
        F.col("total_c2").cast("long").alias("total_c2"),
        F.round(F.lit(100.0) * F.col("promo_c2").cast("double")
                / F.col("total_c2").cast("double"), 6)
        .alias("promo_pct"))


def _sql_promo_share() -> str:
    return f"""WITH it AS (
  SELECT l_partkey,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
         * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS rev_c2
  FROM lineitem
  WHERE epoch_us(l_shipdate) >= {_Q14_LO_US}
    AND epoch_us(l_shipdate) < {_Q14_HI_US}),
a AS (SELECT
        CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_c2 ELSE 0 END)
             AS BIGINT) AS promo_c2,
        CAST(SUM(rev_c2) AS BIGINT) AS total_c2
      FROM it JOIN part ON l_partkey = p_partkey)
SELECT promo_c2, total_c2,
       ROUND(100.0 * CAST(promo_c2 AS DOUBLE)
             / CAST(total_c2 AS DOUBLE), 6) AS promo_pct
FROM a"""


def q_cusum_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint screen over the hourly event-volume series:
    the hour where the cumulative count deviates most from the
    constant-rate line — with prefix sums P_i, total S and n hours,
    D_i = n*P_i - i*S is an exact BIGINT and the changepoint is
    argmax |D_i| (ties to the earliest hour); the normalized statistic
    kappa = |D|/(n*S) is the Kolmogorov-style scan height.

    Scale plan: the corpus aggregates to the tiny hourly series in one
    hash-agg; the prefix/rank windows and the deterministic top-1 run
    over #hours rows only (single-partition window over the aggregate,
    same as tile_gini/acf_hours).

    FULL SQL ORACLE (_sql_cusum_hours)."""
    ev = _events_micros(spark, sf_dir)
    ser = _hourly(ev)
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    r = ser.select("x",
                   F.sum("y").over(w).alias("p"),
                   F.row_number().over(Window.orderBy("x")).alias("i"))
    tot = ser.agg(F.count("*").alias("n_hours"),
                  F.sum("y").alias("s_tot"))
    d = (r.crossJoin(F.broadcast(tot))
         .select("x", "i", "n_hours", "s_tot",
                 (F.col("n_hours") * F.col("p")
                  - F.col("i") * F.col("s_tot")).alias("d")))
    top = d.orderBy(F.abs(F.col("d")).desc(), "x").limit(1)
    return top.select(
        F.col("n_hours").cast("long").alias("n_hours"),
        F.col("s_tot").cast("long").alias("s_tot"),
        F.col("x").cast("long").alias("cp_hour"),
        F.col("i").cast("long").alias("cp_rank"),
        F.col("d").cast("long").alias("d_stat"),
        F.round(F.abs(F.col("d")).cast("double")
                / (F.col("n_hours").cast("double")
                   * F.col("s_tot").cast("double")), 6).alias("kappa"))


def _sql_cusum_hours() -> str:
    return f"""WITH {_sql_hourly()},
r AS (SELECT x,
             SUM(y) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS p,
             ROW_NUMBER() OVER (ORDER BY x) AS i
      FROM ser),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST(SUM(y) AS BIGINT) AS s_tot FROM ser),
d AS (SELECT x, i, n_hours, s_tot,
             n_hours * p - i * s_tot AS d
      FROM r CROSS JOIN tot)
SELECT CAST(n_hours AS BIGINT) AS n_hours, s_tot,
       CAST(x AS BIGINT) AS cp_hour, CAST(i AS BIGINT) AS cp_rank,
       CAST(d AS BIGINT) AS d_stat,
       ROUND(CAST(ABS(d) AS DOUBLE)
             / (CAST(n_hours AS DOUBLE) * CAST(s_tot AS DOUBLE)), 6)
         AS kappa
FROM d ORDER BY ABS(d) DESC, x LIMIT 1"""


def q_fano_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (index of dispersion) of each event type's hourly
    arrival counts over the common observed horizon — the temporal
    twin of the quadrat CSR test: VMR = 1 under Poisson arrivals,
    >> 1 for bursty types.  The same exact-integer identity as
    q_quadrat makes empty hours free:
    VMR = (Q*Σc² - N²) / (Q*N) with the numerator an exact BIGINT.

    Scale plan: one (type, hour) hash-agg, one per-type agg over the
    tiny lattice, the single-row horizon broadcast in — the corpus
    shuffles once.  FULL SQL ORACLE (_sql_fano_hours)."""
    ev = _events_micros(spark, sf_dir)
    cell = _hourly(ev, "event_type", count="c")
    q = cell.agg((F.max("x") - F.min("x") + 1).alias("q_hours"))
    per = cell.groupBy("event_type").agg(
        F.sum("c").alias("n_events"),
        F.sum(F.col("c") * F.col("c")).alias("s_xx"))
    out = per.crossJoin(F.broadcast(q))
    num = (F.col("q_hours") * F.col("s_xx")
           - F.col("n_events") * F.col("n_events"))
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("q_hours").cast("long").alias("q_hours"),
        F.col("s_xx").cast("long").alias("s_xx"),
        num.cast("long").alias("vmr_num"),
        F.round(num.cast("double")
                / (F.col("q_hours").cast("double")
                   * F.col("n_events").cast("double")), 6).alias("vmr"))


def _sql_fano_hours() -> str:
    return f"""WITH {_sql_hourly("cell", "event_type", count="c")},
q AS (SELECT CAST(MAX(x) - MIN(x) + 1 AS BIGINT) AS q_hours FROM cell),
per AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_events,
               CAST(SUM(c * c) AS BIGINT) AS s_xx
        FROM cell GROUP BY 1)
SELECT event_type, n_events, q_hours, s_xx,
       q_hours * s_xx - n_events * n_events AS vmr_num,
       ROUND(CAST(q_hours * s_xx - n_events * n_events AS DOUBLE)
             / (CAST(q_hours AS DOUBLE) * CAST(n_events AS DOUBLE)), 6)
         AS vmr
FROM per CROSS JOIN q"""


RICH_KS = (1, 2, 4, 8, 16, 32)   # rich-club degree thresholds


def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the full distinct-edge domain graph:
    for each degree threshold k, phi(k) = 2*E_k / (N_k*(N_k-1)) where
    N_k nodes have degree > k and E_k edges join two such nodes (Zhou
    & Mondragon 2004) — do high-degree hubs link to each other more
    than chance?  Reported as the exact floored integer micro-ratio.

    Scale plan: the shared persisted edge relation (_full_und) is
    walked once for degrees and once (with broadcast degrees) for the
    edge gates; the threshold explode multiplies only the tiny degree
    and aggregated relations.  FULL SQL ORACLE (_sql_rich_club)."""
    und = _full_und(spark, sf_dir)
    deg = (und.select(F.col("a").alias("u"))
           .union(und.select(F.col("b").alias("u")))
           .groupBy("u").agg(F.count("*").alias("d")))
    ks = F.array(*[F.lit(k) for k in RICH_KS])
    nk = (deg.select("d", F.explode(ks).alias("k"))
          .where(F.col("d") > F.col("k"))
          .groupBy("k").agg(F.count("*").alias("n_nodes")))
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    ek = (und.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
          .select(F.explode(ks).alias("k"), "da", "db")
          .where((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
          .groupBy("k").agg(F.count("*").alias("n_edges")))
    return (nk.join(ek, "k", "left")
            .fillna(0, subset=["n_edges"])
            .where(F.col("n_nodes") >= 2)
            .select(F.col("k").cast("long").alias("k"),
                    F.col("n_nodes").cast("long").alias("n_nodes"),
                    F.col("n_edges").cast("long").alias("n_edges"),
                    F.expr("(2 * n_edges * 1000000)"
                           " div (n_nodes * (n_nodes - 1))")
                    .alias("phi_micro")))


def _sql_rich_club(n: int) -> str:
    ks = ", ".join(str(k) for k in RICH_KS)
    return f"""WITH {_links_cte(n)},
{_sql_und()},
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT a AS u FROM und UNION ALL SELECT b FROM und)
        GROUP BY 1),
ks AS (SELECT unnest([{ks}]) AS k),
nk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes
       FROM deg CROSS JOIN ks WHERE d > k GROUP BY 1),
ek AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_edges
       FROM und
       JOIN deg da ON da.u = und.a
       JOIN deg db ON db.u = und.b
       CROSS JOIN ks
       WHERE da.d > k AND db.d > k GROUP BY 1)
SELECT CAST(nk.k AS BIGINT) AS k, nk.n_nodes,
       COALESCE(ek.n_edges, 0) AS n_edges,
       (2 * COALESCE(ek.n_edges, 0) * 1000000)
         // (nk.n_nodes * (nk.n_nodes - 1)) AS phi_micro
FROM nk LEFT JOIN ek ON ek.k = nk.k
WHERE nk.n_nodes >= 2"""


def q_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram conditional entropy H(W2|W1) and context entropy
    H(W1) in exact integer micro-nats — the information-rate screen
    over the token stream (low H(W2|W1) = templated/repetitive text;
    the spread H(W1) - H(W2|W1) is the per-token predictability gain).

    Exactness: per aggregated bigram cell, the log-ratio
    ln(c_w1/c_bg) is quantized ONCE to integer micro-nats and
    multiplied by the exact count — so both entropy sums are exact
    BIGINTs (the lang_source_mi discipline); each final H is one fixed
    float division.

    Scale plan: bigram instances -> one (w1, bg) hash-agg (the
    aggregated LM relation, vocab-bounded) -> broadcast-joined context
    counts -> single-row agg; the corpus shuffles once.

    FULL SQL ORACLE (_sql_bigram_entropy)."""
    from proj_spark.text.contamination import bigram_instances
    bg = bigram_instances(_docs(spark, sf_dir).select("doc_id", "text"))
    cb = bg.groupBy("w1", "bg").agg(F.count("*").alias("cb"))
    cw = bg.groupBy("w1").agg(F.count("*").alias("cw"))
    j = cb.join(F.broadcast(cw), "w1")
    qc = F.round(F.log(F.col("cw").cast("double")
                       / F.col("cb").cast("double")) * 1e6, 0).cast("long")
    cond = j.agg(F.sum("cb").alias("n_bigrams"),
                 F.count("*").alias("v_bigrams"),
                 F.sum(F.col("cb") * qc).alias("s_cond_q"))
    tot = cw.agg(F.sum("cw").alias("n_ctx"),
                 F.count("*").alias("v_contexts"))
    qu = F.round(F.log(F.col("n_ctx").cast("double")
                       / F.col("cw").cast("double")) * 1e6, 0).cast("long")
    uni = (cw.crossJoin(F.broadcast(tot))
           .agg(F.max("v_contexts").alias("v_contexts"),
                F.sum(F.col("cw") * qu).alias("s_uni_q")))
    out = cond.crossJoin(F.broadcast(uni))
    nb = F.col("n_bigrams").cast("double")
    return out.select(
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("v_bigrams").cast("long").alias("v_bigrams"),
        F.col("v_contexts").cast("long").alias("v_contexts"),
        F.col("s_cond_q").cast("long").alias("s_cond_q"),
        F.round(F.col("s_cond_q").cast("double") / nb / 1e6, 6)
        .alias("h_cond"),
        F.col("s_uni_q").cast("long").alias("s_uni_q"),
        F.round(F.col("s_uni_q").cast("double") / nb / 1e6, 6)
        .alias("h_uni"))


def _sql_bigram_entropy() -> str:
    return f"""WITH t AS (SELECT doc_id, {_sql_toks()} AS toks FROM documents),
bgl AS (
  SELECT unnest([{{'w1': toks[i+1], 'bg': toks[i+1] || ' ' || toks[i+2]}}
                 for i in generate_series(0, len(toks) - 2)]) AS b
  FROM t WHERE len(toks) >= 2),
bgf AS (SELECT b.w1 AS w1, b.bg AS bg FROM bgl),
cb AS (SELECT w1, bg, CAST(COUNT(*) AS BIGINT) AS cb
       FROM bgf GROUP BY 1, 2),
cw AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS cw FROM bgf GROUP BY 1),
cond AS (SELECT CAST(SUM(cb.cb) AS BIGINT) AS n_bigrams,
                CAST(COUNT(*) AS BIGINT) AS v_bigrams,
                CAST(SUM(cb.cb * CAST(ROUND(LN(CAST(cw.cw AS DOUBLE)
                      / CAST(cb.cb AS DOUBLE)) * 1e6, 0) AS BIGINT))
                     AS BIGINT) AS s_cond_q
         FROM cb JOIN cw USING (w1)),
tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_ctx,
               CAST(COUNT(*) AS BIGINT) AS v_contexts FROM cw),
uni AS (SELECT MAX(v_contexts) AS v_contexts,
               CAST(SUM(cw * CAST(ROUND(LN(CAST(n_ctx AS DOUBLE)
                     / CAST(cw AS DOUBLE)) * 1e6, 0) AS BIGINT))
                    AS BIGINT) AS s_uni_q
        FROM cw CROSS JOIN tot)
SELECT n_bigrams, v_bigrams, v_contexts, s_cond_q,
       ROUND(CAST(s_cond_q AS DOUBLE)
             / CAST(n_bigrams AS DOUBLE) / 1e6, 6) AS h_cond,
       s_uni_q,
       ROUND(CAST(s_uni_q AS DOUBLE)
             / CAST(n_bigrams AS DOUBLE) / 1e6, 6) AS h_uni
FROM cond CROSS JOIN uni"""


def q_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style supplier variety: distinct suppliers that can
    supply each (p_brand, p_size) combination — with suppliers in bad
    standing (negative account balance, the schema's stand-in for
    Q16's complaint filter) excluded by a broadcast ANTI join.  The
    supply relation is lineitem's observed (part, supplier) pairs.

    Scale plan: one distinct on the (partkey, suppkey) pair relation
    (map-side combinable), broadcast anti join (exclusions) +
    broadcast dimension join, then the exact COUNT(DISTINCT) over the
    pair-bounded relation — the fact table shuffles once.

    FULL SQL ORACLE (_sql_supplier_variety)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    bad = (spark.read.parquet(f"{sf_dir}/supplier.parquet")
           .where(F.col("s_acctbal") < 0).select("s_suppkey"))
    ok = ps.join(F.broadcast(bad),
                 F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
    part = (spark.read.parquet(f"{sf_dir}/part.parquet")
            .select("p_partkey", "p_brand", "p_size"))
    j = ok.join(F.broadcast(part),
                F.col("l_partkey") == F.col("p_partkey"))
    return (j.groupBy("p_brand", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
            .select("p_brand",
                    F.col("p_size").cast("long").alias("p_size"),
                    F.col("n_suppliers").cast("long").alias("n_suppliers")))


def _sql_supplier_variety() -> str:
    return """WITH ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ok AS (SELECT * FROM ps
       WHERE l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
SELECT p_brand, CAST(p_size AS BIGINT) AS p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
FROM ok JOIN part ON l_partkey = p_partkey
GROUP BY 1, 2"""


_Q18_QTY_C = 30_000    # total order quantity >= 300 (cents x100)


def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume orders: orders whose total line
    quantity reaches the threshold, with customer and date attached.
    Quantities are exact integer cents so the HAVING gate has no
    float-accumulation ambiguity.

    Scale plan: lineitem aggregates to per-order totals in one
    map-side-combinable hash agg; the tiny surviving relation
    broadcasts into orders — the orders table never shuffles.

    FULL SQL ORACLE (_sql_big_orders)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(_money_cents(F.col("l_quantity"))).alias("qty_c"),
                F.count("*").alias("n_items"))
           .where(F.col("qty_c") >= _Q18_QTY_C))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (o.join(F.broadcast(big),
                   F.col("o_orderkey") == F.col("l_orderkey"))
            .select(F.col("o_orderkey").cast("long").alias("o_orderkey"),
                    F.col("o_custkey").cast("long").alias("o_custkey"),
                    temporal.epoch_micros(o, "o_orderdate")
                    .alias("o_date_us"),
                    F.col("qty_c").cast("long").alias("qty_c"),
                    F.col("n_items").cast("long").alias("n_items")))


def _sql_big_orders() -> str:
    return f"""WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS BIGINT)
           AS qty_c,
         CAST(COUNT(*) AS BIGINT) AS n_items
  FROM lineitem GROUP BY 1
  HAVING SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) >= {_Q18_QTY_C})
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(o_custkey AS BIGINT) AS o_custkey,
       epoch_us(o_orderdate) AS o_date_us, qty_c, n_items
FROM orders JOIN big ON o_orderkey = l_orderkey"""


# ---------------------------------------------------------------------------
# session 22: relational spine completion (TPC-H Q7/Q8/Q9/Q10/Q12/Q13/
# Q15/Q17/Q19/Q21/Q22 analogues over the sandbox schema)
# ---------------------------------------------------------------------------

# Year extraction from stored epoch micros: a boundary-comparison sum over
# the data's 1995-2001 span — identical and session-timezone independent
# in both engines (year()/EXTRACT would consult the session zone under
# LTZ reads, the events_hourly bug class).
_YB_US = [(1996, 820_454_400_000_000), (1997, 852_076_800_000_000),
          (1998, 883_612_800_000_000), (1999, 915_148_800_000_000),
          (2000, 946_684_800_000_000), (2001, 978_307_200_000_000)]


def _year_us(col: F.Column) -> F.Column:
    y = F.lit(1995)
    for _, b in _YB_US:
        y = y + F.when(col >= b, 1).otherwise(0)
    return y.cast("long")


def _sql_year_us(expr: str) -> str:
    terms = " + ".join(f"(CASE WHEN {expr} >= {b} THEN 1 ELSE 0 END)"
                       for _, b in _YB_US)
    return f"(1995 + {terms})"


def _supplier_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier rows joined with their (broadcast) nation row."""
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (spark.read.parquet(f"{sf_dir}/supplier.parquet")
            .join(F.broadcast(nat),
                  F.col("s_nationkey") == F.col("n_nationkey")))


_REV_C2 = """CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
         * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))"""


def _rev_c2() -> F.Column:
    """Exact integer revenue price_c * (100 - disc_c), cents x100."""
    return (_money_cents(F.col("l_extendedprice"))
            * (100 - _money_cents(F.col("l_discount"))))


_Q7_NAT_A = "NATION_3"
_Q7_NAT_B = "NATION_7"
_Q7_LO_US = 820_454_400 * 1_000_000   # 1996-01-01
_Q7_HI_US = 883_612_800 * 1_000_000   # 1998-01-01


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style volume shipping: revenue flowing between two
    nations per ship year, keyed by (supplier nation, customer nation)
    in both directions.  Revenue is the exact integer
    price_c * (100 - disc_c); the ship year comes from the
    boundary-comparison sum over stored epoch micros, so nothing in the
    result depends on session timezone or float accumulation order.

    Scale plan: supplier (bounded dimension) + its nation broadcast;
    customers pre-filtered to the two nations (a small fraction) before
    the orders join; lineitem pre-filtered to the two ship years and
    projected to 4 columns before its one shuffle on orderkey.  The
    direction filter is applied before the agg so the hash agg sees
    only qualifying rows.

    FULL SQL ORACLE (_sql_volume_shipping): identical joins+gates."""
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    sup = (_supplier_nation(spark, sf_dir)
           .where(F.col("n_name").isin(_Q7_NAT_A, _Q7_NAT_B))
           .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .join(F.broadcast(nat),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .where(F.col("n_name").isin(_Q7_NAT_A, _Q7_NAT_B))
            .select("c_custkey", F.col("n_name").alias("cust_nation")))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders = (o.select("o_orderkey", "o_custkey")
              .join(cust, F.col("o_custkey") == F.col("c_custkey"))
              .select("o_orderkey", "cust_nation"))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    lus = temporal.epoch_micros(li, "l_shipdate")
    items = (li.where((lus >= _Q7_LO_US) & (lus < _Q7_HI_US))
             .select("l_orderkey", "l_suppkey",
                     _year_us(lus).alias("l_year"),
                     _rev_c2().alias("rev_c2")))
    j = (items.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
         .where(((F.col("supp_nation") == _Q7_NAT_A)
                 & (F.col("cust_nation") == _Q7_NAT_B))
                | ((F.col("supp_nation") == _Q7_NAT_B)
                   & (F.col("cust_nation") == _Q7_NAT_A))))
    return (j.groupBy("supp_nation", "cust_nation", "l_year")
            .agg(F.sum("rev_c2").alias("revenue_c2"),
                 F.count("*").alias("n_items"))
            .select("supp_nation", "cust_nation", "l_year",
                    F.col("revenue_c2").cast("long").alias("revenue_c2"),
                    F.col("n_items").cast("long").alias("n_items")))


def _sql_volume_shipping() -> str:
    return f"""WITH sup AS (
  SELECT s_suppkey, n_name AS supp_nation
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name IN ('{_Q7_NAT_A}', '{_Q7_NAT_B}')),
cust AS (
  SELECT c_custkey, n_name AS cust_nation
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE n_name IN ('{_Q7_NAT_A}', '{_Q7_NAT_B}')),
o AS (SELECT o_orderkey, cust_nation
      FROM orders JOIN cust ON o_custkey = c_custkey),
it AS (SELECT l_orderkey, l_suppkey,
              {_sql_year_us('epoch_us(l_shipdate)')} AS l_year,
              {_REV_C2} AS rev_c2
       FROM lineitem
       WHERE epoch_us(l_shipdate) >= {_Q7_LO_US}
         AND epoch_us(l_shipdate) < {_Q7_HI_US})
SELECT supp_nation, cust_nation, CAST(l_year AS BIGINT) AS l_year,
       CAST(SUM(rev_c2) AS BIGINT) AS revenue_c2,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM it JOIN o ON l_orderkey = o_orderkey
        JOIN sup ON l_suppkey = s_suppkey
WHERE (supp_nation = '{_Q7_NAT_A}' AND cust_nation = '{_Q7_NAT_B}')
   OR (supp_nation = '{_Q7_NAT_B}' AND cust_nation = '{_Q7_NAT_A}')
GROUP BY 1, 2, 3"""


_Q8_REGION = "ASIA"
_Q8_NATION = "NATION_9"
_Q8_TYPE = "ECONOMY"


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style national market share: of the revenue on one part
    type sold to customers in one region, the share supplied by one
    nation, per order year.  Both sums are exact BIGINTs; the share is
    ONE fixed float division (exact-int inputs, correctly-rounded IEEE
    divide, so both engines produce the identical double) rounded to 6.

    Scale plan: part (type-filtered) and supplier->nation broadcast
    into the lineitem scan; customers pre-filtered to the region via a
    broadcast nation-region lookup; orders project to 3 columns and
    shuffle once on custkey, lineitem once on orderkey.

    FULL SQL ORACLE (_sql_market_share)."""
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    rnat = (nat.join(F.broadcast(reg),
                     F.col("n_regionkey") == F.col("r_regionkey"))
            .where(F.col("r_name") == _Q8_REGION)
            .select("n_nationkey"))
    cust = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .join(F.broadcast(rnat),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey"))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders = (o.select("o_orderkey", "o_custkey",
                       _year_us(temporal.epoch_micros(o, "o_orderdate"))
                       .alias("o_year"))
              .join(cust, F.col("o_custkey") == F.col("c_custkey"))
              .select("o_orderkey", "o_year"))
    part = (spark.read.parquet(f"{sf_dir}/part.parquet")
            .where(F.col("p_type") == _Q8_TYPE).select("p_partkey"))
    sup = (_supplier_nation(spark, sf_dir)
           .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    items = (li.select("l_orderkey", "l_partkey", "l_suppkey",
                       _rev_c2().alias("rev_c2"))
             .join(F.broadcast(part),
                   F.col("l_partkey") == F.col("p_partkey"))
             .join(F.broadcast(sup),
                   F.col("l_suppkey") == F.col("s_suppkey")))
    agg = (items.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
           .groupBy("o_year")
           .agg(F.sum(F.when(F.col("supp_nation") == _Q8_NATION,
                             F.col("rev_c2")).otherwise(F.lit(0)))
                .alias("nat_c2"),
                F.sum("rev_c2").alias("tot_c2")))
    return agg.select(
        "o_year",
        F.col("nat_c2").cast("long").alias("nat_c2"),
        F.col("tot_c2").cast("long").alias("tot_c2"),
        F.round(F.col("nat_c2").cast("double")
                / F.col("tot_c2").cast("double"), 6).alias("mkt_share"))


def _sql_market_share() -> str:
    return f"""WITH rnat AS (
  SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = '{_Q8_REGION}'),
cust AS (SELECT c_custkey
         FROM customer JOIN rnat ON c_nationkey = n_nationkey),
o AS (SELECT o_orderkey,
             {_sql_year_us('epoch_us(o_orderdate)')} AS o_year
      FROM orders JOIN cust ON o_custkey = c_custkey),
sup AS (SELECT s_suppkey, n_name AS supp_nation
        FROM supplier JOIN nation ON s_nationkey = n_nationkey),
it AS (SELECT l_orderkey, supp_nation, {_REV_C2} AS rev_c2
       FROM lineitem
       JOIN part ON l_partkey = p_partkey AND p_type = '{_Q8_TYPE}'
       JOIN sup ON l_suppkey = s_suppkey),
a AS (SELECT o_year,
        CAST(SUM(CASE WHEN supp_nation = '{_Q8_NATION}'
                      THEN rev_c2 ELSE 0 END) AS BIGINT) AS nat_c2,
        CAST(SUM(rev_c2) AS BIGINT) AS tot_c2
      FROM it JOIN o ON l_orderkey = o_orderkey
      GROUP BY 1)
SELECT CAST(o_year AS BIGINT) AS o_year, nat_c2, tot_c2,
       ROUND(CAST(nat_c2 AS DOUBLE) / CAST(tot_c2 AS DOUBLE), 6)
         AS mkt_share
FROM a"""


_Q9_NAME_PAT = "%rod%"
_Q9_COST_PCT = 60   # supply cost modeled as 60% of retail price


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style product-type profit: per (supplier nation, order
    year) profit on parts whose name matches a pattern.  This schema
    has no partsupp, so supply cost is modeled as a fixed 60% of the
    part's retail price — profit_c2 = price_c*(100-disc_c)
    - qty * retail_c * 60 stays an exact BIGINT (quantities are
    integral in this corpus; ROUND(...,0) makes that explicit).

    Scale plan: part (name-filtered) and supplier->nation broadcast
    into lineitem; the only fact shuffle is lineitem->orders on
    orderkey (orders projected to orderkey+year first); final agg is
    |nations| x |years| rows.

    FULL SQL ORACLE (_sql_product_profit)."""
    part = (spark.read.parquet(f"{sf_dir}/part.parquet")
            .where(F.col("p_name").like(_Q9_NAME_PAT))
            .select("p_partkey",
                    _money_cents(F.col("p_retailprice")).alias("retail_c")))
    sup = (_supplier_nation(spark, sf_dir)
           .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders = o.select(
        "o_orderkey",
        _year_us(temporal.epoch_micros(o, "o_orderdate")).alias("o_year"))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    items = (li.select("l_orderkey", "l_partkey", "l_suppkey",
                       qty.alias("qty"), _rev_c2().alias("rev_c2"))
             .join(F.broadcast(part),
                   F.col("l_partkey") == F.col("p_partkey"))
             .join(F.broadcast(sup),
                   F.col("l_suppkey") == F.col("s_suppkey"))
             .select("l_orderkey", "supp_nation",
                     (F.col("rev_c2") - F.col("qty") * F.col("retail_c")
                      * F.lit(_Q9_COST_PCT)).alias("profit_c2")))
    return (items.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("supp_nation", "o_year")
            .agg(F.sum("profit_c2").alias("profit_c2"),
                 F.count("*").alias("n_items"))
            .select("supp_nation", "o_year",
                    F.col("profit_c2").cast("long").alias("profit_c2"),
                    F.col("n_items").cast("long").alias("n_items")))


def _sql_product_profit() -> str:
    return f"""WITH p AS (
  SELECT p_partkey,
         CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS retail_c
  FROM part WHERE p_name LIKE '{_Q9_NAME_PAT}'),
sup AS (SELECT s_suppkey, n_name AS supp_nation
        FROM supplier JOIN nation ON s_nationkey = n_nationkey),
o AS (SELECT o_orderkey,
             {_sql_year_us('epoch_us(o_orderdate)')} AS o_year
      FROM orders),
it AS (SELECT l_orderkey, supp_nation,
              {_REV_C2}
              - CAST(ROUND(l_quantity, 0) AS BIGINT) * retail_c
                * {_Q9_COST_PCT} AS profit_c2
       FROM lineitem
       JOIN p ON l_partkey = p_partkey
       JOIN sup ON l_suppkey = s_suppkey)
SELECT supp_nation, CAST(o_year AS BIGINT) AS o_year,
       CAST(SUM(profit_c2) AS BIGINT) AS profit_c2,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM it JOIN o ON l_orderkey = o_orderkey
GROUP BY 1, 2"""


_Q10_LO_US = 883_612_800 * 1_000_000   # 1998-01-01
_Q10_HI_US = 891_388_800 * 1_000_000   # 1998-04-01
_Q10_TOPK = 20


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item reporting: the customers who
    returned the most revenue in one order quarter, with nation and
    balance attached.  Revenue is the exact integer
    price_c*(100-disc_c), so the top-20 cut (revenue desc, custkey) is
    engine-independent.

    Scale plan: orders pre-filtered to the quarter (small) shuffle-join
    lineitem (returnflag-filtered, 2 columns) on orderkey; per-customer
    agg; the TakeOrdered-20 survivors broadcast back INTO customer —
    the customer table (which scales with the corpus) never shuffles.

    FULL SQL ORACLE (_sql_returned_items)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ous = temporal.epoch_micros(o, "o_orderdate")
    orders = (o.where((ous >= _Q10_LO_US) & (ous < _Q10_HI_US))
              .select("o_orderkey", "o_custkey"))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    items = (li.where(F.col("l_returnflag") == "R")
             .select("l_orderkey", _rev_c2().alias("rev_c2")))
    top = (items.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
           .groupBy("o_custkey")
           .agg(F.sum("rev_c2").alias("revenue_c2"))
           .orderBy(F.col("revenue_c2").desc(), "o_custkey")
           .limit(_Q10_TOPK))
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (cust.join(F.broadcast(top),
                      F.col("c_custkey") == F.col("o_custkey"))
            .join(F.broadcast(nat),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select(F.col("c_custkey").cast("long").alias("c_custkey"),
                    "c_name",
                    _money_cents(F.col("c_acctbal")).alias("bal_c"),
                    F.col("n_name").alias("nation"),
                    F.col("revenue_c2").cast("long").alias("revenue_c2")))


def _sql_returned_items() -> str:
    return f"""WITH o AS (
  SELECT o_orderkey, o_custkey FROM orders
  WHERE epoch_us(o_orderdate) >= {_Q10_LO_US}
    AND epoch_us(o_orderdate) < {_Q10_HI_US}),
it AS (SELECT l_orderkey, {_REV_C2} AS rev_c2
       FROM lineitem WHERE l_returnflag = 'R'),
top AS (SELECT o_custkey, CAST(SUM(rev_c2) AS BIGINT) AS revenue_c2
        FROM it JOIN o ON l_orderkey = o_orderkey
        GROUP BY 1
        ORDER BY revenue_c2 DESC, o_custkey LIMIT {_Q10_TOPK})
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
       CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal_c,
       n_name AS nation, revenue_c2
FROM customer JOIN top ON c_custkey = o_custkey
              JOIN nation ON c_nationkey = n_nationkey"""


_Q12_LO_US = 852_076_800 * 1_000_000   # 1997-01-01
_Q12_HI_US = 883_612_800 * 1_000_000   # 1998-01-01
_DAY_US_SPINE = 86_400 * 1_000_000


def q_ship_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style shipping-mode priority check, adapted: this
    schema has no l_shipmode, so the mode is the ship-lag class
    (FAST < 30 days after the order, REG < 90, SLOW otherwise) — pure
    epoch-micros arithmetic, timezone-free.  Counts lines per mode
    split into high (1-URGENT / 2-HIGH) vs low priority orders.

    Scale plan: lineitem pre-filtered to one ship year and projected
    to (orderkey, ship_us); orders projected to 3 columns; ONE shuffle
    join on orderkey; 3-row hash agg.

    FULL SQL ORACLE (_sql_ship_modes)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders = o.select("o_orderkey", "o_orderpriority",
                      temporal.epoch_micros(o, "o_orderdate")
                      .alias("o_date_us"))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    lus = temporal.epoch_micros(li, "l_shipdate")
    items = (li.where((lus >= _Q12_LO_US) & (lus < _Q12_HI_US))
             .select("l_orderkey", lus.alias("l_ship_us")))
    lag = F.col("l_ship_us") - F.col("o_date_us")
    mode = (F.when(lag < 30 * _DAY_US_SPINE, "FAST")
            .when(lag < 90 * _DAY_US_SPINE, "REG")
            .otherwise("SLOW"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (items.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .select(mode.alias("ship_mode"), high.alias("is_high"))
            .groupBy("ship_mode")
            .agg(F.sum(F.when(F.col("is_high"), 1).otherwise(0))
                 .alias("n_high"),
                 F.sum(F.when(F.col("is_high"), 0).otherwise(1))
                 .alias("n_low"))
            .select("ship_mode",
                    F.col("n_high").cast("long").alias("n_high"),
                    F.col("n_low").cast("long").alias("n_low")))


def _sql_ship_modes() -> str:
    d = _DAY_US_SPINE
    return f"""WITH j AS (
  SELECT CASE WHEN epoch_us(l_shipdate) - epoch_us(o_orderdate)
                   < {30 * d} THEN 'FAST'
              WHEN epoch_us(l_shipdate) - epoch_us(o_orderdate)
                   < {90 * d} THEN 'REG'
              ELSE 'SLOW' END AS ship_mode,
         (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS is_high
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE epoch_us(l_shipdate) >= {_Q12_LO_US}
    AND epoch_us(l_shipdate) < {_Q12_HI_US})
SELECT ship_mode,
       CAST(SUM(CASE WHEN is_high THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       CAST(SUM(CASE WHEN is_high THEN 0 ELSE 1 END) AS BIGINT) AS n_low
FROM j GROUP BY 1"""


_Q13_EXCL = "4-NOT SPECIFIED"


def q_cust_orders_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style customer order-count distribution: how many
    customers placed exactly k qualifying orders (one priority class
    excluded, the schema's stand-in for Q13's comment filter) —
    INCLUDING the zero-order customers, which is the point of Q13's
    outer join.

    Scale plan: orders aggregate to per-customer counts FIRST (one
    hash agg, map-side combinable), then LEFT-join customer keys to
    the counts — the aggregate-before-join form of the outer join, so
    no row fanout ever exists; the distribution is a second tiny agg.

    FULL SQL ORACLE (_sql_cust_orders_dist): the same
    aggregate-then-left-join form."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cnt = (o.where(F.col("o_orderpriority") != _Q13_EXCL)
           .groupBy("o_custkey").agg(F.count("*").alias("k")))
    cust = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .select("c_custkey"))
    per_cust = (cust.join(cnt, F.col("c_custkey") == F.col("o_custkey"),
                          "left")
                .select(F.coalesce(F.col("k"), F.lit(0)).alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("custdist"))
            .select(F.col("c_count").cast("long").alias("c_count"),
                    F.col("custdist").cast("long").alias("custdist")))


def _sql_cust_orders_dist() -> str:
    return f"""WITH cnt AS (
  SELECT o_custkey, COUNT(*) AS k FROM orders
  WHERE o_orderpriority <> '{_Q13_EXCL}' GROUP BY 1),
pc AS (SELECT COALESCE(k, 0) AS c_count
       FROM customer LEFT JOIN cnt ON c_custkey = o_custkey)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(COUNT(*) AS BIGINT) AS custdist
FROM pc GROUP BY 1"""


_Q15_LO_US = 852_076_800 * 1_000_000   # 1997-01-01
_Q15_HI_US = 859_852_800 * 1_000_000   # 1997-04-01


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style top supplier: the supplier(s) with the maximum
    quarterly revenue.  Revenue is an exact BIGINT, so "equals the
    max" is an exact integer comparison — ties (all maximal suppliers)
    are returned, per Q15's view semantics, with no float ambiguity.

    Scale plan: one map-side-combinable per-supplier agg over the
    date-filtered lineitem scan (supplier count is bounded); the
    single-row max broadcasts back as a cross join; the name lookup
    broadcasts the supplier dimension.

    FULL SQL ORACLE (_sql_top_supplier): scalar-subquery max."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    lus = temporal.epoch_micros(li, "l_shipdate")
    rev = (li.where((lus >= _Q15_LO_US) & (lus < _Q15_HI_US))
           .select("l_suppkey", _rev_c2().alias("rev_c2"))
           .groupBy("l_suppkey")
           .agg(F.sum("rev_c2").alias("total_c2")))
    mx = rev.agg(F.max("total_c2").alias("mx"))
    sup = (spark.read.parquet(f"{sf_dir}/supplier.parquet")
           .select("s_suppkey", "s_name"))
    return (rev.join(F.broadcast(mx), F.col("total_c2") == F.col("mx"))
            .join(F.broadcast(sup),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select(F.col("s_suppkey").cast("long").alias("s_suppkey"),
                    "s_name",
                    F.col("total_c2").cast("long").alias("total_c2")))


def _sql_top_supplier() -> str:
    return f"""WITH rev AS (
  SELECT l_suppkey, CAST(SUM({_REV_C2}) AS BIGINT) AS total_c2
  FROM lineitem
  WHERE epoch_us(l_shipdate) >= {_Q15_LO_US}
    AND epoch_us(l_shipdate) < {_Q15_HI_US}
  GROUP BY 1)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, total_c2
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_c2 = (SELECT MAX(total_c2) FROM rev)"""


_Q17_BRAND = "Brand#13"


def q_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style small-quantity-order revenue: lines on one
    brand's parts whose quantity is below 20% of that part's average
    line quantity.  The correlated average gate is the exact integer
    cross-multiplication 5 * qty * n_lines < sum_qty (quantities are
    integral), so the qualifying set is engine-independent; avg_yearly
    is ONE fixed float expression over the exact totals.

    Scale plan: the brand-filtered part list broadcasts into lineitem;
    per-part (sum, count) is a tiny agg (parts of one brand) that
    broadcasts back into the same filtered scan; single-row result.

    FULL SQL ORACLE (_sql_small_qty)."""
    parts = (spark.read.parquet(f"{sf_dir}/part.parquet")
             .where(F.col("p_brand") == _Q17_BRAND).select("p_partkey"))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    lines = (li.select("l_partkey",
                       F.round(F.col("l_quantity"), 0).cast("long")
                       .alias("qty"),
                       _money_cents(F.col("l_extendedprice"))
                       .alias("price_c"))
             .join(F.broadcast(parts),
                   F.col("l_partkey") == F.col("p_partkey"))
             .select("l_partkey", "qty", "price_c"))
    stats = (lines.groupBy("l_partkey")
             .agg(F.sum("qty").alias("sq"), F.count("*").alias("nq"))
             .select(F.col("l_partkey").alias("s_partkey"), "sq", "nq"))
    small = (lines.join(F.broadcast(stats),
                        F.col("l_partkey") == F.col("s_partkey"))
             .where(F.lit(5) * F.col("qty") * F.col("nq") < F.col("sq")))
    agg = small.agg(F.sum("price_c").alias("revenue_c"),
                    F.count("*").alias("n_lines"))
    return agg.select(
        F.coalesce(F.col("revenue_c"), F.lit(0)).cast("long")
        .alias("revenue_c"),
        F.col("n_lines").cast("long").alias("n_lines"),
        F.round(F.coalesce(F.col("revenue_c"), F.lit(0)).cast("double")
                / F.lit(700.0), 6).alias("avg_yearly"))


def _sql_small_qty() -> str:
    return f"""WITH p AS (
  SELECT p_partkey FROM part WHERE p_brand = '{_Q17_BRAND}'),
ln AS (SELECT l_partkey, CAST(ROUND(l_quantity, 0) AS BIGINT) AS qty,
              CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS price_c
       FROM lineitem JOIN p ON l_partkey = p_partkey),
st AS (SELECT l_partkey AS s_partkey, CAST(SUM(qty) AS BIGINT) AS sq,
              CAST(COUNT(*) AS BIGINT) AS nq
       FROM ln GROUP BY 1),
sm AS (SELECT price_c FROM ln JOIN st ON l_partkey = s_partkey
       WHERE 5 * qty * nq < sq),
a AS (SELECT CAST(COALESCE(SUM(price_c), 0) AS BIGINT) AS revenue_c,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM sm)
SELECT revenue_c, n_lines,
       ROUND(CAST(revenue_c AS DOUBLE) / 700.0, 6) AS avg_yearly
FROM a"""


_Q19_BUNDLES = [("Brand#13", 1, 15, 1, 11),
                ("Brand#22", 10, 30, 10, 20),
                ("Brand#25", 20, 50, 20, 30)]


def q_disc_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style discounted revenue: revenue from lines matching
    any of three disjunctive (brand, size range, quantity range)
    predicate bundles, reported per bundle.  Brands are distinct
    across bundles so the bundles partition the matches; all gates are
    integer comparisons and revenue is the exact BIGINT.

    Scale plan: part (3 columns) broadcasts into lineitem; the
    disjunction evaluates in the scan stage (a searched CASE) — ONE
    map-side stage + a 3-row agg, zero fact shuffles.

    FULL SQL ORACLE (_sql_disc_revenue)."""
    part = (spark.read.parquet(f"{sf_dir}/part.parquet")
            .select("p_partkey", "p_brand", "p_size"))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    j = (li.select("l_partkey", qty.alias("qty"),
                   _rev_c2().alias("rev_c2"))
         .join(F.broadcast(part),
               F.col("l_partkey") == F.col("p_partkey")))
    bundle = F.lit(None).cast("int")
    expr = None
    for i, (brand, s_lo, s_hi, q_lo, q_hi) in enumerate(_Q19_BUNDLES, 1):
        cond = ((F.col("p_brand") == brand)
                & F.col("p_size").between(s_lo, s_hi)
                & F.col("qty").between(q_lo, q_hi))
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    bundle = expr.otherwise(F.lit(None))
    return (j.select(bundle.alias("bundle"), "rev_c2")
            .where(F.col("bundle").isNotNull())
            .groupBy("bundle")
            .agg(F.sum("rev_c2").alias("revenue_c2"),
                 F.count("*").alias("n_lines"))
            .select(F.col("bundle").cast("long").alias("bundle"),
                    F.col("revenue_c2").cast("long").alias("revenue_c2"),
                    F.col("n_lines").cast("long").alias("n_lines")))


def _sql_disc_revenue() -> str:
    whens = "\n".join(
        f"       WHEN p_brand = '{b}' AND p_size BETWEEN {sl} AND {sh}"
        f" AND CAST(ROUND(l_quantity, 0) AS BIGINT) BETWEEN {ql} AND {qh}"
        f" THEN {i}"
        for i, (b, sl, sh, ql, qh) in enumerate(_Q19_BUNDLES, 1))
    return f"""WITH j AS (
  SELECT CASE
{whens}
       ELSE NULL END AS bundle,
       {_REV_C2} AS rev_c2
  FROM lineitem JOIN part ON l_partkey = p_partkey)
SELECT CAST(bundle AS BIGINT) AS bundle,
       CAST(SUM(rev_c2) AS BIGINT) AS revenue_c2,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM j WHERE bundle IS NOT NULL GROUP BY 1"""


def q_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style suppliers-who-kept-orders-waiting, adapted to
    this schema (no commit/receipt dates): count, per supplier, the
    lines in multi-supplier FINISHED orders that shipped strictly
    later than every other supplier's line in the order — the supplier
    the whole order waited on.  EXISTS (another supplier in the order)
    is a LEFT SEMI join; NOT EXISTS (another supplier shipping at or
    after) is a LEFT ANTI join, both literal Q21 structure.  Ties on
    the max ship date disqualify (deterministic — no float anywhere).

    Scale plan: lineitem projects to (orderkey, suppkey, ship_us)
    once; the finished-order gate, the semi and the anti all join on
    the SAME orderkey key, so the exchange is reused across the three
    joins; the count is per-supplier (bounded dimension).

    FULL SQL ORACLE (_sql_late_suppliers): the literal
    EXISTS/NOT-EXISTS form."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    fo = o.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    l1 = li.select("l_orderkey", "l_suppkey",
                   temporal.epoch_micros(li, "l_shipdate")
                   .alias("l_ship_us"))
    l1f = l1.join(fo, F.col("l_orderkey") == F.col("o_orderkey"),
                  "left_semi")
    l2 = l1.select(F.col("l_orderkey").alias("k2"),
                   F.col("l_suppkey").alias("s2"))
    l3 = l1.select(F.col("l_orderkey").alias("k3"),
                   F.col("l_suppkey").alias("s3"),
                   F.col("l_ship_us").alias("ship3"))
    cand = (l1f.join(l2, (F.col("k2") == F.col("l_orderkey"))
                     & (F.col("s2") != F.col("l_suppkey")), "left_semi")
            .join(l3, (F.col("k3") == F.col("l_orderkey"))
                  & (F.col("s3") != F.col("l_suppkey"))
                  & (F.col("ship3") >= F.col("l_ship_us")), "left_anti"))
    sup = (spark.read.parquet(f"{sf_dir}/supplier.parquet")
           .select("s_suppkey", "s_name"))
    return (cand.groupBy("l_suppkey")
            .agg(F.count("*").alias("numwait"))
            .join(F.broadcast(sup),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select(F.col("s_suppkey").cast("long").alias("s_suppkey"),
                    "s_name",
                    F.col("numwait").cast("long").alias("numwait")))


def _sql_late_suppliers() -> str:
    return """WITH l AS (
  SELECT l_orderkey, l_suppkey, epoch_us(l_shipdate) AS ship_us
  FROM lineitem),
cand AS (
  SELECT l1.l_suppkey
  FROM l l1
  JOIN orders o ON o.o_orderkey = l1.l_orderkey
                AND o.o_orderstatus = 'F'
  WHERE EXISTS (SELECT 1 FROM l l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM l l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.ship_us >= l1.ship_us))
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
       CAST(COUNT(*) AS BIGINT) AS numwait
FROM cand JOIN supplier ON l_suppkey = s_suppkey
GROUP BY 1, 2"""


_Q22_CUT_US = 915_148_800 * 1_000_000   # 1999-01-01


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style global sales opportunity: per nation, the
    customers with an above-average positive balance who placed no
    order after the cutoff.  The average gate is the exact integer
    cross-multiplication bal_c * n_pos > sum_pos_c (strictly above the
    mean of positive balances), so membership is engine-independent;
    recency is an ANTI join against the cutoff-filtered orders.

    Scale plan: the positive-balance (sum, count) is ONE single-row
    agg that broadcasts as a literal cross join; recent orders project
    to custkey only before the anti join's one shuffle; final agg is
    per-nation.

    FULL SQL ORACLE (_sql_idle_customers)."""
    cust = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .select("c_custkey", "c_nationkey",
                    _money_cents(F.col("c_acctbal")).alias("bal_c")))
    stats = (cust.agg(
        F.sum(F.when(F.col("bal_c") > 0, F.col("bal_c")).otherwise(0))
        .alias("s_pos"),
        F.sum(F.when(F.col("bal_c") > 0, 1).otherwise(0)).alias("n_pos")))
    rich = (cust.crossJoin(F.broadcast(stats))
            .where(F.col("bal_c") * F.col("n_pos") > F.col("s_pos")))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    recent = (o.where(temporal.epoch_micros(o, "o_orderdate")
                      >= _Q22_CUT_US)
              .select("o_custkey"))
    idle = rich.join(recent, F.col("c_custkey") == F.col("o_custkey"),
                     "left_anti")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (idle.groupBy("c_nationkey")
            .agg(F.count("*").alias("n_cust"),
                 F.sum("bal_c").alias("bal_c_sum"))
            .join(F.broadcast(nat),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select(F.col("n_name").alias("nation"),
                    F.col("n_cust").cast("long").alias("n_cust"),
                    F.col("bal_c_sum").cast("long").alias("bal_c_sum")))


def _sql_idle_customers() -> str:
    return f"""WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal_c
  FROM customer),
st AS (SELECT
         CAST(SUM(CASE WHEN bal_c > 0 THEN bal_c ELSE 0 END) AS BIGINT)
           AS s_pos,
         CAST(SUM(CASE WHEN bal_c > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pos
       FROM c),
rich AS (SELECT c.* FROM c, st WHERE bal_c * n_pos > s_pos),
idle AS (SELECT * FROM rich
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND epoch_us(o_orderdate) >= {_Q22_CUT_US}))
SELECT n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_cust,
       CAST(SUM(bal_c) AS BIGINT) AS bal_c_sum
FROM idle JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1"""


# ---------------------------------------------------------------------------
# session 22c: synthetic partsupp relation -> the remaining TPC-H
# analogues (Q2 min-cost supplier, Q11 important stock, Q20 potential
# part promotion) — completing the 22-query relational spine
# ---------------------------------------------------------------------------

# The sandbox schema has no partsupp table; the three queries that need
# one (Q2/Q11/Q20) run over a DETERMINISTIC synthetic relation derived
# from the existing keys by closed-form integer arithmetic — the same
# discipline as the pages synthesis, so the DuckDB oracle regenerates
# the identical rows.  ~4 suppliers per part (collisions dropped by
# DISTINCT identically in both engines); cost/availqty are pure hashes
# of (partkey, suppkey).

_PS_COST_MOD = 89_899
_PS_QTY_MOD = 9_999


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic partsupp(ps_partkey, ps_suppkey, ps_cost_c,
    ps_availqty): per part, k=0..3 suppliers at stride 1+(p%7) around
    the supplier ring.  Generated from the part table with a 4-way
    explode — never a part x supplier cross join (4 rows/part at any
    scale, like the real TPC-H layout)."""
    part = (spark.read.parquet(f"{sf_dir}/part.parquet")
            .select(F.col("p_partkey").cast("long").alias("pk")))
    nsup = (spark.read.parquet(f"{sf_dir}/supplier.parquet")
            .agg(F.count("*").alias("n_supp")))
    ks = (part.crossJoin(F.broadcast(nsup))
          .select("pk", "n_supp",
                  F.explode(F.array(*[F.lit(k) for k in range(4)]))
                  .alias("k")))
    ps = (ks.select("pk",
                    ((F.col("pk") + F.col("k")
                      * (1 + F.col("pk") % 7)) % F.col("n_supp"))
                    .alias("sk"))
          .distinct())
    return ps.select(
        F.col("pk").alias("ps_partkey"),
        F.col("sk").alias("ps_suppkey"),
        (101 + (F.col("pk") * 31 + F.col("sk") * 17) % _PS_COST_MOD)
        .alias("ps_cost_c"),
        (1 + (F.col("pk") * 13 + F.col("sk") * 7) % _PS_QTY_MOD)
        .alias("ps_availqty"))


def _sql_partsupp() -> str:
    """The identical relation as DuckDB CTEs ending at `ps`."""
    return f"""ns AS (SELECT COUNT(*) AS n_supp FROM supplier),
psk AS (SELECT DISTINCT CAST(p_partkey AS BIGINT) AS pk,
               (CAST(p_partkey AS BIGINT) + k.k
                * (1 + CAST(p_partkey AS BIGINT) % 7)) % n_supp AS sk
        FROM part, (SELECT UNNEST([0, 1, 2, 3]) AS k) k, ns),
ps AS (SELECT pk AS ps_partkey, sk AS ps_suppkey,
              101 + (pk * 31 + sk * 17) % {_PS_COST_MOD} AS ps_cost_c,
              1 + (pk * 13 + sk * 7) % {_PS_QTY_MOD} AS ps_availqty
       FROM psk)"""


_Q2_REGION = "EUROPE"
_Q2_SIZE = 15
_Q2_TOPK = 100


def q_min_cost_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style minimum-cost supplier: for each part of one
    size, the supplier(s) in one region offering it at the minimum
    supply cost.  Costs are exact integers, so the correlated min and
    the tie semantics (all minimal suppliers survive, per Q2) are
    engine-independent; the top-100 order (balance desc, nation,
    supplier, part) is a total order.

    Scale plan: the filtered part list and the region's supplier
    dimension both broadcast into the 4-rows-per-part partsupp
    relation; the per-part min is a tiny agg that broadcasts back.

    FULL SQL ORACLE (_sql_min_cost_supp)."""
    ps = _partsupp(spark, sf_dir)
    parts = (spark.read.parquet(f"{sf_dir}/part.parquet")
             .where(F.col("p_size") == _Q2_SIZE)
             .select(F.col("p_partkey").cast("long").alias("p_partkey")))
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    sup = (_supplier_nation(spark, sf_dir)
           .join(F.broadcast(reg),
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .where(F.col("r_name") == _Q2_REGION)
           .select(F.col("s_suppkey").cast("long").alias("s_suppkey"),
                   "s_name", "n_name",
                   _money_cents(F.col("s_acctbal")).alias("bal_c")))
    offers = (ps.join(F.broadcast(parts),
                      F.col("ps_partkey") == F.col("p_partkey"))
              .join(F.broadcast(sup),
                    F.col("ps_suppkey") == F.col("s_suppkey")))
    mn = (offers.groupBy("p_partkey")
          .agg(F.min("ps_cost_c").alias("min_c"))
          .select(F.col("p_partkey").alias("m_partkey"), "min_c"))
    best = offers.join(F.broadcast(mn),
                       (F.col("p_partkey") == F.col("m_partkey"))
                       & (F.col("ps_cost_c") == F.col("min_c")))
    return (best.select("bal_c", "s_name", "n_name", "p_partkey",
                        F.col("ps_cost_c").cast("long").alias("cost_c"))
            .orderBy(F.col("bal_c").desc(), "n_name", "s_name",
                     "p_partkey")
            .limit(_Q2_TOPK))


def _sql_min_cost_supp() -> str:
    return f"""WITH {_sql_partsupp()},
pt AS (SELECT CAST(p_partkey AS BIGINT) AS p_partkey FROM part
       WHERE p_size = {_Q2_SIZE}),
sup AS (SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name,
               CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) AS bal_c
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = '{_Q2_REGION}'),
off AS (SELECT p_partkey, s_suppkey, s_name, n_name, bal_c, ps_cost_c
        FROM ps JOIN pt ON ps_partkey = p_partkey
                JOIN sup ON ps_suppkey = s_suppkey),
mn AS (SELECT p_partkey AS m_partkey, MIN(ps_cost_c) AS min_c
       FROM off GROUP BY 1)
SELECT bal_c, s_name, n_name, p_partkey,
       CAST(ps_cost_c AS BIGINT) AS cost_c
FROM off JOIN mn ON p_partkey = m_partkey AND ps_cost_c = min_c
ORDER BY bal_c DESC, n_name, s_name, p_partkey LIMIT {_Q2_TOPK}"""


_Q11_NATION = "NATION_3"


def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style important stock: parts whose inventory value at
    one nation's suppliers exceeds twice the nation-group average part
    value.  value_c = sum(cost_c * availqty) is exact BIGINT, and the
    HAVING gate is the exact cross-multiplication
    value_c * n_parts > 2 * total_c — scale-free (the TPC-H fixed
    fraction only works at one scale factor) and engine-independent.

    Scale plan: the nation's suppliers broadcast into partsupp; ONE
    per-part hash agg; the single-row (total, count) broadcasts back
    as a literal cross join.

    FULL SQL ORACLE (_sql_important_stock)."""
    ps = _partsupp(spark, sf_dir)
    sup = (_supplier_nation(spark, sf_dir)
           .where(F.col("n_name") == _Q11_NATION)
           .select(F.col("s_suppkey").cast("long").alias("s_suppkey")))
    val = (ps.join(F.broadcast(sup),
                   F.col("ps_suppkey") == F.col("s_suppkey"))
           .groupBy("ps_partkey")
           .agg(F.sum(F.col("ps_cost_c") * F.col("ps_availqty"))
                .alias("value_c")))
    tot = val.agg(F.sum("value_c").alias("total_c"),
                  F.count("*").alias("n_parts"))
    return (val.crossJoin(F.broadcast(tot))
            .where(F.col("value_c") * F.col("n_parts")
                   > 2 * F.col("total_c"))
            .select(F.col("ps_partkey").cast("long").alias("ps_partkey"),
                    F.col("value_c").cast("long").alias("value_c")))


def _sql_important_stock() -> str:
    return f"""WITH {_sql_partsupp()},
sup AS (SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = '{_Q11_NATION}'),
val AS (SELECT ps_partkey,
               CAST(SUM(ps_cost_c * ps_availqty) AS BIGINT) AS value_c
        FROM ps JOIN sup ON ps_suppkey = s_suppkey
        GROUP BY 1),
tot AS (SELECT CAST(SUM(value_c) AS BIGINT) AS total_c,
               CAST(COUNT(*) AS BIGINT) AS n_parts FROM val)
SELECT CAST(ps_partkey AS BIGINT) AS ps_partkey, value_c
FROM val CROSS JOIN tot
WHERE value_c * n_parts > 2 * total_c"""


_Q20_NATION = "NATION_12"
_Q20_NAME_PAT = "cold%"
_Q20_LO_US = 852_076_800 * 1_000_000   # 1997-01-01
_Q20_HI_US = 883_612_800 * 1_000_000   # 1998-01-01


def q_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style potential part promotion: suppliers in one
    nation holding excess stock — an offer whose availqty exceeds half
    the quantity they actually shipped of that part in one year.  The
    half gate is the exact integer comparison
    2 * availqty > shipped_qty (never shipped => shipped 0, gate
    true, per Q20's semantics); membership is an EXISTS, implemented
    as a LEFT SEMI join into the supplier dimension.

    Scale plan: lineitem pre-aggregates to per-(part, supplier)
    shipped quantities in its only shuffle; the name-filtered part
    list broadcasts into partsupp; the surviving offer keys semi-join
    the (bounded) supplier dimension.

    FULL SQL ORACLE (_sql_promo_suppliers)."""
    ps = _partsupp(spark, sf_dir)
    parts = (spark.read.parquet(f"{sf_dir}/part.parquet")
             .where(F.col("p_name").like(_Q20_NAME_PAT))
             .select(F.col("p_partkey").cast("long").alias("p_partkey")))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    lus = temporal.epoch_micros(li, "l_shipdate")
    shipped = (li.where((lus >= _Q20_LO_US) & (lus < _Q20_HI_US))
               .groupBy(F.col("l_partkey").cast("long").alias("sh_pk"),
                        F.col("l_suppkey").cast("long").alias("sh_sk"))
               .agg(F.sum(F.round(F.col("l_quantity"), 0).cast("long"))
                    .alias("sh_qty")))
    offers = (ps.join(F.broadcast(parts),
                      F.col("ps_partkey") == F.col("p_partkey"))
              .join(shipped, (F.col("ps_partkey") == F.col("sh_pk"))
                    & (F.col("ps_suppkey") == F.col("sh_sk")), "left")
              .where(2 * F.col("ps_availqty")
                     > F.coalesce(F.col("sh_qty"), F.lit(0))))
    sup = (_supplier_nation(spark, sf_dir)
           .where(F.col("n_name") == _Q20_NATION)
           .select(F.col("s_suppkey").cast("long").alias("s_suppkey"),
                   "s_name"))
    return sup.join(offers.select(F.col("ps_suppkey").alias("o_sk")),
                    F.col("s_suppkey") == F.col("o_sk"), "left_semi")


def _sql_promo_suppliers() -> str:
    return f"""WITH {_sql_partsupp()},
pt AS (SELECT CAST(p_partkey AS BIGINT) AS p_partkey FROM part
       WHERE p_name LIKE '{_Q20_NAME_PAT}'),
sh AS (SELECT CAST(l_partkey AS BIGINT) AS sh_pk,
              CAST(l_suppkey AS BIGINT) AS sh_sk,
              CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT)
                AS sh_qty
       FROM lineitem
       WHERE epoch_us(l_shipdate) >= {_Q20_LO_US}
         AND epoch_us(l_shipdate) < {_Q20_HI_US}
       GROUP BY 1, 2),
off AS (SELECT ps_suppkey FROM ps
        JOIN pt ON ps_partkey = p_partkey
        LEFT JOIN sh ON ps_partkey = sh_pk AND ps_suppkey = sh_sk
        WHERE 2 * ps_availqty > COALESCE(sh_qty, 0))
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = '{_Q20_NATION}'
  AND s_suppkey IN (SELECT ps_suppkey FROM off)"""


# ---------------------------------------------------------------------------
# session 22b: bounded-round connectivity (graph + raster) and
# distributional divergence between corpus slices
# ---------------------------------------------------------------------------

WCC_ROUNDS = 4    # hash-to-min rounds; label = min node id within <=R hops
WCC_SAMPLE_MOD = 400   # edge sample: the full domain graph is one blob


def _min_label_rounds(sym: DataFrame, lab: DataFrame,
                      rounds: int) -> DataFrame:
    """`rounds` synchronous hash-to-min label rounds: each node keeps
    the min of its own and its neighbors' labels.  After R rounds the
    label is the minimum node id within graph distance R — components
    of diameter <= R are exactly labeled; at web scale you run
    ceil(log2(diameter)) doubling rounds or large-star/small-star
    (Kiveris et al. 2014), same per-round dataflow.

    The naive round "min(own, neighbor mins)" references the label
    relation TWICE (union + join), which doubles the LOGICAL plan per
    round — 2^R analyzer blowup that persist() cannot truncate (27 s
    of driver-side planning by round 6 on a 1.7k-row lattice).  The
    self-loop trick folds 'keep own label' into the neighbor min: with
    (u, u) loops appended to the edge relation, each round is ONE join
    + ONE min agg referencing the previous labels exactly once, so the
    plan grows linearly and the whole R-round labeling runs as a
    single job."""
    loops = lab.select("u", F.col("u").alias("v"))
    sym2 = sym.select("u", "v").union(loops)
    for _ in range(rounds):
        lab = (sym2.join(F.broadcast(lab.select(F.col("u").alias("v"),
                                                "lab")), "v")
               .groupBy("u").agg(F.min("lab").alias("lab")))
    return lab


def _sql_min_label_chain(rounds: int, lab0: str = "lab0") -> str:
    """The same rounds as chained CTEs, starting from `lab0`(u, lab)
    over the self-loop-augmented edge relation sym2(u, v); ends at
    lab{rounds}.  The self-loop form references each lab CTE exactly
    once (the SQL twin of _min_label_rounds' linear plan); sym2 itself
    is referenced every round, so callers declare it MATERIALIZED."""
    out = []
    for r in range(1, rounds + 1):
        prev = lab0 if r == 1 else f"lab{r - 1}"
        out.append(f"""lab{r} AS (
        SELECT s.u, MIN(l.lab) AS lab FROM sym2 s
        JOIN {prev} l ON s.v = l.u GROUP BY 1)""")
    return ",\n".join(out)


def q_wcc_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly-connected-component sizes of the hash-sampled distinct-
    edge domain graph via WCC_ROUNDS synchronous hash-to-min label
    rounds (labels start as node ids; every node takes the min over
    itself and its neighbors).  The full domain graph is one giant
    blob (~92k edges on 1k nodes at sf0.01), so a deterministic edge
    sample — `edge_sample` at 1/WCC_SAMPLE_MOD, the kcore/LPA
    discipline — exposes real component structure; the fixed-round
    result is deterministic and SQL-unrollable (components of diameter
    <= R are exactly labeled; larger ones are the defined R-round
    statistic).

    Scale plan: each round is one broadcast join of the per-node label
    relation (bounded by the domain universe) into the edge list + one
    min hash-agg — edges never reshuffle; same dataflow family as
    label_prop/shortest_paths.

    FULL SQL ORACLE (_sql_wcc_sizes): the same rounds as CTEs."""
    und = _full_und(spark, sf_dir).where(
        edge_sample("a", "b", WCC_SAMPLE_MOD))
    sym = _sym(und)
    lab = sym.select("u").distinct().select(
        "u", F.col("u").alias("lab"))
    lab = _min_label_rounds(sym, lab, WCC_ROUNDS)
    return (lab.groupBy("lab").agg(F.count("*").alias("n_nodes"))
            .select(F.col("lab").cast("long").alias("component"),
                    F.col("n_nodes").cast("long").alias("n_nodes")))


def _sql_wcc_sizes(n: int) -> str:
    return f"""WITH {_links_cte(n)},
{_sql_und(WCC_SAMPLE_MOD)},
sym AS MATERIALIZED (
  SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
lab0 AS MATERIALIZED (SELECT DISTINCT u, u AS lab FROM sym),
sym2 AS MATERIALIZED (
  SELECT u, v FROM sym UNION ALL SELECT u, u AS v FROM lab0),
{_sql_min_label_chain(WCC_ROUNDS)}
SELECT CAST(lab AS BIGINT) AS component,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM lab{WCC_ROUNDS} GROUP BY 1"""


CC_Z = 6          # tile zoom for the occupied-cell lattice
CC_ROUNDS = 6     # hash-to-min rounds over the 4-connected lattice


def q_cell_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the OCCUPIED z6 webmerc tile lattice
    under 4-connectivity — raster region labeling ("landmass
    detection") by the same bounded-round hash-to-min kernel as
    wcc_sizes, run on the aggregated cell lattice instead of the
    domain graph.  Isolated occupied tiles are their own components.

    Scale plan: the corpus aggregates to the occupied-tile relation
    first (one hash-agg; everything after runs on |tiles| rows, never
    points); E/S neighbor edges come from two equi-joins of that tiny
    relation with itself; each label round broadcasts the label
    relation.  The occupied relation is persisted — it seeds the node
    set, both edge joins and the final page-mass join.

    FULL SQL ORACLE (_sql_cell_components)."""
    n = 1 << CC_Z
    pts = _points(spark, sf_dir)
    # the aggregated lattice is bounded by the z6 cell universe (4096
    # rows max at ANY corpus size), so it lives in ONE partition from
    # here on — per-round 32-way shuffles of a 1.6k-row relation are
    # pure scheduler overhead
    occ = (pts.select(cells.tile_x(F.col("lon"), CC_Z).alias("tx"),
                      cells.tile_y(F.col("lat"), CC_Z).alias("ty"))
           .groupBy("tx", "ty").agg(F.count("*").alias("n_pages"))
           .withColumn("tid",
                       (F.col("tx") * n + F.col("ty")).cast("long"))
           .coalesce(1)
           .persist())
    o2 = occ.select(F.col("tx").alias("tx2"), F.col("ty").alias("ty2"),
                    F.col("tid").alias("tid2"))
    east = occ.join(F.broadcast(o2), (F.col("tx2") == F.col("tx") + 1)
                    & (F.col("ty2") == F.col("ty")))
    south = occ.join(F.broadcast(o2), (F.col("tx2") == F.col("tx"))
                     & (F.col("ty2") == F.col("ty") + 1))
    edges = (east.select(F.col("tid").alias("a"),
                         F.col("tid2").alias("b"))
             .union(south.select(F.col("tid").alias("a"),
                                 F.col("tid2").alias("b"))))
    sym = _sym(edges)
    lab = occ.select(F.col("tid").alias("u"),
                     F.col("tid").alias("lab"))
    lab = _min_label_rounds(sym, lab, CC_ROUNDS)
    j = lab.join(occ.select(F.col("tid").alias("u"), "n_pages"), "u")
    return (j.groupBy("lab")
            .agg(F.count("*").alias("n_tiles"),
                 F.sum("n_pages").alias("n_pages"))
            .select(F.col("lab").cast("long").alias("component"),
                    F.col("n_tiles").cast("long").alias("n_tiles"),
                    F.col("n_pages").cast("long").alias("n_pages")))


def _sql_cell_components(n_pages_total: int) -> str:
    n = 1 << CC_Z
    return f"""WITH {_pages_cte(n_pages_total)},
occ AS (SELECT {cells.tile_x_sql('lon', CC_Z)} AS tx,
               {cells.tile_y_sql('lat', CC_Z)} AS ty,
               COUNT(*) AS n_pages
        FROM pages GROUP BY 1, 2),
ot AS MATERIALIZED (
  SELECT tx, ty, n_pages, CAST(tx * {n} + ty AS BIGINT) AS tid
  FROM occ),
edges AS (
  SELECT o1.tid AS a, o2.tid AS b FROM ot o1 JOIN ot o2
    ON o2.tx = o1.tx + 1 AND o2.ty = o1.ty
  UNION ALL
  SELECT o1.tid AS a, o2.tid AS b FROM ot o1 JOIN ot o2
    ON o2.tx = o1.tx AND o2.ty = o1.ty + 1),
sym AS (SELECT a AS u, b AS v FROM edges
        UNION ALL SELECT b, a FROM edges),
lab0 AS (SELECT tid AS u, tid AS lab FROM ot),
sym2 AS MATERIALIZED (
  SELECT u, v FROM sym UNION ALL SELECT tid AS u, tid AS v FROM ot),
{_sql_min_label_chain(CC_ROUNDS)}
SELECT CAST(lab AS BIGINT) AS component,
       CAST(COUNT(*) AS BIGINT) AS n_tiles,
       CAST(SUM(n_pages) AS BIGINT) AS n_pages
FROM lab{CC_ROUNDS} l JOIN ot ON l.u = ot.tid
GROUP BY 1"""


QLN2 = 693147   # round(ln(2) * 1e6) — the exclusive-mass JSD term


def q_jsd_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the source unigram
    distributions — the symmetric, bounded (<= ln 2) divergence used
    to measure corpus-slice drift.  Per shared token the log ratio
    ln(2 c_a N_b / (c_a N_b + c_b N_a)) is quantized ONCE to integer
    micro-nats, so each pair's shared-mass sum is an exact BIGINT; the
    exclusive-mass remainder contributes exactly (N - shared_mass) *
    round(ln(2)*1e6) because a token absent from the other source has
    log ratio ln 2.  JSD itself is ONE fixed float expression over the
    exact integer sums.  Pairs that share no token are absent (the
    synthetic sources always overlap).

    Scale plan: ONE token explode + (source, token) hash agg; the
    pair join runs on the aggregated histogram keyed by token (per
    token at most |sources|^2/2 pairs — sources are a bounded
    dimension), with the 20-row totals broadcast.  The histogram is
    persisted: it is referenced by both join sides and the totals.

    FULL SQL ORACLE (_sql_jsd_sources)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("source",
                       F.explode(analysis.tokens(F.lower(F.col("text"))))
                       .alias("token"))
    hist = (toks.groupBy("source", "token")
            .agg(F.count("*").alias("c")).persist())
    tot = hist.groupBy("source").agg(F.sum("c").alias("n"))
    h1 = hist.select(F.col("source").alias("src_a"), "token",
                     F.col("c").alias("c_a"))
    h2 = hist.select(F.col("source").alias("src_b"),
                     F.col("token").alias("token_b"),
                     F.col("c").alias("c_b"))
    pairs = h1.join(h2, (F.col("token") == F.col("token_b"))
                    & (F.col("src_a") < F.col("src_b")))
    t1 = tot.select(F.col("source").alias("src_a"),
                    F.col("n").alias("n_a"))
    t2 = tot.select(F.col("source").alias("src_b"),
                    F.col("n").alias("n_b"))
    g = (pairs.join(F.broadcast(t1), "src_a")
         .join(F.broadcast(t2), "src_b"))
    num_a = F.col("c_a") * F.col("n_b")
    num_b = F.col("c_b") * F.col("n_a")
    den = (num_a + num_b).cast("double")
    q_a = F.round(F.log(F.lit(2.0) * num_a.cast("double") / den)
                  * 1e6, 0).cast("long")
    q_b = F.round(F.log(F.lit(2.0) * num_b.cast("double") / den)
                  * 1e6, 0).cast("long")
    per = (g.groupBy("src_a", "src_b", "n_a", "n_b")
           .agg(F.sum(F.col("c_a") * q_a).alias("sh_a_q"),
                F.sum(F.col("c_b") * q_b).alias("sh_b_q"),
                F.sum("c_a").alias("m_a"),
                F.sum("c_b").alias("m_b"),
                F.count("*").alias("n_shared")))
    s_a = F.col("sh_a_q") + (F.col("n_a") - F.col("m_a")) * QLN2
    s_b = F.col("sh_b_q") + (F.col("n_b") - F.col("m_b")) * QLN2
    jsd = F.round((s_a.cast("double") / F.col("n_a").cast("double")
                   + s_b.cast("double") / F.col("n_b").cast("double"))
                  / F.lit(2e6), 6)
    return per.select("src_a", "src_b",
                      F.col("n_shared").cast("long").alias("n_shared"),
                      s_a.cast("long").alias("s_a_q"),
                      s_b.cast("long").alias("s_b_q"),
                      jsd.alias("jsd"))


def _sql_jsd_sources() -> str:
    return f"""WITH toks AS (
  SELECT source, unnest({_SQL_TOKS}) AS token
  FROM documents),
hist AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
         FROM toks GROUP BY 1, 2),
tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY 1),
g AS (
  SELECT h1.source AS src_a, h2.source AS src_b, h1.c AS c_a, h2.c AS c_b,
         ta.n AS n_a, tb.n AS n_b
  FROM hist h1 JOIN hist h2
    ON h1.token = h2.token AND h1.source < h2.source
  JOIN tot ta ON ta.source = h1.source
  JOIN tot tb ON tb.source = h2.source),
per AS (
  SELECT src_a, src_b, n_a, n_b,
    CAST(SUM(c_a * CAST(ROUND(LN(2.0 * CAST(c_a * n_b AS DOUBLE)
          / CAST(c_a * n_b + c_b * n_a AS DOUBLE)) * 1e6, 0) AS BIGINT))
      AS BIGINT) AS sh_a_q,
    CAST(SUM(c_b * CAST(ROUND(LN(2.0 * CAST(c_b * n_a AS DOUBLE)
          / CAST(c_a * n_b + c_b * n_a AS DOUBLE)) * 1e6, 0) AS BIGINT))
      AS BIGINT) AS sh_b_q,
    CAST(SUM(c_a) AS BIGINT) AS m_a,
    CAST(SUM(c_b) AS BIGINT) AS m_b,
    CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM g GROUP BY 1, 2, 3, 4)
SELECT src_a, src_b, n_shared,
       sh_a_q + (n_a - m_a) * {QLN2} AS s_a_q,
       sh_b_q + (n_b - m_b) * {QLN2} AS s_b_q,
       ROUND((CAST(sh_a_q + (n_a - m_a) * {QLN2} AS DOUBLE)
                / CAST(n_a AS DOUBLE)
              + CAST(sh_b_q + (n_b - m_b) * {QLN2} AS DOUBLE)
                / CAST(n_b AS DOUBLE)) / 2e6, 6) AS jsd
FROM per"""


ODDS_LANG_A = "en"
ODDS_LANG_B = "de"
ODDS_TOPK = 40


def q_odds_ratio_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-odds-ratio with an uninformative Dirichlet prior (Monroe,
    Colaresi & Quinn 2008 "Fightin' Words") between two language
    subcorpora: the terms most distinctive of either side.  The delta
    is quantized ONCE to integer micro-nats, so the top-k cut
    (|delta| desc, delta desc, token) is an exact integer ranking; the
    z-score is one fixed float expression over exact counts, emitted
    for reporting only.

    Scale plan: ONE token explode into a per-token conditional-sum
    hash agg (no per-lang outer join — the CASE sums make missing
    counts exact zeros); the single-row totals broadcast as a literal
    cross join; TakeOrdered ends the plan.

    FULL SQL ORACLE (_sql_odds_ratio_terms)."""
    docs = (_docs(spark, sf_dir)
            .where(F.col("lang").isin(ODDS_LANG_A, ODDS_LANG_B)))
    toks = docs.select("lang",
                       F.explode(analysis.tokens(F.lower(F.col("text"))))
                       .alias("token"))
    cell = (toks.groupBy("token")
            .agg(F.sum(F.when(F.col("lang") == ODDS_LANG_A, 1)
                       .otherwise(0)).alias("c_a"),
                 F.sum(F.when(F.col("lang") == ODDS_LANG_B, 1)
                       .otherwise(0)).alias("c_b")))
    tot = cell.agg(F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b"),
                   F.count("*").alias("v"))
    g = cell.crossJoin(F.broadcast(tot))
    x_a = ((F.col("c_a") + 1).cast("double")
           / (F.col("n_a") + F.col("v") - F.col("c_a") - 1)
           .cast("double"))
    x_b = ((F.col("c_b") + 1).cast("double")
           / (F.col("n_b") + F.col("v") - F.col("c_b") - 1)
           .cast("double"))
    dq = F.round((F.log(x_a) - F.log(x_b)) * 1e6, 0).cast("long")
    var = (F.lit(1.0) / (F.col("c_a") + 1).cast("double")
           + F.lit(1.0) / (F.col("c_b") + 1).cast("double"))
    ranked = (g.select("token",
                       F.col("c_a").cast("long").alias("c_a"),
                       F.col("c_b").cast("long").alias("c_b"),
                       dq.alias("delta_q"),
                       F.round(dq.cast("double") / F.lit(1e6)
                               / F.sqrt(var), 6).alias("z"))
              .orderBy(F.abs(F.col("delta_q")).desc(),
                       F.col("delta_q").desc(), "token")
              .limit(ODDS_TOPK))
    return ranked


def _sql_odds_ratio_terms() -> str:
    return f"""WITH toks AS (
  SELECT lang, unnest({_SQL_TOKS}) AS token
  FROM documents WHERE lang IN ('{ODDS_LANG_A}', '{ODDS_LANG_B}')),
cell AS (
  SELECT token,
         CAST(SUM(CASE WHEN lang = '{ODDS_LANG_A}' THEN 1 ELSE 0 END)
              AS BIGINT) AS c_a,
         CAST(SUM(CASE WHEN lang = '{ODDS_LANG_B}' THEN 1 ELSE 0 END)
              AS BIGINT) AS c_b
  FROM toks GROUP BY 1),
tot AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
               CAST(SUM(c_b) AS BIGINT) AS n_b,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM cell),
g AS (SELECT token, c_a, c_b,
        CAST(ROUND((LN(CAST(c_a + 1 AS DOUBLE)
                       / CAST(n_a + v - c_a - 1 AS DOUBLE))
                    - LN(CAST(c_b + 1 AS DOUBLE)
                         / CAST(n_b + v - c_b - 1 AS DOUBLE))) * 1e6, 0)
             AS BIGINT) AS delta_q,
        (1.0 / CAST(c_a + 1 AS DOUBLE) + 1.0 / CAST(c_b + 1 AS DOUBLE))
          AS var
      FROM cell CROSS JOIN tot)
SELECT token, c_a, c_b, delta_q,
       ROUND(CAST(delta_q AS DOUBLE) / 1e6 / SQRT(var), 6) AS z
FROM g
ORDER BY ABS(delta_q) DESC, delta_q DESC, token LIMIT {ODDS_TOPK}"""


# ---------------------------------------------------------------------------
# session 22d: time-series decomposition + tokenizer diagnostics
# ---------------------------------------------------------------------------

STL_SHIFT = 1_000_000_000   # makes detrended means non-negative pre-div


def q_stl_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive time-series decomposition of the hourly event-volume
    series (a fixed-window STL analogue): trend = centered 24-hour
    moving sum (x24 to stay integer), detrended d24 = 24*y - trend,
    seasonal = per hour-of-day floor-mean of d24, residual sum of
    squares per hour-of-day.  The series is densified (missing hours
    are exact zeros), the mean uses the shift-then-div discipline
    (Spark `div` truncates, DuckDB `//` floors — they agree on
    non-negatives), and every emitted value is an exact BIGINT.

    Scale plan: the corpus aggregates to the hourly series in one
    hash-agg; the spine join, window, and both per-hour-of-day aggs
    run on the bounded horizon (at planetary horizons, partition the
    trend window by week with 24-row overlap).  The detrended relation
    is persisted — the seasonal agg and the residual join both
    reference it.

    FULL SQL ORACLE (_sql_stl_hours)."""
    ev = _events_micros(spark, sf_dir)
    cnt = (ev.select(F.floor(F.col("tm") / F.lit(3_600_000_000))
                     .cast("long").alias("x"))
           .groupBy("x").agg(F.count("*").alias("y")))
    mm = cnt.agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    spine = mm.select(F.explode(F.sequence(F.col("mn"), F.col("mx")))
                      .alias("x"), "mn", "mx")
    ser = (spine.join(cnt, "x", "left")
           .select("x", "mn", "mx",
                   F.coalesce(F.col("y"), F.lit(0)).alias("y")))
    w = Window.orderBy("x").rowsBetween(-11, 12)
    t = ser.withColumn("t24", F.sum("y").over(w))
    d = (t.where((F.col("x") - F.col("mn") >= 11)
                 & (F.col("mx") - F.col("x") >= 12))
         .select((F.col("x") % 24).alias("h"),
                 (24 * F.col("y") - F.col("t24")).alias("d24"))
         .persist())
    s = (d.groupBy("h")
         .agg(F.count("*").alias("n_h"),
              F.sum("d24").alias("s_num"),
              F.sum(F.col("d24") + STL_SHIFT).alias("s_shift")))
    s2 = s.select("h", "n_h", "s_num",
                  (F.expr("s_shift div n_h") - STL_SHIFT)
                  .alias("s_floor"))
    r = (d.join(F.broadcast(s2.select("h", "s_floor")), "h")
         .select("h", (F.col("d24") - F.col("s_floor")).alias("rr")))
    rss = r.groupBy("h").agg(F.sum(F.col("rr") * F.col("rr"))
                             .alias("rss24"))
    return (s2.join(rss, "h")
            .select(F.col("h").cast("long").alias("h"),
                    F.col("n_h").cast("long").alias("n_h"),
                    F.col("s_num").cast("long").alias("s_num"),
                    F.col("s_floor").cast("long").alias("s_floor"),
                    F.col("rss24").cast("long").alias("rss24")))


def _sql_stl_hours() -> str:
    return f"""WITH {_sql_hourly("ser0")},
mm AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM ser0),
spine AS (SELECT unnest(generate_series(mn, mx)) AS x, mn, mx FROM mm),
ser AS (SELECT spine.x AS x, mn, mx, COALESCE(y, 0) AS y
        FROM spine LEFT JOIN ser0 ON spine.x = ser0.x),
t AS (SELECT x, mn, mx, y,
             SUM(y) OVER (ORDER BY x
               ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS t24
      FROM ser),
d AS MATERIALIZED (
  SELECT x % 24 AS h, 24 * y - t24 AS d24
  FROM t WHERE x - mn >= 11 AND mx - x >= 12),
s2 AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n_h,
              CAST(SUM(d24) AS BIGINT) AS s_num,
              CAST(SUM(d24 + {STL_SHIFT}) AS BIGINT) // COUNT(*)
                - {STL_SHIFT} AS s_floor
       FROM d GROUP BY 1),
rss AS (SELECT d.h, CAST(SUM((d24 - s_floor) * (d24 - s_floor))
                         AS BIGINT) AS rss24
        FROM d JOIN s2 ON d.h = s2.h GROUP BY 1)
SELECT CAST(s2.h AS BIGINT) AS h, n_h, s_num,
       CAST(s_floor AS BIGINT) AS s_floor, rss24
FROM s2 JOIN rss ON s2.h = rss.h"""


def q_tok_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish pretokenizer units
    per whitespace token (the multilingual-tokenizer-cost diagnostic —
    high fertility means the tokenizer fragments that language).  Both
    counts are exact BIGINTs; fertility is the exact floored
    micro-ratio (1e6 * bpe_units) div ws_tokens — non-negative, so
    truncation and floor agree across engines.

    Scale plan: both tokenizations run as codegen'd size(regexp)
    expressions inside the scan — no explode, no shuffle of token
    rows; ONE per-lang hash agg.

    FULL SQL ORACLE (_sql_tok_fertility)."""
    docs = _docs(spark, sf_dir)
    per = docs.select(
        "lang",
        F.size(analysis.tokens(F.lower(F.col("text")))).cast("long")
        .alias("n_ws"),
        F.size(analysis.bpe_tokens(F.col("text"))).cast("long")
        .alias("n_bpe"))
    agg = (per.groupBy("lang")
           .agg(F.count("*").alias("n_docs"),
                F.sum("n_ws").alias("ws_tokens"),
                F.sum("n_bpe").alias("bpe_units")))
    return agg.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("bpe_units").cast("long").alias("bpe_units"),
        F.expr("(1000000 * bpe_units) div ws_tokens")
        .alias("fertility_micro"))


def _sql_tok_fertility() -> str:
    return f"""WITH per AS (
  SELECT lang,
         len({_SQL_TOKS}) AS n_ws,
         len(regexp_extract_all(lower(text), '{analysis.BPE_PATTERN}'))
           AS n_bpe
  FROM documents)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(n_bpe) AS BIGINT) AS bpe_units,
       (1000000 * CAST(SUM(n_bpe) AS BIGINT))
         // CAST(SUM(n_ws) AS BIGINT) AS fertility_micro
FROM per GROUP BY 1"""


# ---------------------------------------------------------------------------
# session 23 — distributed model fitting: OLS normal equations, naive
# Bayes, TextRank, circular statistics, periodogram, Kaplan-Meier,
# labeled-BFS closeness centrality
# ---------------------------------------------------------------------------


def q_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed two-feature OLS via exact normal equations: regress
    each document's whitespace token count on its character count and
    its long-token (>= 5 chars) count — the one-pass sufficient-
    statistics pattern every shared-nothing regression uses (X'X and
    X'y as map-side combinable sums; the tiny solve happens once at
    the end).

    Exactness: the 9 sufficient sums (n, Sx1, Sx2, Sy, Sx1x1, Sx1x2,
    Sx2x2, Sx1y, Sx2y) are exact BIGINTs — per-doc features are small
    integers, so no div-quantization is needed (documented headroom:
    chars <= ~2e3, chars^2 <= 4e6/row, safe under ANSI to ~1e12 docs).
    The Cramer's-rule solve over CENTERED moments is ONE fixed float
    expression over the exact sums, mirrored token-for-token by the
    oracle — the only doubles in the plan.

    Scale plan: one map-side stage (feature expressions inside the
    scan, no explode — token/punct counts are size(regexp) exprs) plus
    a single-row hash agg; nothing shuffles but 9 numbers/partition.

    FULL SQL ORACLE (_sql_linreg)."""
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    per = docs.select(
        F.length(t).cast("long").alias("x1"),
        F.size(F.filter(analysis.tokens(t),
                        lambda tk: F.length(tk) >= 5)).cast("long")
        .alias("x2"),
        F.size(analysis.tokens(t)).cast("long").alias("y"))
    s = per.agg(
        F.count("*").alias("n_docs"),
        F.sum("x1").alias("sx1"), F.sum("x2").alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx1x1"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx1x2"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx2x2"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"))
    nd = F.col("n_docs").cast("double")
    s11 = nd * F.col("sx1x1").cast("double") \
        - F.col("sx1").cast("double") * F.col("sx1").cast("double")
    s12 = nd * F.col("sx1x2").cast("double") \
        - F.col("sx1").cast("double") * F.col("sx2").cast("double")
    s22 = nd * F.col("sx2x2").cast("double") \
        - F.col("sx2").cast("double") * F.col("sx2").cast("double")
    s1y = nd * F.col("sx1y").cast("double") \
        - F.col("sx1").cast("double") * F.col("sy").cast("double")
    s2y = nd * F.col("sx2y").cast("double") \
        - F.col("sx2").cast("double") * F.col("sy").cast("double")
    det = s11 * s22 - s12 * s12
    b1 = F.when(det != 0.0, (s22 * s1y - s12 * s2y) / det)
    b2 = F.when(det != 0.0, (s11 * s2y - s12 * s1y) / det)
    b0 = (F.col("sy").cast("double") - b1 * F.col("sx1").cast("double")
          - b2 * F.col("sx2").cast("double")) / nd
    return s.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("sx1").cast("long").alias("sx1"),
        F.col("sx2").cast("long").alias("sx2"),
        F.col("sy").cast("long").alias("sy"),
        F.col("sx1x1").cast("long").alias("sx1x1"),
        F.col("sx1x2").cast("long").alias("sx1x2"),
        F.col("sx2x2").cast("long").alias("sx2x2"),
        F.col("sx1y").cast("long").alias("sx1y"),
        F.col("sx2y").cast("long").alias("sx2y"),
        F.round(b1, 6).alias("beta_chars"),
        F.round(b2, 6).alias("beta_long"),
        F.round(b0, 6).alias("intercept"))


def _sql_linreg() -> str:
    toks = _sql_toks()
    return f"""WITH per AS (
  SELECT CAST(len(text) AS BIGINT) AS x1,
         CAST(len(list_filter({toks}, t -> len(t) >= 5)) AS BIGINT) AS x2,
         CAST(len({toks}) AS BIGINT) AS y
  FROM documents),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(x1) AS BIGINT) AS sx1,
             CAST(SUM(x2) AS BIGINT) AS sx2,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x1 * x1) AS BIGINT) AS sx1x1,
             CAST(SUM(x1 * x2) AS BIGINT) AS sx1x2,
             CAST(SUM(x2 * x2) AS BIGINT) AS sx2x2,
             CAST(SUM(x1 * y) AS BIGINT) AS sx1y,
             CAST(SUM(x2 * y) AS BIGINT) AS sx2y
      FROM per),
m AS (SELECT *,
        CAST(n_docs AS DOUBLE) * CAST(sx1x1 AS DOUBLE)
          - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) AS s11,
        CAST(n_docs AS DOUBLE) * CAST(sx1x2 AS DOUBLE)
          - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE) AS s12,
        CAST(n_docs AS DOUBLE) * CAST(sx2x2 AS DOUBLE)
          - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) AS s22,
        CAST(n_docs AS DOUBLE) * CAST(sx1y AS DOUBLE)
          - CAST(sx1 AS DOUBLE) * CAST(sy AS DOUBLE) AS s1y,
        CAST(n_docs AS DOUBLE) * CAST(sx2y AS DOUBLE)
          - CAST(sx2 AS DOUBLE) * CAST(sy AS DOUBLE) AS s2y
      FROM s),
b AS (SELECT *,
        CASE WHEN s11 * s22 - s12 * s12 <> 0 THEN
          (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) END AS b1,
        CASE WHEN s11 * s22 - s12 * s12 <> 0 THEN
          (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) END AS b2
      FROM m)
SELECT n_docs, sx1, sx2, sy, sx1x1, sx1x2, sx2x2, sx1y, sx2y,
       ROUND(b1, 6) AS beta_chars,
       ROUND(b2, 6) AS beta_long,
       ROUND((CAST(sy AS DOUBLE) - b1 * CAST(sx1 AS DOUBLE)
              - b2 * CAST(sx2 AS DOUBLE))
             / CAST(n_docs AS DOUBLE), 6) AS intercept
FROM b"""


NB_V = 300    # naive-Bayes vocabulary: top-V tokens by (count desc, tok)


def q_nb_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language classifier trained AND scored
    in one distributed pass: P(tok|lang) with add-1 smoothing over the
    top-{NB_V} vocabulary, argmax posterior per document, emitted as
    the (actual, predicted) confusion matrix — the train-a-model-on-
    the-corpus pattern (fastText-style lang-ID supervision) expressed
    as joins + aggregations.

    Exactness: each model cell's log-prob ln((c_lt+1)/(c_l+V)) and
    each prior ln(n_l/n) is quantized ONCE to integer micro-nats, so
    every per-(doc, lang) score is an exact BIGINT sum (tf * qlp) —
    argmax with the deterministic (score desc, lang) tie-break is
    engine-independent.  Docs containing no vocabulary token are
    excluded by construction (no score rows) — same rule in both
    engines.

    Scale plan: the vocabulary cut is a TakeOrdered over the token
    aggregate; the model (V x L cells) and priors are broadcast; the
    only corpus-sized shuffles are the (doc, tok) tf aggregation and
    the per-(doc, lang) score aggregation.  The argmax window
    partitions by doc_id — row-parallel.

    FULL SQL ORACLE (_sql_nb_lang)."""
    docs = _docs(spark, sf_dir)
    tk = docs.select("doc_id", "lang",
                     F.explode(analysis.tokens(F.col("text"))).alias("tok"))
    vocab = (tk.groupBy("tok").agg(F.count("*").alias("cnt"))
             .orderBy(F.col("cnt").desc(), "tok").limit(NB_V)
             .select("tok"))
    tkv = tk.join(F.broadcast(vocab), "tok")
    ctl = tkv.groupBy("lang", "tok").agg(F.count("*").alias("c_lt"))
    cl = ctl.groupBy("lang").agg(F.sum("c_lt").alias("c_l"))
    vsz = vocab.agg(F.count("*").alias("vsz"))
    model = (vocab.crossJoin(cl)
             .join(ctl, ["lang", "tok"], "left")
             .crossJoin(F.broadcast(vsz))
             .select("lang", "tok",
                     F.round(F.log(
                         (F.coalesce(F.col("c_lt"), F.lit(0)) + 1)
                         .cast("double")
                         / (F.col("c_l") + F.col("vsz")).cast("double"))
                         * 1e6, 0).cast("long").alias("qlp")))
    nl = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    nt = docs.agg(F.count("*").alias("n_tot"))
    prior = (nl.crossJoin(F.broadcast(nt))
             .select(F.col("lang").alias("mlang"),
                     F.round(F.log(F.col("n_l").cast("double")
                                   / F.col("n_tot").cast("double"))
                             * 1e6, 0).cast("long").alias("qpr")))
    tf = tkv.groupBy("doc_id", "lang", "tok").agg(F.count("*").alias("tf"))
    sc = (tf.join(F.broadcast(model.withColumnRenamed("lang", "mlang")),
                  "tok")
          .groupBy("doc_id", F.col("lang").alias("actual"), "mlang")
          .agg(F.sum(F.col("tf") * F.col("qlp")).alias("s")))
    scored = (sc.join(F.broadcast(prior), "mlang")
              .select("doc_id", "actual", "mlang",
                      (F.col("s") + F.col("qpr")).alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "mlang")
    pred = (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1))
    return (pred.groupBy(F.col("actual").alias("actual_lang"),
                         F.col("mlang").alias("pred_lang"))
            .agg(F.count("*").alias("n_docs")))


def _sql_nb_lang() -> str:
    return f"""WITH tk AS (
  SELECT doc_id, lang, unnest({_sql_toks()}) AS tok FROM documents),
vocab AS (SELECT tok FROM (
  SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY 1
  ORDER BY cnt DESC, tok LIMIT {NB_V})),
tkv AS (SELECT tk.* FROM tk JOIN vocab USING (tok)),
ctl AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c_lt
        FROM tkv GROUP BY 1, 2),
cl AS (SELECT lang, CAST(SUM(c_lt) AS BIGINT) AS c_l FROM ctl GROUP BY 1),
vsz AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsz FROM vocab),
model AS (
  SELECT cl.lang, v.tok,
         CAST(ROUND(LN(CAST(COALESCE(ctl.c_lt, 0) + 1 AS DOUBLE)
                       / CAST(cl.c_l + vsz.vsz AS DOUBLE)) * 1e6, 0)
              AS BIGINT) AS qlp
  FROM vocab v CROSS JOIN cl
  LEFT JOIN ctl ON ctl.lang = cl.lang AND ctl.tok = v.tok
  CROSS JOIN vsz),
nl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l
       FROM documents GROUP BY 1),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM documents),
prior AS (SELECT lang AS mlang,
                 CAST(ROUND(LN(CAST(n_l AS DOUBLE)
                               / CAST(n_tot AS DOUBLE)) * 1e6, 0)
                      AS BIGINT) AS qpr
          FROM nl CROSS JOIN nt),
tf AS (SELECT doc_id, lang, tok, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tkv GROUP BY 1, 2, 3),
sc AS (SELECT tf.doc_id, tf.lang AS actual, m.lang AS mlang,
              CAST(SUM(tf.tf * m.qlp) AS BIGINT) AS s
       FROM tf JOIN model m ON m.tok = tf.tok
       GROUP BY 1, 2, 3),
scored AS (SELECT doc_id, actual, sc.mlang, s + qpr AS score
           FROM sc JOIN prior ON prior.mlang = sc.mlang),
pred AS (SELECT doc_id, actual, mlang,
                ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, mlang) AS rn
         FROM scored)
SELECT actual AS actual_lang, mlang AS pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1 GROUP BY 1, 2"""


TR_V = 200      # TextRank vocabulary: top-V tokens by (count desc, tok)
TR_K = 50       # emitted keywords
TR_ITERS = 5


def q_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the token co-occurrence graph — vertices are the top-{TR_V}
    corpus tokens, undirected edges weight adjacent-token
    co-occurrence counts — emitting the top-{TR_K} keywords.

    Reuses the engine's integer-quantized pagerank kernel
    (proj_spark/graph.py), so all rank arithmetic is exact BIGINT and
    the unrolled-CTE oracle replays it bit-exactly; the adjacency list
    is built with the zip_with-over-slices pattern (O(tokens), no
    per-index re-slicing).  Each unordered pair aggregates once on its
    canonical (least, greatest) key, then mirrors into both directions
    so the random walk is symmetric.

    Scale plan: vocabulary cut = TakeOrdered over the token aggregate,
    broadcast into the pair stream (two semi joins); the pair
    aggregate is bounded by V^2, so the 5 pagerank rounds run over a
    tiny relation with broadcast rank joins.

    FULL SQL ORACLE (_sql_textrank)."""
    from proj_spark.graph import pagerank
    docs = _docs(spark, sf_dir)
    pair_expr = (
        "CASE WHEN size(toks) >= 2 THEN "
        "zip_with(slice(toks, 1, size(toks) - 1), "
        "         slice(toks, 2, size(toks) - 1), "
        "         (a, b) -> struct(a AS a, b AS b)) "
        "ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) END")
    toks = docs.select(analysis.tokens(F.col("text")).alias("toks"))
    pairs = (toks.select(F.explode(F.expr(pair_expr)).alias("p"))
             .select(F.col("p.a").alias("a"), F.col("p.b").alias("b")))
    allt = docs.select(F.explode(analysis.tokens(F.col("text")))
                       .alias("tok"))
    vocab = (allt.groupBy("tok").agg(F.count("*").alias("cnt"))
             .orderBy(F.col("cnt").desc(), "tok").limit(TR_V)
             .select("tok"))
    fp = (pairs
          .join(F.broadcast(vocab.withColumnRenamed("tok", "a")), "a",
                "left_semi")
          .join(F.broadcast(vocab.withColumnRenamed("tok", "b")), "b",
                "left_semi")
          .where(F.col("a") != F.col("b"))
          .select(F.least("a", "b").alias("x"),
                  F.greatest("a", "b").alias("y")))
    cw = fp.groupBy("x", "y").agg(F.count("*").alias("w"))
    edges = (cw.select(F.col("x").alias("src"), F.col("y").alias("dst"),
                       "w")
             .union(cw.select(F.col("y").alias("src"),
                              F.col("x").alias("dst"), "w")))
    nodes = vocab.select(F.col("tok").alias("node"))
    pr = pagerank(edges, nodes, iters=TR_ITERS)
    return (pr.select(F.col("node").alias("token"), "score")
            .orderBy(F.col("score").desc(), "token").limit(TR_K))


def _sql_textrank() -> str:
    from proj_spark.graph import pagerank_sql
    edges_cte = f"""t AS (SELECT {_sql_toks()} AS toks FROM documents),
bgl AS (
  SELECT unnest([{{'a': toks[i+1], 'b': toks[i+2]}}
                 for i in generate_series(0, len(toks) - 2)]) AS p
  FROM t WHERE len(toks) >= 2),
vocab AS (SELECT tok FROM (
  SELECT tok, COUNT(*) AS cnt FROM (SELECT unnest(toks) AS tok FROM t)
  GROUP BY 1 ORDER BY cnt DESC, tok LIMIT {TR_V})),
fp AS (SELECT LEAST(p.a, p.b) AS x, GREATEST(p.a, p.b) AS y
       FROM bgl
       WHERE p.a IN (SELECT tok FROM vocab)
         AND p.b IN (SELECT tok FROM vocab)
         AND p.a <> p.b),
cw AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS w FROM fp GROUP BY 1, 2),
e AS (SELECT x AS src, y AS dst, w FROM cw
      UNION ALL
      SELECT y AS src, x AS dst, w FROM cw)"""
    teleport_cte = "teleport AS (SELECT tok AS node FROM vocab)"
    body = pagerank_sql(edges_cte, teleport_cte, iters=TR_ITERS)
    return (body.replace("SELECT node, score FROM",
                         "SELECT node AS token, score FROM")
            + f"\nORDER BY score DESC, token LIMIT {TR_K}")


def q_bearing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain circular statistics of consecutive crawl-hop
    bearings: mean resultant length R (0 = uniformly scattered
    directions, 1 = all hops point the same way) and the Rayleigh
    statistic z = n*R^2 — directional-statistics screens for
    systematic drift in a domain's geographic crawl path.

    Exactness: no trigonometry — each hop's direction cosines are
    dx/|d|, dy/|d| over EXACT µdeg deltas, quantized to integer
    micro-units per hop (ONE fixed float expression incl. the sqrt,
    LN-parity-class), so the per-domain sums sc/ss are exact BIGINTs;
    R and z are fixed float assemblies over them.  Zero-length hops
    (same µdeg point) are excluded in both engines.

    Scale plan: one window shuffle on domain (the LEAD), then the
    hash agg reuses the same partitioning; ~domains rows out.

    FULL SQL ORACLE (_sql_bearing_stats)."""
    pts = _points(spark, sf_dir)
    t = pts.select("domain", _page_seq().alias("seq"),
                   *_udeg_xy(shift=True))
    w = Window.partitionBy("domain").orderBy("seq")
    hops = (t.select("domain", "x", "y",
                     F.lead("x").over(w).alias("x2"),
                     F.lead("y").over(w).alias("y2"))
            .where(F.col("x2").isNotNull()
                   & ~((F.col("x") == F.col("x2"))
                       & (F.col("y") == F.col("y2")))))
    dx = (F.col("x2") - F.col("x")).cast("double")
    dy = (F.col("y2") - F.col("y")).cast("double")
    r = F.sqrt(dx * dx + dy * dy)
    q = hops.select(
        "domain",
        F.round(dx / r * 1e6, 0).cast("long").alias("qc"),
        F.round(dy / r * 1e6, 0).cast("long").alias("qs"))
    agg = q.groupBy("domain").agg(
        F.count("*").alias("n_hops"),
        F.sum("qc").alias("sc"), F.sum("qs").alias("ss"))
    scd = F.col("sc").cast("double")
    ssd = F.col("ss").cast("double")
    nd = F.col("n_hops").cast("double")
    return agg.select(
        "domain",
        F.col("n_hops").cast("long").alias("n_hops"),
        F.col("sc").cast("long").alias("sc"),
        F.col("ss").cast("long").alias("ss"),
        F.round(F.sqrt(scd * scd + ssd * ssd) / (nd * 1e6), 6)
        .alias("r_mean"),
        F.round((scd * scd + ssd * ssd) / (nd * 1e12), 6)
        .alias("rayleigh_z"))


def _sql_bearing_stats(n: int) -> str:
    return f"""WITH {_pages_cte(n)},
t AS (SELECT domain, i AS seq, {_sql_udeg_xy(shift=True)} FROM pages),
hops AS (SELECT domain, x, y,
                LEAD(x) OVER (PARTITION BY domain ORDER BY seq) AS x2,
                LEAD(y) OVER (PARTITION BY domain ORDER BY seq) AS y2
         FROM t),
q AS (SELECT domain,
             CAST(ROUND(CAST(x2 - x AS DOUBLE)
                        / SQRT(CAST(x2 - x AS DOUBLE) * CAST(x2 - x AS DOUBLE)
                               + CAST(y2 - y AS DOUBLE) * CAST(y2 - y AS DOUBLE))
                        * 1e6, 0) AS BIGINT) AS qc,
             CAST(ROUND(CAST(y2 - y AS DOUBLE)
                        / SQRT(CAST(x2 - x AS DOUBLE) * CAST(x2 - x AS DOUBLE)
                               + CAST(y2 - y AS DOUBLE) * CAST(y2 - y AS DOUBLE))
                        * 1e6, 0) AS BIGINT) AS qs
      FROM hops
      WHERE x2 IS NOT NULL AND NOT (x = x2 AND y = y2)),
agg AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_hops,
               CAST(SUM(qc) AS BIGINT) AS sc,
               CAST(SUM(qs) AS BIGINT) AS ss
        FROM q GROUP BY 1)
SELECT domain, n_hops, sc, ss,
       ROUND(SQRT(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                  + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
             / (CAST(n_hops AS DOUBLE) * 1e6), 6) AS r_mean,
       ROUND((CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
              + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
             / (CAST(n_hops AS DOUBLE) * 1e12), 6) AS rayleigh_z
FROM agg"""


def _rhalf_py(v: float) -> int:
    """Round half away from zero — the ROUND(x, 0) of both engines."""
    return int(v + 0.5) if v >= 0 else -int(-v + 0.5)


PG_PERIODS = (24, 12, 8, 6)
# Literal phase tables: micro-quantized cos/sin of 2*pi*r/P, computed
# ONCE here and embedded verbatim in BOTH engines' plans — no runtime
# trigonometry anywhere, so cross-engine parity is by construction.
PG_PHASES: list[tuple[int, int, int, int]] = [
    (p, r,
     _rhalf_py(math.cos(2.0 * math.pi * r / p) * 1e6),
     _rhalf_py(math.sin(2.0 * math.pi * r / p) * 1e6))
    for p in PG_PERIODS for r in range(p)]


def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-frequency periodogram of the hourly event-volume series:
    spectral power at the 24/12/8/6-hour harmonics (the diurnal comb)
    via the literal quantized phase tables above — the frequency-
    domain companion to acf_hours/stl_hours.

    Exactness: C_P = sum(y * qcos), S_P = sum(y * qsin) are exact
    BIGINTs (counts x literal integers); the relative amplitude
    sqrt(C^2+S^2)/(s_tot*1e6) and power (C^2+S^2)/(s_tot^2*1e12) are
    fixed float assemblies.  Hours with no events contribute exactly
    zero, so the series needs no densification.

    Scale plan: the corpus aggregates to the hourly series in one
    hash-agg; the phase join and per-period aggs run over #hours x 4
    rows (broadcast literal tables).

    FULL SQL ORACLE (_sql_periodogram)."""
    ev = _events_micros(spark, sf_dir)
    ser = _hourly(ev)
    phases = spark.createDataFrame(PG_PHASES,
                                   "period long, r long, qc long, qs long")
    periods = spark.createDataFrame([(p,) for p in PG_PERIODS],
                                    "period long")
    exp = (ser.crossJoin(F.broadcast(periods))
           .select("period", (F.col("x") % F.col("period")).alias("r"), "y")
           .join(F.broadcast(phases), ["period", "r"]))
    agg = exp.groupBy("period").agg(
        F.count("*").alias("n_hours"),
        F.sum("y").alias("s_tot"),
        F.sum(F.col("y") * F.col("qc")).alias("c_sum"),
        F.sum(F.col("y") * F.col("qs")).alias("s_sum"))
    cd = F.col("c_sum").cast("double")
    sd = F.col("s_sum").cast("double")
    td = F.col("s_tot").cast("double")
    return agg.select(
        F.col("period").cast("long").alias("period"),
        F.col("n_hours").cast("long").alias("n_hours"),
        F.col("s_tot").cast("long").alias("s_tot"),
        F.col("c_sum").cast("long").alias("c_sum"),
        F.col("s_sum").cast("long").alias("s_sum"),
        F.round(F.sqrt(cd * cd + sd * sd) / (td * 1e6), 6)
        .alias("rel_amp"),
        F.round((cd * cd + sd * sd) / (td * td * 1e12), 6)
        .alias("power"))


def _sql_periodogram() -> str:
    rows = ", ".join(f"({p}, {r}, {qc}, {qs})"
                     for p, r, qc, qs in PG_PHASES)
    return f"""WITH {_sql_hourly()},
ph(period, r, qc, qs) AS (VALUES {rows}),
ex AS (SELECT ph.period, y, qc, qs
       FROM ser JOIN ph ON ser.x % ph.period = ph.r),
agg AS (SELECT period, CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST(SUM(y) AS BIGINT) AS s_tot,
               CAST(SUM(y * qc) AS BIGINT) AS c_sum,
               CAST(SUM(y * qs) AS BIGINT) AS s_sum
        FROM ex GROUP BY 1)
SELECT CAST(period AS BIGINT) AS period, n_hours, s_tot, c_sum, s_sum,
       ROUND(SQRT(CAST(c_sum AS DOUBLE) * CAST(c_sum AS DOUBLE)
                  + CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE))
             / (CAST(s_tot AS DOUBLE) * 1e6), 6) AS rel_amp,
       ROUND((CAST(c_sum AS DOUBLE) * CAST(c_sum AS DOUBLE)
              + CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE))
             / (CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) * 1e12), 6)
         AS power
FROM agg"""


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit estimator of the time-to-next-event
    distribution: per-user inter-event gaps (hours), the last gap of
    every user right-CENSORED at the stream horizon — the survival
    curve S(t) telling a pipeline how long a user stays silent.

    Exactness: the duration lattice (at-risk n_i, events d_i, censored
    c_i per hour bucket) is exact-integer from windows; each factor
    ln((n_i-d_i)/n_i) is quantized ONCE to integer micro-nats, so the
    log-survival prefix sum is an exact BIGINT (the product turned
    into the engine's quantized-log discipline); ln_surv is the one
    fixed float division at the end.  Ordering ties broken by
    (tm, event_id) in both engines.

    Scale plan: one window shuffle on user_id for the gaps, then all
    KM arithmetic runs on the tiny hour-bucket lattice (ordered
    windows over #buckets rows).

    FULL SQL ORACLE (_sql_kaplan_meier)."""
    ev = _events_micros(spark, sf_dir)
    mx = ev.agg(F.max("tm").alias("mx"))
    w = Window.partitionBy("user_id").orderBy("tm", "event_id")
    g = (ev.select("user_id", "tm", "event_id")
         .withColumn("nxt", F.lead("tm").over(w))
         .crossJoin(F.broadcast(mx))
         .select(
             F.expr("(coalesce(nxt, mx) - tm) div 3600000000").alias("t"),
             F.when(F.col("nxt").isNotNull(), F.lit(1)).otherwise(F.lit(0))
             .alias("e")))
    lat = g.groupBy("t").agg(
        F.sum("e").alias("d"),
        F.sum(F.lit(1) - F.col("e")).alias("c"))
    ntot = g.agg(F.count("*").alias("n_tot"))
    wp = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = (lat.crossJoin(F.broadcast(ntot))
            .withColumn("n_risk",
                        F.col("n_tot")
                        - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wp),
                                     F.lit(0))))
    qln = F.when(
        F.col("n_risk") > F.col("d"),
        F.round(F.log((F.col("n_risk") - F.col("d")).cast("double")
                      / F.col("n_risk").cast("double")) * 1e6, 0)
        .cast("long"))
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = (risk.withColumn("qln", qln)
          .withColumn("qln_cum", F.sum("qln").over(wc)))
    return (km.where(F.col("d") > 0)
            .select(F.col("t").cast("long").alias("t_hours"),
                    F.col("n_risk").cast("long").alias("n_risk"),
                    F.col("d").cast("long").alias("d_events"),
                    F.col("c").cast("long").alias("c_censored"),
                    F.when(F.col("n_risk") > F.col("d"),
                           F.col("qln_cum").cast("long")).alias("qln_cum"),
                    F.when(F.col("n_risk") > F.col("d"),
                           F.round(F.col("qln_cum").cast("double") / 1e6, 6))
                    .alias("ln_surv")))


def _sql_kaplan_meier() -> str:
    return """WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS tm FROM events),
mx AS (SELECT MAX(tm) AS mx FROM ev),
g AS (SELECT (COALESCE(LEAD(tm) OVER (PARTITION BY user_id
                                      ORDER BY tm, event_id), mx) - tm)
               // 3600000000 AS t,
             CASE WHEN LEAD(tm) OVER (PARTITION BY user_id
                                      ORDER BY tm, event_id) IS NOT NULL
                  THEN 1 ELSE 0 END AS e
      FROM ev CROSS JOIN mx),
lat AS (SELECT t, CAST(SUM(e) AS BIGINT) AS d,
               CAST(SUM(1 - e) AS BIGINT) AS c
        FROM g GROUP BY 1),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM g),
risk AS (SELECT t, d, c,
                n_tot - COALESCE(SUM(d + c) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS n_risk
         FROM lat CROSS JOIN nt),
km AS (SELECT t, d, c, n_risk,
              SUM(CASE WHEN n_risk > d THEN
                    CAST(ROUND(LN(CAST(n_risk - d AS DOUBLE)
                                  / CAST(n_risk AS DOUBLE)) * 1e6, 0)
                         AS BIGINT) END)
                OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS qln_cum
       FROM risk)
SELECT CAST(t AS BIGINT) AS t_hours, CAST(n_risk AS BIGINT) AS n_risk,
       d AS d_events, c AS c_censored,
       CASE WHEN n_risk > d THEN CAST(qln_cum AS BIGINT) END AS qln_cum,
       CASE WHEN n_risk > d
            THEN ROUND(CAST(qln_cum AS DOUBLE) / 1e6, 6) END AS ln_surv
FROM km WHERE d > 0"""


CLOSE_SEED_MOD = 199    # closeness seeds: domains divisible by 199 (6)
CLOSE_DEPTH = 4


def q_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness + harmonic centrality of seed domains over the link
    graph: labeled multi-source BFS (proj_spark/graph.py bfs_hops
    with the seed as the label — one frontier join per round computes
    ALL seeds' BFS trees simultaneously), then per-seed exact aggregates of the
    hop distances — Bavelas closeness n/sum(d) and the
    harmonic sum of 1/d as floored micro-units.

    Depth-bounded at {CLOSE_DEPTH} (the graph's effective diameter is
    tiny); unreached nodes are excluded by the bounded-reach contract,
    the standard within-radius centrality variant.

    FULL SQL ORACLE (_sql_closeness): a recursive CTE carrying the
    seed label with a MIN(h) rollup per (seed, node) — a different
    evaluation strategy over the same deterministic edge set."""
    from proj_spark.graph import bfs_hops
    edges = _domain_links(spark, sf_dir)
    seeds = (spark.range(N_DOMAINS)
             .select(F.col("id").alias("seed"), F.col("id").alias("node"))
             .where(F.col("seed") % CLOSE_SEED_MOD == 0))
    out = bfs_hops(edges, seeds, CLOSE_DEPTH)
    agg = (out.where(F.col("hops") > 0)
           .groupBy("seed")
           .agg(F.count("*").alias("n_reached"),
                F.sum("hops").alias("s_hops"),
                F.sum(F.expr("1000000 div hops")).alias("harm_q")))
    return agg.select(
        F.col("seed").cast("long").alias("seed_domain"),
        F.col("n_reached").cast("long").alias("n_reached"),
        F.col("s_hops").cast("long").alias("s_hops"),
        F.col("harm_q").cast("long").alias("harm_q"),
        F.round(F.col("n_reached").cast("double")
                / F.col("s_hops").cast("double"), 6).alias("closeness"))


def _sql_closeness(n: int) -> str:
    return f"""WITH RECURSIVE {_links_cte(n)},
e AS (SELECT DISTINCT src, dst FROM links),
reach(seed, node, h) AS (
  SELECT i AS seed, i AS node, 0 AS h
  FROM range(0, {N_DOMAINS}) t(i) WHERE i % {CLOSE_SEED_MOD} = 0
  UNION
  SELECT r.seed, e.dst, r.h + 1 FROM reach r JOIN e ON e.src = r.node
  WHERE r.h < {CLOSE_DEPTH}
),
mh AS (SELECT seed, node, MIN(h) AS hops FROM reach GROUP BY 1, 2),
agg AS (SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_reached,
               CAST(SUM(hops) AS BIGINT) AS s_hops,
               CAST(SUM(1000000 // hops) AS BIGINT) AS harm_q
        FROM mh WHERE hops > 0 GROUP BY 1)
SELECT CAST(seed AS BIGINT) AS seed_domain, n_reached, s_hops, harm_q,
       ROUND(CAST(n_reached AS DOUBLE) / CAST(s_hops AS DOUBLE), 6)
         AS closeness
FROM agg"""


KM_K = 8        # k-means clusters (seeded from the first 8 city centers)
KM_ROUNDS = 3   # fixed Lloyd rounds — engine-independent like pagerank


def _km_init() -> list[tuple[int, int, int]]:
    """Deterministic seeds: the first KM_K city centers in shifted
    non-negative µdeg — embedded as literals in BOTH engines."""
    out = []
    for j, (lon, lat) in enumerate(CITY_CENTERS[:KM_K]):
        out.append((j,
                    _rhalf_py(lon * 1e6) + 180_000_000,
                    _rhalf_py(lat * 1e6) + 90_000_000))
    return out


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the page points: {KM_ROUNDS}
    fixed rounds from deterministic city-center seeds — the canonical
    iterative-ML operator expressed Spark-first.

    Exactness: the corpus first aggregates to the DISTINCT (x, y) µdeg
    lattice with integer weights (weighted k-means — identical points
    assign identically, so this is lossless); assignment is an exact
    BIGINT squared-distance argmin with ties to the lowest centroid id,
    and each new centroid is ONE floored division of exact weighted
    sums (non-negative µdeg, so Spark `div` == DuckDB `//`).  Empty
    clusters keep their previous centroid.  Every round is therefore
    engine-exact, like pagerank's quantized iterates.

    Scale plan: the weighted lattice is checkpointed once (<= distinct
    coordinates, not pages); each round COLLECTS the k centroids (k
    rows) and evaluates the argmin as a pure codegen'd CASE expression
    over literals — zero joins, zero shuffles inside a round beyond
    the k-row hash agg (the reverse_geocode monotone-kernel trick
    applied to an iterative fit).  The oracle instead unrolls rounds
    as cross-join + window CTEs — a different evaluation strategy
    whose agreement proves both.

    FULL SQL ORACLE (_sql_kmeans)."""
    pts = _points(spark, sf_dir)
    lat = (pts.select(*_udeg_xy(shift=True))
        .groupBy("x", "y").agg(F.count("*").alias("w"))
        .localCheckpoint())
    cents = _km_init()
    for _ in range(KM_ROUNDS):
        d2s = [(F.col("x") - F.lit(cx)) * (F.col("x") - F.lit(cx))
               + (F.col("y") - F.lit(cy)) * (F.col("y") - F.lit(cy))
               for _, cx, cy in cents]
        dmin = F.least(*d2s)
        assign = F.lit(None).cast("long")
        for j in range(len(cents) - 1, -1, -1):
            assign = F.when(d2s[j] == dmin, F.lit(j)).otherwise(assign)
        agg = (lat.select(assign.alias("j"), "x", "y", "w")
               .groupBy("j")
               .agg(F.sum("w").alias("n"),
                    F.sum(F.col("w") * F.col("x")).alias("sx"),
                    F.sum(F.col("w") * F.col("y")).alias("sy"))
               .collect())
        got = {r["j"]: r for r in agg}
        cents = [(j,
                  int(got[j]["sx"]) // int(got[j]["n"]) if j in got else cx,
                  int(got[j]["sy"]) // int(got[j]["n"]) if j in got else cy)
                 for j, cx, cy in cents]
    # final assignment + per-cluster stats under the converged centroids
    d2s = [(F.col("x") - F.lit(cx)) * (F.col("x") - F.lit(cx))
           + (F.col("y") - F.lit(cy)) * (F.col("y") - F.lit(cy))
           for _, cx, cy in cents]
    dmin = F.least(*d2s)
    assign = F.lit(None).cast("long")
    for j in range(len(cents) - 1, -1, -1):
        assign = F.when(d2s[j] == dmin, F.lit(j)).otherwise(assign)
    out = (lat.select(assign.alias("j"), "w", dmin.alias("d2"))
           .groupBy("j")
           .agg(F.sum("w").alias("n_points"),
                F.sum(F.expr("w * d2 div 1000000")).alias("wcss_q")))
    cmap = {j: (cx, cy) for j, cx, cy in cents}
    cent_df = spark.createDataFrame(
        [(j, cx, cy) for j, (cx, cy) in cmap.items()],
        "j long, cx long, cy long")
    return (out.join(F.broadcast(cent_df), "j")
            .select(F.col("j").cast("long").alias("cluster"),
                    F.col("n_points").cast("long").alias("n_points"),
                    (F.col("cx") - 180_000_000).alias("cx_udeg"),
                    (F.col("cy") - 90_000_000).alias("cy_udeg"),
                    F.col("wcss_q").cast("long").alias("wcss_q")))


def _sql_kmeans(n: int) -> str:
    seeds = ", ".join(f"({j}, {cx}, {cy})" for j, cx, cy in _km_init())
    parts = [f"""{_pages_cte(n)},
lat AS (SELECT {_sql_udeg_xy(shift=True)},
               CAST(COUNT(*) AS BIGINT) AS w
        FROM pages GROUP BY 1, 2),
c0(j, cx, cy) AS (VALUES {seeds})"""]
    for r in range(1, KM_ROUNDS + 1):
        parts.append(f"""a{r} AS (
  SELECT x, y, w, j,
         ROW_NUMBER() OVER (PARTITION BY x, y
           ORDER BY (x - cx) * (x - cx) + (y - cy) * (y - cy), j) AS rn
  FROM lat CROSS JOIN c{r - 1})""")
        parts.append(f"""s{r} AS (
  SELECT j, SUM(w) AS n, SUM(w * x) AS sx, SUM(w * y) AS sy
  FROM a{r} WHERE rn = 1 GROUP BY 1)""")
        parts.append(f"""c{r} AS (
  SELECT c.j,
         COALESCE(s.sx // s.n, c.cx) AS cx,
         COALESCE(s.sy // s.n, c.cy) AS cy
  FROM c{r - 1} c LEFT JOIN s{r} s ON s.j = c.j)""")
    parts.append(f"""fin AS (
  SELECT x, y, w, j,
         (x - cx) * (x - cx) + (y - cy) * (y - cy) AS d2,
         ROW_NUMBER() OVER (PARTITION BY x, y
           ORDER BY (x - cx) * (x - cx) + (y - cy) * (y - cy), j) AS rn
  FROM lat CROSS JOIN c{KM_ROUNDS})""")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT CAST(f.j AS BIGINT) AS cluster,
       CAST(SUM(f.w) AS BIGINT) AS n_points,
       CAST(MIN(c.cx) - 180000000 AS BIGINT) AS cx_udeg,
       CAST(MIN(c.cy) - 90000000 AS BIGINT) AS cy_udeg,
       CAST(SUM((f.w * f.d2) // 1000000) AS BIGINT) AS wcss_q
FROM fin f JOIN c{KM_ROUNDS} c ON c.j = f.j
WHERE f.rn = 1 GROUP BY 1""")


def q_iso_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) regression of the daily
    event-volume series via the exact minimax identity
    iso[i] = max_{{j<=i}} min_{{k>=i}} mean(y[j..k]) — the
    order-constrained fit calibration pipelines use, computed without
    PAVA's sequential pooling so it distributes.

    Exactness: means are floored micro-means (P_k - P_{{j-1}}) * 1e6
    div (k - j + 1) over exact prefix sums of NON-NEGATIVE counts, so
    every candidate value is an exact BIGINT; min/max over exact ints
    is engine-independent.  (Floored quantization before min/max
    preserves the minimax order up to the 1e-6 grid — both engines
    apply the identical quantization, the established µdeg-discipline
    trade.)

    Scale plan: the corpus aggregates to the bounded daily series in
    one hash-agg; the (j <= i <= k) triple join runs over #days^3/6
    rows of the TINY lattice (30 days -> ~5k rows) — at planetary
    horizons, window the identity per month with boundary overlap.

    FULL SQL ORACLE (_sql_iso_days)."""
    ev = _events_micros(spark, sf_dir)
    ser = (ev.select(F.expr("tm div 86400000000").alias("d"))
           .groupBy("d").agg(F.count("*").alias("y")))
    wr = Window.orderBy("d")
    r = (ser.select("d", "y",
                    F.row_number().over(wr).alias("i"),
                    F.sum("y").over(
                        wr.rowsBetween(Window.unboundedPreceding, 0))
                    .alias("p"))
         .persist())
    jr = r.select(F.col("i").alias("j"),
                  (F.col("p") - F.col("y")).alias("pj1"))
    kr = r.select(F.col("i").alias("k"), F.col("p").alias("pk"))
    pair = (jr.crossJoin(kr).where(F.col("k") >= F.col("j"))
            .select("j", "k",
                    F.expr("((pk - pj1) * 1000000) div (k - j + 1)")
                    .alias("avg_q")))
    ir = r.select("i", "d", "y")
    tri = (pair.join(ir, (F.col("j") <= F.col("i"))
                     & (F.col("k") >= F.col("i"))))
    inner = (tri.groupBy("i", "d", "y", "j")
             .agg(F.min("avg_q").alias("mn")))
    out = (inner.groupBy("i", "d", "y")
           .agg(F.max("mn").alias("iso_q")))
    # r stays persisted for the action (3 references: jr, kr, ir);
    # bench/driver sessions clear the cache between queries
    return out.select(F.col("d").cast("long").alias("day"),
                      F.col("y").cast("long").alias("y"),
                      F.col("iso_q").cast("long").alias("iso_q"))


def _sql_iso_days() -> str:
    return """WITH ser AS (
  SELECT epoch_us(ts) // 86400000000 AS d, CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1),
r AS (SELECT d, y,
             ROW_NUMBER() OVER (ORDER BY d) AS i,
             SUM(y) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS p
      FROM ser),
pair AS (SELECT j.i AS j, k.i AS k,
                ((k.p - (j.p - j.y)) * 1000000) // (k.i - j.i + 1) AS avg_q
         FROM r j CROSS JOIN r k WHERE k.i >= j.i),
inner_mn AS (SELECT ir.i, ir.d, ir.y, pair.j, MIN(avg_q) AS mn
             FROM pair JOIN r ir ON pair.j <= ir.i AND pair.k >= ir.i
             GROUP BY 1, 2, 3, 4)
SELECT CAST(d AS BIGINT) AS day, y, CAST(MAX(mn) AS BIGINT) AS iso_q
FROM inner_mn GROUP BY 1, 2"""


# decision-stump ensemble: (feature, threshold, weight) — feature 0 =
# n_chars, 1 = ws tokens, 2 = long (>=5 char) tokens; vote +w above the
# threshold, -w at-or-below.  A fixed pretrained model being SCORED at
# corpus scale (the inference half of quality filtering).
QF_STUMPS: list[tuple[int, int, int]] = [
    (0, 150, 3), (0, 250, 1),
    (1, 30, 2), (1, 50, 1),
    (2, 10, 2), (2, 20, 1),
]
QF_SHIFT = 16   # >= sum of weights, keeps shifted scores non-negative


def q_quality_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump ensemble scoring (a fixed, pretrained
    boosted-stumps quality model applied to every document): each
    stump votes +/- its weight on one integer feature, the per-doc
    score is the exact signed sum, and the query emits per-source
    score statistics — model INFERENCE as a pure codegen'd expression,
    no UDF, no shuffle before the 20-row agg.

    Exactness: features and votes are exact ints; the per-source mean
    uses the shift-then-div discipline (scores can be negative; both
    engines floor only non-negative operands).

    FULL SQL ORACLE (_sql_quality_forest)."""
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    feats = [F.length(t).cast("long"),
             F.size(analysis.tokens(t)).cast("long"),
             F.size(F.filter(analysis.tokens(t),
                             lambda tk: F.length(tk) >= 5)).cast("long")]
    score = None
    for f, thr, wgt in QF_STUMPS:
        vote = F.when(feats[f] > thr, F.lit(wgt)).otherwise(F.lit(-wgt))
        score = vote if score is None else score + vote
    per = docs.select("source", score.alias("s"))
    agg = per.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("s").alias("s_score"),
        F.min("s").alias("min_score"),
        F.max("s").alias("max_score"),
        F.sum(F.col("s") + F.lit(QF_SHIFT)).alias("s_shift"))
    return agg.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("s_score").cast("long").alias("s_score"),
        F.col("min_score").cast("long").alias("min_score"),
        F.col("max_score").cast("long").alias("max_score"),
        (F.expr("(1000000 * s_shift) div n_docs")
         - QF_SHIFT * 1_000_000).alias("mean_micro"))


def _sql_quality_forest() -> str:
    toks = _sql_toks()
    fexpr = [
        "CAST(len(text) AS BIGINT)",
        f"CAST(len({toks}) AS BIGINT)",
        f"CAST(len(list_filter({toks}, t -> len(t) >= 5)) AS BIGINT)",
    ]
    votes = " + ".join(
        f"(CASE WHEN {fexpr[f]} > {thr} THEN {wgt} ELSE -{wgt} END)"
        for f, thr, wgt in QF_STUMPS)
    return f"""WITH per AS (
  SELECT source, CAST({votes} AS BIGINT) AS s FROM documents)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(s) AS BIGINT) AS s_score,
       CAST(MIN(s) AS BIGINT) AS min_score,
       CAST(MAX(s) AS BIGINT) AS max_score,
       (1000000 * CAST(SUM(s + {QF_SHIFT}) AS BIGINT)) // COUNT(*)
         - {QF_SHIFT * 1_000_000} AS mean_micro
FROM per GROUP BY 1"""


MS_INIT = 1_000_000_000
MS_ROUNDS = 6


def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain by
    integer-quantized power iteration: pi_{r+1}[t] = sum_f pi_r[f] *
    n(f,t) div row_total(f) over the exact transition counts of
    q_event_transitions — the long-run behavioral mix the chain
    converges to.

    Exactness: the same discipline as graph.py pagerank — BIGINT
    micro-unit iterates, floored per-edge contributions, so any
    partial-agg reorder yields identical units and the unrolled-CTE
    oracle replays every round bit-exactly (floor loss is deliberate
    and identical in both engines).

    Scale plan: ONE corpus shuffle (the per-user LEAD window) produces
    the 5x5 aggregated matrix; all {MS_ROUNDS} rounds run over <= 25
    rows with broadcast joins.

    FULL SQL ORACLE (_sql_markov_stationary)."""
    _, pi = _markov_chain(spark, sf_dir)
    return pi.select(F.col("typ").alias("event_type"),
                     F.col("score").cast("long").alias("stat_q"))


def _markov_chain(spark: SparkSession, sf_dir: str
                  ) -> tuple[DataFrame, DataFrame]:
    """The event-type Markov chain of q_markov_stationary and
    q_entropy_rate: (e, pi) with e = (f, t, n, row_total) the exact
    transition counts and their row totals, and pi = (typ, score) the
    MS_ROUNDS-round quantized power iteration over them.  e and every
    round of pi are localCheckpoint'ed (graph.py's lineage rule): the
    rounds read the 25-row matrix, never the corpus window again."""
    ev = _events_micros(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("tm", "event_id")
    mat = (ev.select("user_id", "event_type", "tm", "event_id",
                     F.lead("event_type").over(w).alias("nxt"))
           .where(F.col("nxt").isNotNull())
           .groupBy(F.col("event_type").alias("f"),
                    F.col("nxt").alias("t"))
           .agg(F.count("*").alias("n")))
    tot = mat.groupBy("f").agg(F.sum("n").alias("row_total"))
    e = mat.join(F.broadcast(tot), "f").localCheckpoint()
    types = e.select(F.col("f").alias("typ")).distinct()
    pi = types.select("typ", F.lit(MS_INIT).cast("long").alias("score"))
    for _ in range(MS_ROUNDS):
        nxt = (e.join(F.broadcast(pi.withColumnRenamed("typ", "f")), "f")
               .select(F.col("t").alias("typ"),
                       F.expr("(score * n) div row_total").alias("c"))
               .groupBy("typ").agg(F.sum("c").alias("m")))
        pi = (types.join(nxt, "typ", "left")
              .select("typ", F.coalesce(F.col("m"), F.lit(0))
                      .cast("long").alias("score"))).localCheckpoint()
    return e, pi


def _sql_markov_chain() -> list[str]:
    """SQL twin of `_markov_chain`: the CTEs e(f, t, n, row_total),
    types(typ) and the power-iteration rounds p0..p{MS_ROUNDS}(typ,
    score)."""
    parts = ["""ev AS (SELECT user_id, event_type, event_id,
             epoch_us(ts) AS tm FROM events)""",
             """mat AS (SELECT event_type AS f,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY tm, event_id) AS t,
               user_id, tm FROM ev)""",
             """e0 AS (SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n
       FROM mat WHERE t IS NOT NULL GROUP BY 1, 2)""",
             """rt AS (SELECT f, CAST(SUM(n) AS BIGINT) AS row_total
       FROM e0 GROUP BY 1)""",
             "e AS (SELECT e0.f, e0.t, e0.n, rt.row_total "
             "FROM e0 JOIN rt USING (f))",
             "types AS (SELECT DISTINCT f AS typ FROM e)",
             f"""p0 AS (SELECT typ, CAST({MS_INIT} AS BIGINT) AS score
       FROM types)"""]
    for r in range(1, MS_ROUNDS + 1):
        parts.append(
            f"""m{r} AS (SELECT e.t AS typ,
        SUM((p.score * e.n) // e.row_total) AS m
 FROM e JOIN p{r - 1} p ON p.typ = e.f GROUP BY 1)""")
        parts.append(
            f"""p{r} AS (SELECT types.typ,
        CAST(COALESCE(m.m, 0) AS BIGINT) AS score
 FROM types LEFT JOIN m{r} m ON m.typ = types.typ)""")
    return parts


def _sql_markov_stationary() -> str:
    return ("WITH " + ",\n".join(_sql_markov_chain())
            + f"\nSELECT typ AS event_type, score AS stat_q FROM p{MS_ROUNDS}")


# ---------------------------------------------------------------------------
# session 24: sequence alignment (DTW / discrete Fréchet), HyperANF
# neighborhood function, dyadic-EWMA burst screen
# ---------------------------------------------------------------------------

def _sql_dp_recursive(combine: str) -> str:
    """Recursive message-passing replay of the three-way DP (shared by
    the DTW and Fréchet oracles; see proj_spark/seqalign.py).

    Each step-s cell posts its value to (i+1, j) ('v') and (i, j+1)
    ('h'), and forwards the value it received from ABOVE — dp(i-1,j-1)
    from (i,j-1)'s perspective — as the diagonal message ('d'); step-s+1
    cells reduce their inbox with MIN.  The join against `cost` bounds
    the recursion: targets beyond a pair's (la, lb) extent match no cost
    row and die.  `combine` is the cell rule: 'd.c + MIN(m.payload)'
    for DTW, 'GREATEST(d.c, MIN(m.payload))' for Fréchet."""
    return f"""dp(ta, tb, i, j, val, up, s) AS (
  SELECT ta, tb, 0, 0, c, CAST(NULL AS BIGINT), 0
  FROM cost WHERE i = 0 AND j = 0
  UNION ALL
  SELECT m.ta, m.tb, m.ti, m.tj,
         {combine},
         MAX(CASE WHEN m.tag = 'v' THEN m.payload END),
         MIN(m.s) + 1
  FROM (
    SELECT u.ta AS ta, u.tb AS tb, u.ti AS ti, u.tj AS tj,
           u.tag AS tag, u.payload AS payload, dp.s AS s
    FROM dp, UNNEST([
      {{'ta': dp.ta, 'tb': dp.tb, 'ti': dp.i + 1, 'tj': dp.j,
        'tag': 'v', 'payload': dp.val}},
      {{'ta': dp.ta, 'tb': dp.tb, 'ti': dp.i, 'tj': dp.j + 1,
        'tag': 'h', 'payload': dp.val}},
      {{'ta': dp.ta, 'tb': dp.tb, 'ti': dp.i, 'tj': dp.j + 1,
        'tag': 'd', 'payload': dp.up}}
    ]) AS t(u)
    WHERE u.payload IS NOT NULL
  ) m JOIN cost d
      ON d.ta = m.ta AND d.tb = m.tb AND d.i = m.ti AND d.j = m.tj
  GROUP BY m.ta, m.tb, m.ti, m.tj, d.c
)"""


def q_dtw_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping distance between the DAILY volume curves of
    every event-type pair (Sakoe & Chiba 1978) — "do purchases follow
    the same temporal shape as views, allowing elastic day shifts?".
    The order-aware companion of the distributional screens (ks_sources
    compares values ignoring order; DTW compares the curves).

    Exactness: costs |y_a(i) - y_b(j)| and the whole DP table are
    BIGINT — sums and min-picks only — so the Arrow kernel and the
    DuckDB recursive message-passing CTE agree bit-for-bit.

    Plan (100 TB shape): ONE corpus shuffle builds the (type, day)
    counts; the day spine, series arrays and all C(T,2) pairs live on
    the aggregated relation (T*|days| rows).  The DP itself is one
    Arrow batch whose inner loop is over the 2L-1 anti-diagonals,
    vectorized across every pair (proj_spark/seqalign.py) — adding
    event types widens the batch, never the loop.

    FULL SQL ORACLE (_sql_dtw_days)."""
    from proj_spark.seqalign import dtw_udf

    ev = _events_micros(spark, sf_dir)
    cnt = (ev.select("event_type", F.expr("tm div 86400000000").alias("day"))
           .groupBy("event_type", "day").agg(F.count("*").alias("y")))
    days = cnt.select("day").distinct()
    types = cnt.select("event_type").distinct()
    ser = (types.crossJoin(days)
           .join(cnt, ["event_type", "day"], "left")
           .select("event_type", "day",
                   F.coalesce(F.col("y"), F.lit(0)).cast("long").alias("y")))
    arr = ser.groupBy("event_type").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("day", "y"))),
                    lambda s: s.y).alias("ys"),
        F.count("*").alias("n_days"))
    a, b = arr.alias("a"), arr.alias("b")
    pairs = a.crossJoin(b).where(F.col("a.event_type") < F.col("b.event_type"))
    out = pairs.select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.n_days").alias("n_days"),
        dtw_udf(F.col("a.ys"), F.col("b.ys")).alias("dtw"))
    return out


def _sql_dtw_days() -> str:
    return f"""WITH RECURSIVE
cnt AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
days AS (SELECT DISTINCT day FROM cnt),
types AS (SELECT DISTINCT event_type FROM cnt),
ser AS (SELECT t.event_type, d.day,
               COALESCE(c.y, 0) AS y,
               ROW_NUMBER() OVER (PARTITION BY t.event_type
                                  ORDER BY d.day) - 1 AS idx
        FROM types t CROSS JOIN days d
        LEFT JOIN cnt c ON c.event_type = t.event_type AND c.day = d.day),
cost AS (SELECT pa.event_type AS ta, pb.event_type AS tb,
                sa.idx AS i, sb.idx AS j, ABS(sa.y - sb.y) AS c
         FROM types pa JOIN types pb ON pa.event_type < pb.event_type
         JOIN ser sa ON sa.event_type = pa.event_type
         JOIN ser sb ON sb.event_type = pb.event_type),
{_sql_dp_recursive('d.c + MIN(m.payload)')},
nd AS (SELECT COUNT(*) AS n FROM days)
SELECT dp.ta AS type_a, dp.tb AS type_b,
       CAST(nd.n AS BIGINT) AS n_days, dp.val AS dtw
FROM dp, nd WHERE dp.i = nd.n - 1 AND dp.j = nd.n - 1"""


FR_DOM_LO, FR_DOM_HI = 500, 507   # same mid-size domains as hausdorff
FR_LEN = 12                       # crawl-path cap (first pages by pid)


def q_frechet_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete FRÉCHET distance between domain crawl paths (Eiter &
    Mannila 1994): the min-over-couplings max-step "dog leash" length
    between each pair of per-domain page trajectories (first {FR_LEN}
    pages by page id, µdeg integer coordinates).  The ORDER-AWARE twin
    of hausdorff_pairs: same squared-µdeg cost, but the coupling must
    walk both paths monotonically, so H(A,B) <= F(A,B) always.

    Exactness: costs are exact BIGINT squared µdeg distances and the
    DP only PICKS (max/min) among them — never sums — so the chosen
    value is engine-independent; ONE double sqrt at the end.

    Plan: the 8-domain path subset is one pruned filter + one window
    sort; pairs and the DP are a 28-row Arrow batch over the capped
    arrays (anti-diagonal sweep, vectorized across pairs).  At corpus
    scale the pair relation grows, the per-pair work stays L^2-capped.

    FULL SQL ORACLE (_sql_frechet_paths)."""
    from proj_spark.seqalign import frechet2_udf

    pts = _points(spark, sf_dir)
    t = (pts.select(F.col("domain").cast("long").alias("dom"),
                    _page_seq().alias("pid"), *_udeg_xy())
         .where((F.col("dom") >= FR_DOM_LO) & (F.col("dom") <= FR_DOM_HI)))
    w = Window.partitionBy("dom").orderBy("pid")
    path = t.withColumn("rn", F.row_number().over(w)) \
            .where(F.col("rn") <= FR_LEN)
    srt = F.array_sort(F.collect_list(F.struct("pid", "x", "y")))
    arr = path.groupBy("dom").agg(
        F.transform(srt, lambda s: s.x).alias("xs"),
        F.transform(srt, lambda s: s.y).alias("ys"),
        F.count("*").alias("plen"))
    a, b = arr.alias("a"), arr.alias("b")
    pairs = a.crossJoin(b).where(F.col("a.dom") < F.col("b.dom"))
    return pairs.select(
        F.col("a.dom").alias("dom_a"), F.col("b.dom").alias("dom_b"),
        F.col("a.plen").alias("len_a"), F.col("b.plen").alias("len_b"),
        F.round(F.sqrt(frechet2_udf(
            F.col("a.xs"), F.col("a.ys"), F.col("b.xs"), F.col("b.ys"))
            .cast("double")), 3).alias("frechet_udeg"))


def _sql_frechet_paths(n: int) -> str:
    return f"""WITH RECURSIVE {_pages_cte(n)},
t AS (SELECT CAST(domain AS BIGINT) AS dom, i AS pid, {_sql_udeg_xy()}
      FROM pages
      WHERE CAST(domain AS BIGINT) BETWEEN {FR_DOM_LO} AND {FR_DOM_HI}),
path AS (SELECT dom, x, y,
                ROW_NUMBER() OVER (PARTITION BY dom ORDER BY pid) - 1 AS idx
         FROM t QUALIFY idx < {FR_LEN}),
plen AS (SELECT dom, COUNT(*) AS l FROM path GROUP BY 1),
cost AS (SELECT pa.dom AS ta, pb.dom AS tb, sa.idx AS i, sb.idx AS j,
                (sa.x - sb.x) * (sa.x - sb.x)
                + (sa.y - sb.y) * (sa.y - sb.y) AS c
         FROM plen pa JOIN plen pb ON pa.dom < pb.dom
         JOIN path sa ON sa.dom = pa.dom
         JOIN path sb ON sb.dom = pb.dom),
{_sql_dp_recursive('GREATEST(d.c, MIN(m.payload))')}
SELECT dp.ta AS dom_a, dp.tb AS dom_b,
       la.l AS len_a, lb.l AS len_b,
       ROUND(SQRT(CAST(dp.val AS DOUBLE)), 3) AS frechet_udeg
FROM dp JOIN plen la ON la.dom = dp.ta JOIN plen lb ON lb.dom = dp.tb
WHERE dp.i = la.l - 1 AND dp.j = lb.l - 1"""


ANF_P = 4                       # 16 registers per node
ANF_M = 1 << ANF_P
ANF_RHO_MAX = 31 - ANF_P + 1    # 28: 27 payload bits, w=0 -> 28
ANF_ROUNDS = 4
ANF_SEED = 77_003
ANF_ALPHA = 0.673               # alpha_16 (Flajolet et al. 2007)
# milli-unit estimate numerator, ONE shared literal in both engines
ANF_NUMQ = repr(ANF_ALPHA * ANF_M * ANF_M * float(1 << ANF_RHO_MAX)
                * 1000.0)


def _anf_rho(h: Column) -> Column:
    w = F.floor(h / F.lit(ANF_M)).cast("long")
    return (F.when(w == 0, F.lit(ANF_RHO_MAX))
            .otherwise(F.lit(ANF_RHO_MAX) - F.length(F.bin(w)))
            .cast("long"))


def _anf_rho_sql(h: str) -> str:
    w = f"(({h}) // {ANF_M})"
    return (f"(CASE WHEN {w} = 0 THEN {ANF_RHO_MAX} "
            f"ELSE {ANF_RHO_MAX} - length(bin({w})) END)")


def q_hyperanf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperANF (Boldi, Rosa & Vigna, WWW 2011): the neighborhood
    function N(r) of the domain link graph — how many (node, reachable
    node) pairs exist within r hops — by propagating per-node HLL
    register sets along edges with register-wise MAX merges.  THE
    web-graph distance-distribution algorithm (it produced the
    "four degrees of separation" Facebook result) and the sketch
    upgrade of the exact-BFS roster (domain_hops/closeness): counters
    become m={ANF_M} registers per node, so the per-round state is
    O(|V| * m) regardless of reachable-set size.

    Exactness: registers are exact integers under MAX-merge (any
    partial-agg reorder yields identical registers — same argument as
    sketches.py HLL); the per-node estimate quantizes to milli-units
    BEFORE the global BIGINT sum, so no float accumulates.

    Plan: |E| stays put; each round is one equi-join (registers onto
    edge heads) + one (node, bucket) hash agg with map-side partial
    MAX.  Register rows per node are capped at m — round cost is
    O(|E| * m) worst case, independent of the true neighborhood sizes
    (the exact-set alternative explodes quadratically on the web
    graph).

    FULL SQL ORACLE (_sql_hyperanf): unrolled rounds over the
    identically re-derived edge set + hash31 registers."""
    from proj_spark.text.curation import hash31

    edges = (_domain_links(spark, sf_dir)
             .groupBy("src", "dst").agg(F.lit(1)).select("src", "dst")
             .persist())
    nodes = spark.range(N_DOMAINS).select(F.col("id").cast("long")
                                          .alias("node"))
    h = hash31(F.col("node") + F.lit(ANF_SEED))
    regs = nodes.select("node", F.pmod(h, F.lit(ANF_M)).alias("bucket"),
                        _anf_rho(h).alias("rho")).persist()

    def summary(r: DataFrame, rnd: int) -> DataFrame:
        per = r.groupBy("node").agg(
            F.count("*").alias("np"),
            F.sum(F.expr(f"CAST(shiftleft(CAST(1 AS BIGINT), "
                         f"CAST({ANF_RHO_MAX} - rho AS INT)) AS BIGINT)"))
            .alias("sp"),
            F.sum("rho").alias("sr"))
        s = (F.col("sp")
             + (F.lit(ANF_M) - F.col("np"))
             * F.lit(1 << ANF_RHO_MAX)).cast("long")
        est = F.floor(F.lit(float(ANF_NUMQ)) / s.cast("double")) \
               .cast("long")
        return per.agg(F.lit(rnd).cast("long").alias("round"),
                       F.sum("np").alias("reg_rows"),
                       F.sum("sr").alias("sum_rho"),
                       F.sum(est).alias("nf_milli"))

    outs = [summary(regs, 0)]
    prev = regs
    for rnd in range(1, ANF_ROUNDS + 1):
        prop = (edges.join(prev.withColumnRenamed("node", "dst"), "dst")
                .select(F.col("src").alias("node"), "bucket", "rho"))
        cur = (prev.unionByName(prop)
               .groupBy("node", "bucket").agg(F.max("rho").alias("rho"))
               .persist())
        outs.append(summary(cur, rnd))
        prev = cur
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _sql_hyperanf(n: int) -> str:
    from proj_spark.text.curation import hash31_sql
    h = hash31_sql(f"node + {ANF_SEED}")
    parts = [f"""{_links_cte(n)},
e AS (SELECT DISTINCT src, dst FROM links),
nodes AS (SELECT range AS node FROM range(0, {N_DOMAINS})),
r0 AS (SELECT node, ({h}) % {ANF_M} AS bucket,
              {_anf_rho_sql(h)} AS rho
       FROM nodes)"""]
    for r in range(1, ANF_ROUNDS + 1):
        parts.append(f"""r{r} AS (
  SELECT node, bucket, MAX(rho) AS rho FROM (
    SELECT node, bucket, rho FROM r{r - 1}
    UNION ALL
    SELECT e.src AS node, p.bucket, p.rho
    FROM e JOIN r{r - 1} p ON p.node = e.dst)
  GROUP BY 1, 2)""")
    summaries = []
    for r in range(ANF_ROUNDS + 1):
        summaries.append(f"""
SELECT CAST({r} AS BIGINT) AS round,
       CAST(SUM(np) AS BIGINT) AS reg_rows,
       CAST(SUM(sr) AS BIGINT) AS sum_rho,
       CAST(SUM(CAST(FLOOR({ANF_NUMQ} / CAST(sp + ({ANF_M} - np)
                 * {1 << ANF_RHO_MAX} AS DOUBLE)) AS BIGINT)) AS BIGINT)
       AS nf_milli
FROM (SELECT node, COUNT(*) AS np,
             SUM(CAST(1 AS BIGINT) << CAST({ANF_RHO_MAX} - rho AS INT))
             AS sp,
             SUM(rho) AS sr
      FROM r{r} GROUP BY 1)""")
    return ("WITH " + ",\n".join(parts)
            + "\nUNION ALL".join(summaries))


EWMA_K = 20                     # dyadic window: weights 2^(K-k), k=1..K
EWMA_BURST_Q = 3_000_000        # burst = count >= 3x the EWMA baseline


def q_ewma_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dyadic-EWMA burst screen over hourly event volume: each hour's
    baseline is the exponentially-weighted mean of its {EWMA_K} prior
    hours with half-life-one weights 2^({EWMA_K}-k) (weight sum
    2^{EWMA_K}-1 exactly), and a burst fires when the hour runs >= 3x
    its own baseline — the online anomaly screen next to the
    retrospective CUSUM changepoint scan.

    Exactness: the truncated-EWMA numerator is an exact BIGINT
    (counts shifted by exact powers of two; absent source hours are
    true zeros and contribute nothing), and the reported ratio is an
    exact floored micro-ratio y * (2^K - 1) * 1e6 div num.

    Plan: ONE corpus shuffle (the hourly agg); the K-offset explode
    multiplies only the aggregated series (|hours| * K rows), and the
    horizon gate comes from a broadcast 1-row min/max aggregate.

    FULL SQL ORACLE (_sql_ewma_hours)."""
    ev = _events_micros(spark, sf_dir)
    ser = _hourly(ev)
    contrib = (ser.withColumn("k", F.explode(F.sequence(
        F.lit(1), F.lit(EWMA_K))))
        .select((F.col("x") + F.col("k")).alias("tx"),
                F.expr(f"CAST(shiftleft(y, CAST({EWMA_K} - k AS INT)) "
                       f"AS BIGINT)").alias("w")))
    base = contrib.groupBy("tx").agg(F.sum("w").alias("num"))
    horizon = ser.agg(F.min("x").alias("x_min"), F.max("x").alias("x_max"))
    wsum = (1 << EWMA_K) - 1
    j = (ser.join(base, ser.x == base.tx)
         .crossJoin(F.broadcast(horizon))
         .where((F.col("x") >= F.col("x_min") + EWMA_K)
                & (F.col("x") <= F.col("x_max"))))
    ratio = F.expr(f"(y * CAST({wsum} AS BIGINT) * 1000000) div num")
    out = j.select("x", "y", "num",
                   F.when(F.col("num") > 0, ratio).alias("ratio_q"),
                   ((F.col("num") > 0)
                    & (ratio >= F.lit(EWMA_BURST_Q))).alias("burst"))
    return out


def _sql_ewma_hours() -> str:
    wsum = (1 << EWMA_K) - 1
    return f"""WITH {_sql_hourly()},
contrib AS (
  SELECT s.x + k.k AS tx, s.y << CAST({EWMA_K} - k.k AS INT) AS w
  FROM ser s CROSS JOIN (SELECT unnest(generate_series(1, {EWMA_K})) AS k) k),
base AS (SELECT tx, CAST(SUM(w) AS BIGINT) AS num FROM contrib GROUP BY 1),
horizon AS (SELECT MIN(x) AS x_min, MAX(x) AS x_max FROM ser)
SELECT s.x, s.y, b.num,
       CASE WHEN b.num > 0
            THEN (s.y * CAST({wsum} AS BIGINT) * 1000000) // b.num
       END AS ratio_q,
       b.num > 0 AND (s.y * CAST({wsum} AS BIGINT) * 1000000) // b.num
                     >= {EWMA_BURST_Q} AS burst
FROM ser s JOIN base b ON s.x = b.tx, horizon
WHERE s.x >= horizon.x_min + {EWMA_K} AND s.x <= horizon.x_max"""


# ---------------------------------------------------------------------------
# session 25 — association mining, trend forecasting, cross-correlation,
# stylometry, weighted sampling, containment, seeded authority, trusses
# ---------------------------------------------------------------------------

CP_MIN_SUPP = 2      # minimum co-occurrence count for a reported pair
CP_TOPK = 100


def q_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: part pairs that co-occur in
    orders, ranked by lift = P(ab) / (P(a)P(b)) — the a-priori
    support/lift screen over the order-lineitem star (Agrawal-Srikant
    VLDB 1994).

    Exactness: supp/na/nb/n_orders are exact counts and lift is the
    exact floored micro-ratio (supp * n_orders * 1e6) div (na * nb) —
    BIGINT throughout (bound: 15k * 15k * 1e6 ~ 2e14 << 2^63).

    Scale plan: the pair explode is the classic quadratic hazard, but
    here it is STRUCTURALLY bounded — pairs materialize per basket and
    a TPC-H order has <= 7 lines (13 in this synthesis), so one basket
    contributes <= C(13,2) = 78 pairs regardless of corpus size; the
    self-equi-join shuffles on orderkey (never a hot key), per-part
    counts broadcast, and the order total travels as a one-row
    relation.  No df-cap needed — the basket IS the cap.

    FULL SQL ORACLE (_sql_copurchase)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    items = (li.select(F.col("l_orderkey").alias("o"),
                       F.col("l_partkey").alias("p"))
             .distinct())
    part_n = items.groupBy("p").agg(F.count("*").alias("n"))
    tot = items.agg(F.countDistinct("o").alias("n_orders"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (a.join(b, (F.col("a.o") == F.col("b.o"))
                    & (F.col("a.p") < F.col("b.p")))
             .groupBy(F.col("a.p").alias("p_a"), F.col("b.p").alias("p_b"))
             .agg(F.count("*").alias("supp"))
             .where(F.col("supp") >= CP_MIN_SUPP))
    na = part_n.select(F.col("p").alias("p_a"), F.col("n").alias("na"))
    nb = part_n.select(F.col("p").alias("p_b"), F.col("n").alias("nb"))
    out = (pairs.join(F.broadcast(na), "p_a").join(F.broadcast(nb), "p_b")
           .crossJoin(F.broadcast(tot))
           .select(F.col("p_a").cast("long").alias("p_a"),
                   F.col("p_b").cast("long").alias("p_b"),
                   F.col("supp").cast("long").alias("supp"),
                   F.col("na").cast("long").alias("na"),
                   F.col("nb").cast("long").alias("nb"),
                   F.expr("(supp * n_orders * 1000000) div (na * nb)")
                   .cast("long").alias("lift_q")))
    return (out.orderBy(F.col("lift_q").desc(), "p_a", "p_b")
            .limit(CP_TOPK))


def _sql_copurchase() -> str:
    return f"""WITH items AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
pn AS (SELECT p, COUNT(*) AS n FROM items GROUP BY 1),
tot AS (SELECT COUNT(DISTINCT o) AS n_orders FROM items),
pairs AS (
  SELECT a.p AS p_a, b.p AS p_b, COUNT(*) AS supp
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= {CP_MIN_SUPP})
SELECT CAST(pairs.p_a AS BIGINT) AS p_a, CAST(pairs.p_b AS BIGINT) AS p_b,
       CAST(supp AS BIGINT) AS supp,
       CAST(na.n AS BIGINT) AS na, CAST(nb.n AS BIGINT) AS nb,
       CAST((supp * tot.n_orders * 1000000) // (na.n * nb.n) AS BIGINT)
         AS lift_q
FROM pairs JOIN pn na ON na.p = pairs.p_a JOIN pn nb ON nb.p = pairs.p_b, tot
ORDER BY lift_q DESC, p_a, p_b LIMIT {CP_TOPK}"""


HOLT_K = 12   # dyadic window for both smoothing stages (span 2K = 24 h)


def q_holt_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown linear-exponential-smoothing forecast of hourly event
    volume (Brown 1959 double smoothing): S1 = EWMA(y), S2 = EWMA(S1),
    level L = 2*S1 - S2, trend B = (alpha/(1-alpha))(S1 - S2); with
    alpha = 1/2 the one-step forecast is F = L + B = 3*S1 - 2*S2 — the
    trend-aware upgrade of the level-only q_ewma_hours screen.

    Exactness: both smoothing stages collapse to ONE exact integer
    convolution.  With truncated dyadic weights 2^(K-k) (sum W = 2^K-1),
    S1num_t = sum_k 2^(K-k) y_{t-k}, and the double smoothing's
    combined lag-j weight is 2^(2K-j) * m_j with m_j = min(K, j-1) -
    max(1, j-K) + 1 (the k-sum telescopes: 2^(K-k) * 2^(K-(j-k)) is
    constant in k), so S2num_t = sum_j 2^(2K-j) m_j y_{t-j} in units
    W^2 — every number BIGINT, absent hours true zeros, and
    fnum = 3*W*S1num - 2*S2num is engine-order-independent.

    Plan: ONE corpus shuffle (the hourly agg); both convolutions are
    explodes of the aggregated series (|hours| * K and * 2K rows), the
    horizon gate a broadcast one-row min/max.

    FULL SQL ORACLE (_sql_holt_hours)."""
    K = HOLT_K
    ev = _events_micros(spark, sf_dir)
    ser = _hourly(ev)
    c1 = (ser.withColumn("k", F.explode(F.sequence(F.lit(1), F.lit(K))))
          .select((F.col("x") + F.col("k")).alias("tx"),
                  F.expr(f"CAST(shiftleft(y, CAST({K} - k AS INT)) "
                         f"AS BIGINT)").alias("w")))
    s1 = c1.groupBy("tx").agg(F.sum("w").alias("s1num"))
    c2 = (ser.withColumn("j", F.explode(F.sequence(F.lit(2),
                                                   F.lit(2 * K))))
          .select((F.col("x") + F.col("j")).alias("tx"),
                  F.expr(f"y * shiftleft(CAST(least({K}, j - 1) "
                         f"- greatest(1, j - {K}) + 1 AS BIGINT), "
                         f"CAST(2 * {K} - j AS INT))").alias("w")))
    s2 = c2.groupBy("tx").agg(F.sum("w").alias("s2num"))
    horizon = ser.agg(F.min("x").alias("x_min"), F.max("x").alias("x_max"))
    w = (1 << K) - 1
    j = (ser.join(s1, ser.x == s1.tx, "left").drop("tx")
         .join(s2, ser.x == s2.tx, "left").drop("tx")
         .crossJoin(F.broadcast(horizon))
         .where((F.col("x") >= F.col("x_min") + 2 * K)
                & (F.col("x") <= F.col("x_max")))
         .select("x", "y",
                 F.coalesce("s1num", F.lit(0)).alias("s1num"),
                 F.coalesce("s2num", F.lit(0)).alias("s2num")))
    fnum = (F.lit(3 * w) * F.col("s1num") - F.lit(2) * F.col("s2num"))
    out = j.select(
        "x", "y", "s1num", "s2num",
        fnum.cast("long").alias("fnum"),
        F.expr(f"(({3 * w} * s1num - 2 * s2num) * 1000000) "
               f"div {w * w}").cast("long").alias("forecast_q"))
    return out


def _sql_holt_hours() -> str:
    K = HOLT_K
    w = (1 << K) - 1
    return f"""WITH {_sql_hourly()},
c1 AS (
  SELECT s.x + k.k AS tx, s.y << CAST({K} - k.k AS INT) AS w
  FROM ser s CROSS JOIN (SELECT unnest(generate_series(1, {K})) AS k) k),
s1 AS (SELECT tx, CAST(SUM(w) AS BIGINT) AS s1num FROM c1 GROUP BY 1),
c2 AS (
  SELECT s.x + j.j AS tx,
         s.y * (CAST(LEAST({K}, j.j - 1) - GREATEST(1, j.j - {K}) + 1
                AS BIGINT) << CAST(2 * {K} - j.j AS INT)) AS w
  FROM ser s CROSS JOIN (SELECT unnest(generate_series(2, {2 * K})) AS j) j),
s2 AS (SELECT tx, CAST(SUM(w) AS BIGINT) AS s2num FROM c2 GROUP BY 1),
horizon AS (SELECT MIN(x) AS x_min, MAX(x) AS x_max FROM ser)
SELECT s.x, s.y,
       CAST(COALESCE(s1.s1num, 0) AS BIGINT) AS s1num,
       CAST(COALESCE(s2.s2num, 0) AS BIGINT) AS s2num,
       CAST({3 * w} * COALESCE(s1.s1num, 0)
            - 2 * COALESCE(s2.s2num, 0) AS BIGINT) AS fnum,
       CAST((({3 * w} * COALESCE(s1.s1num, 0)
              - 2 * COALESCE(s2.s2num, 0)) * 1000000) // {w * w}
            AS BIGINT) AS forecast_q
FROM ser s LEFT JOIN s1 ON s1.tx = s.x LEFT JOIN s2 ON s2.tx = s.x, horizon
WHERE s.x >= horizon.x_min + {2 * K} AND s.x <= horizon.x_max"""


CCF_MAX_LAG = 6


def q_ccf_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the two highest-volume event
    types' hourly series — does type A's volume lead type B's?  The
    cross-type companion of the single-series q_acf_hours screen.

    Exactness: for each lag l in 0..{CCF_MAX_LAG}, the sufficient
    statistics (n, sxy, sx, sy, sxx, syy) over the zero-filled common
    horizon are exact BIGINTs; Pearson r is then ONE fixed float
    expression num / sqrt(dx * dy) from those integers (the
    q_assortativity discipline — num^2 would overflow BIGINT at sf0.1,
    the float form is engine-portable at 7 rows).

    Plan: one corpus shuffle builds the (type, hour) counts; the type
    ranking, hour spine (sequence + explode of a one-row min/max), the
    zero-fill joins and the lag explode all live on the tiny aggregated
    relation.

    FULL SQL ORACLE (_sql_ccf_types)."""
    ev = _events_micros(spark, sf_dir)
    ser = _hourly(ev, "event_type")
    ranked = (ser.groupBy("event_type").agg(F.sum("y").alias("n_tot"))
              .withColumn("rk", F.row_number().over(
                  Window.orderBy(F.col("n_tot").desc(), "event_type"))))
    ta = ranked.where(F.col("rk") == 1).select(
        F.col("event_type").alias("type_a"))
    tb = ranked.where(F.col("rk") == 2).select(
        F.col("event_type").alias("type_b"))
    pair = ser.join(F.broadcast(ta), ser.event_type == F.col("type_a"),
                    "left").join(
        F.broadcast(tb), ser.event_type == F.col("type_b"), "left")
    ab = pair.where(F.col("type_a").isNotNull()
                    | F.col("type_b").isNotNull())
    hor = ab.agg(F.min("x").alias("x_min"), F.max("x").alias("x_max"))
    spine = (hor.select(F.explode(F.sequence("x_min", "x_max")).alias("t"),
                        "x_min", "x_max"))
    sa = ab.where(F.col("type_a").isNotNull()).select("x", "y")
    sb = ab.where(F.col("type_b").isNotNull()).select(
        F.col("x").alias("xb"), F.col("y").alias("yb"))
    lag = spine.withColumn("lag", F.explode(
        F.sequence(F.lit(0), F.lit(CCF_MAX_LAG))))
    g = (lag.where(F.col("t") >= F.col("x_min") + F.col("lag"))
         .join(sa, lag.t == sa.x, "left")
         .join(sb, lag.t - F.col("lag") == sb.xb, "left")
         .select("lag",
                 F.coalesce("y", F.lit(0)).alias("ya"),
                 F.coalesce("yb", F.lit(0)).alias("yb")))
    agg = g.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("ya").alias("sx"), F.sum("yb").alias("sy"),
        F.sum(F.col("ya") * F.col("yb")).alias("sxy"),
        F.sum(F.col("ya") * F.col("ya")).alias("sxx"),
        F.sum(F.col("yb") * F.col("yb")).alias("syy"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    out = agg.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n"),
        num.cast("long").alias("num"),
        dx.cast("long").alias("dx"),
        dy.cast("long").alias("dy"),
        F.when((dx > 0) & (dy > 0),
               F.round(num.cast("double")
                       / F.sqrt(dx.cast("double") * dy.cast("double")), 6))
        .alias("r"))
    return out


def _sql_ccf_types() -> str:
    return f"""WITH {_sql_hourly(key="event_type")},
ranked AS (
  SELECT event_type, ROW_NUMBER() OVER (ORDER BY SUM(y) DESC, event_type)
           AS rk
  FROM ser GROUP BY event_type),
ab AS (SELECT s.*, r.rk FROM ser s JOIN ranked r USING (event_type)
       WHERE r.rk <= 2),
hor AS (SELECT MIN(x) AS x_min, MAX(x) AS x_max FROM ab),
spine AS (SELECT unnest(generate_series(x_min, x_max)) AS t, x_min
          FROM hor),
lagged AS (SELECT t, x_min, unnest(generate_series(0, {CCF_MAX_LAG})) AS lag
           FROM spine),
g AS (
  SELECT l.lag, COALESCE(a.y, 0) AS ya, COALESCE(b.y, 0) AS yb
  FROM lagged l
  LEFT JOIN (SELECT x, y FROM ab WHERE rk = 1) a ON a.x = l.t
  LEFT JOIN (SELECT x, y FROM ab WHERE rk = 2) b ON b.x = l.t - l.lag
  WHERE l.t >= l.x_min + l.lag),
agg AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(ya) AS BIGINT) AS sx, CAST(SUM(yb) AS BIGINT) AS sy,
         CAST(SUM(ya * yb) AS BIGINT) AS sxy,
         CAST(SUM(ya * ya) AS BIGINT) AS sxx,
         CAST(SUM(yb * yb) AS BIGINT) AS syy
  FROM g GROUP BY 1)
SELECT CAST(lag AS BIGINT) AS lag, n,
       CAST(n * sxy - sx * sy AS BIGINT) AS num,
       CAST(n * sxx - sx * sx AS BIGINT) AS dx,
       CAST(n * syy - sy * sy AS BIGINT) AS dy,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE)), 6)
       END AS r
FROM agg"""


STYLO_M = 30          # function-word vocabulary: global top-M tokens
STYLO_FSCALE = 1_000_000   # per-source relative frequency quantization
STYLO_TSCALE = 1_000       # per-word delta term quantization


def q_stylometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic Burrows' Delta between sources: authorship-attribution
    distance over function-word frequency profiles (Burrows LLC 2002;
    the squared variant is Argamon's probabilistic reformulation, which
    keeps the whole statistic in exact integer algebra — no sqrt).

    For the global top-{STYLO_M} tokens, each source's relative
    frequency is quantized ONCE to an exact floored micro-ratio f =
    (cnt * 1e6) div total; the cross-source variance numerator
    varnum_w = S * sum(f^2) - (sum f)^2 is exact BIGINT, and the pair
    distance is delta_q = sum_w ((f_a - f_b)^2 * S * 1000) div varnum_w
    — a sum of per-word floored integers, engine-order-independent
    (bound: 1e12 * 20 * 1e3 = 2e16 << 2^63).

    Plan: one token-explode shuffle to (source, token) counts; the
    vocabulary (top-M), per-source totals, the S-row x M-word matrix,
    the variance relation and the S^2/2-pair self-join all live on
    KB-sized aggregates (at any corpus scale: sources x vocab is fixed).

    FULL SQL ORACLE (_sql_stylometry)."""
    docs = _docs(spark, sf_dir)
    tok = docs.select("source", F.explode(
        analysis.tokens(F.lower(F.col("text")))).alias("token"))
    cnt = tok.groupBy("source", "token").agg(F.count("*").alias("c"))
    totals = cnt.groupBy("source").agg(F.sum("c").alias("t"))
    vocab = (cnt.groupBy("token").agg(F.sum("c").alias("g"))
             .orderBy(F.col("g").desc(), "token").limit(STYLO_M)
             .select("token"))
    ns = totals.agg(F.count("*").alias("s_cnt"))
    cells = (totals.crossJoin(F.broadcast(vocab))
             .join(cnt, ["source", "token"], "left")
             .select("source", "token",
                     F.expr(f"(coalesce(c, 0) * {STYLO_FSCALE}) div t")
                     .alias("f")))
    var = (cells.groupBy("token")
           .agg(F.sum("f").alias("sf"),
                F.sum(F.col("f") * F.col("f")).alias("sff"))
           .crossJoin(F.broadcast(ns))
           .select("token",
                   (F.col("s_cnt") * F.col("sff")
                    - F.col("sf") * F.col("sf")).alias("varnum"))
           .where(F.col("varnum") > 0))
    a = cells.select(F.col("source").alias("src_a"), "token",
                     F.col("f").alias("fa"))
    b = cells.select(F.col("source").alias("src_b"), "token",
                     F.col("f").alias("fb"))
    pairs = (a.join(b, "token").where(F.col("src_a") < F.col("src_b"))
             .join(F.broadcast(var), "token")
             .crossJoin(F.broadcast(ns)))
    term = F.expr(
        f"((fa - fb) * (fa - fb) * s_cnt * {STYLO_TSCALE}) div varnum")
    out = (pairs.groupBy("src_a", "src_b")
           .agg(F.count("*").alias("n_w"),
                F.sum(term).alias("delta_q"))
           .select("src_a", "src_b",
                   F.col("n_w").cast("long").alias("n_w"),
                   F.col("delta_q").cast("long").alias("delta_q")))
    return out


def _sql_stylometry() -> str:
    return f"""WITH tok AS (
  SELECT source,
         unnest({_SQL_TOKS}) AS token
  FROM documents),
cnt AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2),
totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
vocab AS (SELECT token FROM cnt GROUP BY token
          ORDER BY SUM(c) DESC, token LIMIT {STYLO_M}),
ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS s_cnt FROM totals),
cells AS (
  SELECT totals.source, vocab.token,
         (COALESCE(cnt.c, 0) * {STYLO_FSCALE}) // totals.t AS f
  FROM totals CROSS JOIN vocab
  LEFT JOIN cnt ON cnt.source = totals.source AND cnt.token = vocab.token),
var AS (
  SELECT token, ns.s_cnt * SUM(f * f) - SUM(f) * SUM(f) AS varnum
  FROM cells, ns GROUP BY token, ns.s_cnt
  HAVING ns.s_cnt * SUM(f * f) - SUM(f) * SUM(f) > 0)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(COUNT(*) AS BIGINT) AS n_w,
       CAST(SUM(((a.f - b.f) * (a.f - b.f) * ns.s_cnt * {STYLO_TSCALE})
                // var.varnum) AS BIGINT) AS delta_q
FROM cells a
JOIN cells b ON a.token = b.token AND a.source < b.source
JOIN var ON var.token = a.token, ns
GROUP BY 1, 2"""


WS_K = 100        # sample size target
WS_BUCKET = 128   # doc_id bucket width for the distributed prefix sum


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional systematic sample of documents
    — the data-mixing primitive (sample K docs with probability
    proportional to length) that LLM corpus assembly runs constantly.

    Semantics: docs ordered by doc_id carry cumulative weight cum; doc
    d is selected iff the interval ((cum-w)*K div tot, cum*K div tot]
    contains an integer boundary — i.e. iff floor crosses.  Exactly K
    distinct docs when no single weight exceeds tot/K (a doc spanning
    multiple boundaries is emitted once); all arithmetic exact BIGINT,
    so the sample is reproducible bit-for-bit across engines and runs.

    Scale plan: a naive `Window.orderBy(doc_id)` prefix sum is a
    SINGLE-TASK global sort — the classic window scale-trap.  Instead
    the standard two-level decomposition: (1) per-bucket partial sums
    (one map-side-combinable agg over doc_id div {WS_BUCKET}), (2) a
    running total over the tiny bucket relation, (3) the intra-bucket
    window PARTITIONED BY bucket + the broadcast bucket offsets.  No
    stage ever sees more than one bucket in one task.

    FULL SQL ORACLE (_sql_weighted_sample) — a plain single-window
    cumsum; the bucket decomposition is exact so values agree."""
    docs = (_docs(spark, sf_dir)
            .select("doc_id", F.col("n_chars").cast("long").alias("w"),
                    F.expr(f"doc_id div {WS_BUCKET}").alias("bkt")))
    b_sum = docs.groupBy("bkt").agg(F.sum("w").alias("bw"))
    b_off = b_sum.select(
        "bkt",
        (F.sum("bw").over(Window.orderBy("bkt")
                          .rowsBetween(Window.unboundedPreceding, 0))
         - F.col("bw")).alias("off"))
    tot = docs.agg(F.sum("w").alias("tot"))
    intra = docs.withColumn(
        "cum_in",
        F.sum("w").over(Window.partitionBy("bkt").orderBy("doc_id")
                        .rowsBetween(Window.unboundedPreceding, 0)))
    cum = (intra.join(F.broadcast(b_off), "bkt")
           .crossJoin(F.broadcast(tot))
           .select("doc_id", "w", (F.col("off") + F.col("cum_in"))
                   .alias("cum"), "tot"))
    sel = cum.where(
        F.expr(f"(cum * {WS_K}) div tot > ((cum - w) * {WS_K}) div tot"))
    return sel.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("w").cast("long").alias("w"),
        F.col("cum").cast("long").alias("cum"),
        F.expr(f"(cum * {WS_K}) div tot").cast("long").alias("slot"))


def _sql_weighted_sample() -> str:
    return f"""WITH cum AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         CAST(SUM(n_chars) OVER (ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(SUM(n_chars) OVER () AS BIGINT) AS tot
  FROM documents)
SELECT doc_id, w, cum, CAST((cum * {WS_K}) // tot AS BIGINT) AS slot
FROM cum
WHERE (cum * {WS_K}) // tot > ((cum - w) * {WS_K}) // tot"""


CONT_NUM, CONT_DEN = 3, 5   # containment gate: max-direction >= 3/5


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment: pairs where one document's
    shingle set is largely INSIDE the other's — C(a in b) =
    |S_a cap S_b| / |S_a| (Broder 1997's containment, the quote /
    subset-extraction screen that symmetric Jaccard misses: a short
    doc quoted verbatim by a long one has high containment but low
    Jaccard).

    Exactness: n_inter/na/nb are exact set counts over the df-capped
    shingle vocabulary (shared with ngram_pairs — see _capped_shingles)
    and both directional containments are exact floored micro-ratios;
    the gate max(C_ab, C_ba) >= {CONT_NUM}/{CONT_DEN} is evaluated in
    integers (n_inter * {CONT_DEN} >= {CONT_NUM} * least(na, nb)).

    Plan: _ngram_jaccard's _shingle_overlap (shuffle-on-shingle with
    the document-frequency cap bounding per-key pair fan-out);
    the plan-keyed cache shares ONE materialized shingle relation with
    ngram_pairs/dedup_groups when they run in the same session.

    FULL SQL ORACLE (_sql_containment)."""
    j = _shingle_overlap(spark, sf_dir).where(
        F.expr(f"n_inter * {CONT_DEN} >= {CONT_NUM} * least(na, nb)"))
    return j.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("n_inter").cast("long").alias("n_inter"),
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
        F.expr("(n_inter * 1000000) div na").cast("long").alias("cont_a_q"),
        F.expr("(n_inter * 1000000) div nb").cast("long").alias("cont_b_q"))


def _sql_containment() -> str:
    return f"""WITH {_ngram_cte()}
SELECT inter.id_a, inter.id_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(sa.n_sh AS BIGINT) AS na, CAST(sb.n_sh AS BIGINT) AS nb,
       CAST((n_inter * 1000000) // sa.n_sh AS BIGINT) AS cont_a_q,
       CAST((n_inter * 1000000) // sb.n_sh AS BIGINT) AS cont_b_q
FROM inter
JOIN sizes sa ON sa.doc_id = inter.id_a
JOIN sizes sb ON sb.doc_id = inter.id_b
WHERE n_inter * {CONT_DEN} >= {CONT_NUM} * LEAST(sa.n_sh, sb.n_sh)"""


PPR_TOPK = 50


def q_ppr_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the BFS seed domains (domain % 97 ==
    0): "domains related to THESE" rather than global authority —
    topic-sensitive ranking (Haveliwala WWW 2002) over the same
    deterministic link graph as q_pagerank_domains.

    Exact quantized-integer mass propagation (proj_spark/graph.py
    pagerank with the seeds as its teleport set):
    the rank relation stays SPARSE (seeds + reached nodes only), which
    is the scale argument for PPR — the frontier is tiny next to a
    10^12-page graph, and each of the {PR_ITERS} rounds is one
    broadcast join + hash agg with the teleport as a FULL OUTER join
    of two small relations.

    FULL SQL ORACLE (_sql_ppr_domains): the identical rounds unrolled
    as CTEs (graph.py pagerank_sql)."""
    from proj_spark.graph import pagerank
    edges = (_domain_links(spark, sf_dir)
             .groupBy("src", "dst").agg(F.count("*").alias("w")))
    seeds = (spark.range(N_DOMAINS).select(F.col("id").alias("node"))
             .where(F.col("node") % BFS_SEED_MOD == 0))
    pr = pagerank(edges, seeds, iters=PR_ITERS)
    return (pr.select(F.col("node").cast("long").alias("domain"), "score")
            .orderBy(F.col("score").desc(), "domain").limit(PPR_TOPK))


def _sql_ppr_domains(n: int) -> str:
    from proj_spark.graph import pagerank_sql
    edges_cte = f"""{_links_cte(n)},
e AS (SELECT src, dst, COUNT(*) AS w FROM links GROUP BY 1, 2)"""
    teleport_cte = (f"teleport AS (SELECT range AS node "
                    f"FROM range(0, {N_DOMAINS}) "
                    f"WHERE range % {BFS_SEED_MOD} = 0)")
    body = pagerank_sql(edges_cte, teleport_cte, iters=PR_ITERS)
    return (body.replace("SELECT node, score FROM",
                         "SELECT node AS domain, score FROM")
            + f"\nORDER BY score DESC, domain LIMIT {PPR_TOPK}")


TRUSS_SAMPLE_MOD = 8   # heavier DOULION sample than kcore: the wedge
TRUSS_ROUNDS = 3       # join is the quadratic hazard, not the degree agg


def q_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truss decomposition (bounded rounds): the subgraph of domain
    links whose every edge sits in enough triangles — the edge-centric
    dense-community primitive one notch stronger than q_kcore (an edge
    in a k-truss connects nodes of a (k-1)-core, never conversely).

    The support threshold derives from the data (mean round-1 support
    + 1, exact integer division), as kcore's k does, so it tracks the
    densifying synthetic graph instead of a FIXED k.  It does not make
    the peel bite at every scale: 306 edges survive at sf0.01, but at
    sf0.1 the threshold peels every edge and the result is empty.

    Scale plan (proj_spark/graph.py truss_peel): per round ONE wedge
    self-join + hash agg + broadcast threshold filter, lazily chained
    off a localCheckpoint; the DOULION hash-sample (mod
    {TRUSS_SAMPLE_MOD}) bounds the wedge volume the way q_triangles'
    sample does.

    FULL SQL ORACLE (_sql_truss): the peel unrolled as CTE triples."""
    from proj_spark.graph import truss_peel, truss_support
    und = undirected(_domain_links(spark, sf_dir),
                     TRUSS_SAMPLE_MOD).persist()
    sup1 = truss_support(und).persist()
    k = (sup1.agg(F.expr("sum(support) div count(*) + 1")
                  .cast("long").alias("kval"))
         .localCheckpoint(eager=True))
    out = truss_peel(und, k, rounds=TRUSS_ROUNDS, first_support=sup1)
    sup1.unpersist()
    und.unpersist()
    return out.select(F.col("a").cast("long").alias("domain_a"),
                      F.col("b").cast("long").alias("domain_b"),
                      F.col("support").cast("long").alias("support"))


def _sql_truss(n: int) -> str:
    from proj_spark.graph import truss_sql
    und_cte = f"""{_links_cte(n)},
{_sql_und(TRUSS_SAMPLE_MOD, "e0")}"""
    kv_cte = "kv AS (SELECT SUM(support) // COUNT(*) + 1 AS kval FROM sup1)"
    body = truss_sql(und_cte, kv_cte, rounds=TRUSS_ROUNDS)
    return (f"SELECT CAST(a AS BIGINT) AS domain_a, "
            f"CAST(b AS BIGINT) AS domain_b, "
            f"CAST(support AS BIGINT) AS support FROM ({body})")


# ---------------------------------------------------------------------------
# session 26 — bounded betweenness, sequence mining, rank fusion,
# spatial interaction, keyphrase extraction
# ---------------------------------------------------------------------------

BC_SRC_MOD = 211   # betweenness source sample: domains % 211 == 0 (5)
BC_DEPTH = 3


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-bounded sampled-source betweenness centrality over the
    directed domain link graph (Brandes 2001 forward/backward passes,
    truncated at {BC_DEPTH} hops, sources sampled deterministically —
    Brandes-Pich 2007): which domains sit ON the shortest paths, the
    brokerage complement of pagerank's authority.

    Exactness + scale plan in proj_spark/graph.py betweenness_bounded:
    exact BIGINT path counts, per-edge floored dependency terms, one
    equi-join + hash agg per level with localCheckpoint lineage cuts.

    FULL SQL ORACLE (_sql_betweenness): forward/backward levels
    unrolled as CTEs (graph.py betweenness_sql)."""
    from proj_spark.graph import betweenness_bounded
    edges = (_domain_links(spark, sf_dir).distinct()
             .select(F.col("src").alias("u"), F.col("dst").alias("v")))
    sources = (spark.range(N_DOMAINS).select(F.col("id").alias("s"))
               .where(F.col("id") % BC_SRC_MOD == 0))
    out = betweenness_bounded(edges, sources, depth=BC_DEPTH)
    return out.select(F.col("node").cast("long").alias("domain"),
                      F.col("bc_q").cast("long").alias("bc_q"))


def _sql_betweenness(n: int) -> str:
    from proj_spark.graph import betweenness_sql
    edges_cte = f"""{_links_cte(n)},
e AS (SELECT DISTINCT src AS u, dst AS w FROM links)"""
    sources_cte = (f"sources AS (SELECT range AS s FROM "
                   f"range(0, {N_DOMAINS}) WHERE range % {BC_SRC_MOD} = 0)")
    body = betweenness_sql(edges_cte, sources_cte, depth=BC_DEPTH)
    return body.replace(
        "SELECT v AS node, CAST(SUM(delta) AS BIGINT) AS bc_q",
        "SELECT CAST(v AS BIGINT) AS domain, "
        "CAST(SUM(delta) AS BIGINT) AS bc_q")


TRI3_TOPK = 20


def q_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining: the most frequent contiguous
    3-event-type sequences per user session stream — the "what do
    users DO next" screen next to the 1-step event_transitions Markov
    matrix (a length-3 special case of frequent-subsequence mining).

    Exactness: ordering within a user is total ((tm, event_id)
    tiebreak), so the lead-window triples are deterministic and the
    counts exact.

    Plan: ONE shuffle (partition by user), two lead windows inside each
    partition, one map-side-combinable count agg, TakeOrdered top-k —
    the window never sees more than one user's events in one task.

    FULL SQL ORACLE (_sql_event_trigrams)."""
    ev = _events_micros(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("tm", "event_id")
    tri = (ev.select(F.col("event_type").alias("t1"),
                     F.lead("event_type", 1).over(w).alias("t2"),
                     F.lead("event_type", 2).over(w).alias("t3"))
           .where(F.col("t2").isNotNull() & F.col("t3").isNotNull()))
    return (tri.groupBy("t1", "t2", "t3").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), "t1", "t2", "t3")
            .limit(TRI3_TOPK))


def _sql_event_trigrams() -> str:
    return f"""WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS tm, event_id FROM events),
tri AS (
  SELECT event_type AS t1,
         LEAD(event_type, 1) OVER w AS t2,
         LEAD(event_type, 2) OVER w AS t3
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tm, event_id))
SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
FROM tri WHERE t2 IS NOT NULL AND t3 IS NOT NULL
GROUP BY 1, 2, 3 ORDER BY n DESC, t1, t2, t3 LIMIT {TRI3_TOPK}"""


RRF_R = 100      # per-list truncation depth
RRF_KC = 60      # the standard RRF damping constant
RRF_TOPK = 30


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack-Clarke-Buettcher SIGIR 2009) of
    two document rankings — BM25 relevance (the q_bm25_topk scorer)
    fused with a length prior (n_chars desc) — the standard way
    retrieval pipelines combine heterogeneous scorers without score
    calibration: RRF(d) = sum_lists 1/(k + rank_d).

    Exactness: each reciprocal term is the exact floored micro-ratio
    1e6 div ({RRF_KC} + rank); a document absent from a truncated list
    contributes 0 (the standard top-R convention).

    Plan: both lists are TakeOrdered top-{RRF_R} — no global sort of
    the corpus; the rank windows run over the tiny truncated lists,
    and the fusion is one full-outer join of two 100-row relations.

    FULL SQL ORACLE (_sql_rrf_fusion)."""
    docs = _docs(spark, sf_dir)
    t = docs.select("doc_id",
                    analysis.tokens(F.lower(F.col("text"))).alias("a"))
    tf = (t.select("doc_id", F.explode("a").alias("tok"))
          .groupBy("doc_id", "tok").agg(F.count("*").alias("tf")))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    tot = dl.agg(F.count("*").alias("nn"), F.sum("dl").alias("s"))
    dfr = tf.groupBy("tok").agg(F.count("*").alias("df"))
    q = (dfr.where(F.length("tok") >= BM25_MINLEN)
         .orderBy(F.col("df").desc(), "tok").limit(BM25_QK))
    m = (tf.join(F.broadcast(q), "tok").join(dl, "doc_id")
         .crossJoin(F.broadcast(tot)))
    sm = F.expr(
        "((1000000 * (2*nn - 2*df + 1)) div (2*df + 1))"
        " * ((1000000 * 6 * tf * s) div (2*tf*s + s + 3*dl*nn))"
        " div 1000000")
    bm = (m.select("doc_id", sm.alias("sm"))
          .groupBy("doc_id").agg(F.sum("sm").alias("score_micro"))
          .orderBy(F.col("score_micro").desc(), "doc_id").limit(RRF_R)
          .withColumn("r1", F.row_number().over(
              Window.orderBy(F.col("score_micro").desc(), "doc_id")))
          .select("doc_id", "r1"))
    ln = (docs.select("doc_id", "n_chars")
          .orderBy(F.col("n_chars").desc(), "doc_id").limit(RRF_R)
          .withColumn("r2", F.row_number().over(
              Window.orderBy(F.col("n_chars").desc(), "doc_id")))
          .select("doc_id", "r2"))
    fused = (bm.join(ln, "doc_id", "full_outer")
             .select("doc_id", "r1", "r2",
                     (F.coalesce(F.expr(f"1000000 div ({RRF_KC} + r1)"),
                                 F.lit(0))
                      + F.coalesce(F.expr(f"1000000 div ({RRF_KC} + r2)"),
                                   F.lit(0))).alias("rrf_q")))
    out = (fused.orderBy(F.col("rrf_q").desc(), "doc_id").limit(RRF_TOPK)
           .select(F.col("doc_id").cast("long").alias("doc_id"),
                   F.col("r1").cast("long").alias("r1"),
                   F.col("r2").cast("long").alias("r2"),
                   F.col("rrf_q").cast("long").alias("rrf_q")))
    return out


def _sql_rrf_fusion() -> str:
    return f"""WITH t AS (SELECT doc_id, {_SQL_TOKS} AS a FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM (
         SELECT doc_id, unnest(a) AS tok FROM t) GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
               CAST(SUM(dl) AS BIGINT) AS s FROM dl),
dfr AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
q AS (SELECT tok, df FROM dfr WHERE length(tok) >= {BM25_MINLEN}
      ORDER BY df DESC, tok LIMIT {BM25_QK}),
sc AS (SELECT tf.doc_id,
              ((1000000 * (2*nn - 2*df + 1)) // (2*df + 1))
              * ((1000000 * 6 * tf * s) // (2*tf*s + s + 3*dl*nn))
              // 1000000 AS sm
       FROM tf JOIN q USING (tok) JOIN dl USING (doc_id), tot),
bm0 AS (SELECT doc_id, SUM(sm) AS score_micro FROM sc GROUP BY 1
        ORDER BY score_micro DESC, doc_id LIMIT {RRF_R}),
bm AS (SELECT doc_id, ROW_NUMBER() OVER
         (ORDER BY score_micro DESC, doc_id) AS r1 FROM bm0),
ln0 AS (SELECT doc_id, n_chars FROM documents
        ORDER BY n_chars DESC, doc_id LIMIT {RRF_R}),
ln AS (SELECT doc_id, ROW_NUMBER() OVER
         (ORDER BY n_chars DESC, doc_id) AS r2 FROM ln0),
fused AS (
  SELECT COALESCE(bm.doc_id, ln.doc_id) AS doc_id, r1, r2,
         COALESCE(1000000 // ({RRF_KC} + r1), 0)
         + COALESCE(1000000 // ({RRF_KC} + r2), 0) AS rrf_q
  FROM bm FULL OUTER JOIN ln ON bm.doc_id = ln.doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(r1 AS BIGINT) AS r1,
       CAST(r2 AS BIGINT) AS r2, CAST(rrf_q AS BIGINT) AS rrf_q
FROM fused ORDER BY rrf_q DESC, doc_id LIMIT {RRF_TOPK}"""


HUFF_CSCALE = 10_000         # coordinates quantized to deg * 1e4
HUFF_MIN_D2 = 10_000         # distance floor: (1 km)^2-scale in grid units
HUFF_WSCALE = 1_000_000_000  # gravity weight quantization


def _huff_cities_rows() -> list[tuple[int, int, int]]:
    """(j, cx, cy) city anchors in deg*1e4 integer units — exact in
    both engines (CITY_CENTERS coordinates have <= 2 decimals)."""
    return [(j, round(lon * HUFF_CSCALE), round(lat * HUFF_CSCALE))
            for j, (lon, lat) in enumerate(CITY_CENTERS)]


def q_huff_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huff spatial-interaction model (Huff 1964): probabilistic market
    share of each city "facility" over the page point cloud, with
    attractiveness derived from the data itself (the city's primary
    catchment count) — the retail-gravity companion of gravity_fit /
    city_decay.

    Exactness: coordinates quantize once to deg*1e4 ints, d2 is exact
    BIGINT, attractiveness a_q an exact micro-share of total pages,
    gravity weight w = (a_q * 1e9) div max(d2, {HUFF_MIN_D2}) and
    per-point share (w * 1e6) div sum(w) are floored integers;
    argmin/argmax tie-break via integer key encoding (d2 * 64 + j /
    w * 64 + 63 - j), never engine-dependent struct ordering.
    Overflow audit: w <= 1e6*1e9/1e4 = 1e11, sum over 40 cities
    <= 4e12, w*1e6 <= 1e17 — all < 2^63.

    Plan: NO per-point shuffle at all.  The per-point Huff math (40
    distances, weight vector, weight sum, shares, argmin/argmax) runs
    entirely inside array expressions — stage 1 against the literal
    city array, stage 2 against a ONE-ROW broadcast array carrying the
    data-derived attractiveness — so the only exchanges are three
    map-side-combinable hash aggs on the 40-row city key (each task
    pre-reduces 24M exploded shares to <= 40 partial rows).  An
    earlier pid-keyed formulation shuffled the x40 exploded relation
    three times: 16 s -> ~3 s at sf0.1.

    FULL SQL ORACLE (_sql_huff_shares)."""
    pts = (_points(spark, sf_dir).select(
        F.round(F.col("lon") * HUFF_CSCALE, 0).cast("long").alias("x"),
        F.round(F.col("lat") * HUFF_CSCALE, 0).cast("long").alias("y"))
        .persist())
    d2 = ("(x - c.cx) * (x - c.cx) + (y - c.cy) * (y - c.cy)")
    cities_lit = ("array(" + ", ".join(
        f"struct({j}L as j, {cx}L as cx, {cy}L as cy)"
        for j, cx, cy in _huff_cities_rows()) + ")")
    # stage 1: nearest-city catchment counts = data-derived
    # attractiveness (argmin over the literal array, pure expression)
    near_j = F.expr(
        f"array_min(transform({cities_lit}, c -> ({d2}) * 64 + c.j)) % 64")
    att = pts.groupBy(near_j.alias("j")).agg(F.count("*").alias("a_cnt"))
    tot = att.agg(F.sum("a_cnt").alias("n_pts"))
    a_q = (att.crossJoin(F.broadcast(tot))
           .select("j", F.expr("(a_cnt * 1000000) div n_pts")
                   .alias("a_q")))
    # stage 2: one-row broadcast array of per-city a_q (sorted by j),
    # then the 40-element Huff algebra SCALAR-EXPANDED per point —
    # higher-order array functions (transform/aggregate) are NOT
    # whole-stage-codegen'd and ran ~2x slower than even the shuffling
    # plan; element_at + flat arithmetic keeps every row inside one
    # codegen stage
    cities = spark.createDataFrame(_huff_cities_rows(),
                                   "j long, cx long, cy long")
    # keyed MAP, not a positional array: a city with an empty catchment
    # is absent from a_q, which would shift positional indices; the map
    # lookup defaults it to attractiveness 0 (= the oracle's absent-row
    # semantics; a 0-weight city can never win the argmax because the
    # largest catchment is >= 1/40 by pigeonhole, giving its w >= 1)
    cs = (cities.join(a_q, "j")
          .agg(F.map_from_entries(F.collect_list(
              F.struct("j", "a_q"))).alias("cs")))
    rows = _huff_cities_rows()
    w_of = {j: (f"(coalesce(element_at(cs, {j}L), 0L) * {HUFF_WSCALE}) div "
                f"greatest((x - {cx}) * (x - {cx}) "
                f"+ (y - {cy}) * (y - {cy}), {HUFF_MIN_D2})")
            for j, cx, cy in rows}
    p2 = (pts.crossJoin(F.broadcast(cs))
          .select("x", "y", "cs",
                  *[F.expr(w_of[j]).alias(f"w{j}") for j, _, _ in rows])
          .withColumn("ws", F.expr(
              " + ".join(f"w{j}" for j, _, _ in rows))))
    p2 = p2.persist()
    shares = (p2.select(F.explode(F.array(*[
        F.struct(F.lit(j).cast("long").alias("j"),
                 F.expr(f"(w{j} * 1000000) div ws").alias("share_q"))
        for j, _, _ in rows])).alias("s"))
        .select("s.j", "s.share_q"))
    demand = shares.groupBy("j").agg(F.sum("share_q").alias("e_demand_q"))
    kmax = "greatest(" + ", ".join(
        f"w{j} * 64 + {63 - j}" for j, _, _ in rows) + ")"
    primary = (p2.select(F.expr(f"63 - ({kmax}) % 64").alias("j"))
               .groupBy("j").agg(F.count("*").alias("n_primary")))
    out = (a_q.join(demand, "j", "left").join(primary, "j", "left")
           .select(F.col("j").cast("long").alias("city"),
                   F.col("a_q").cast("long").alias("a_q"),
                   F.coalesce("e_demand_q", F.lit(0)).cast("long")
                   .alias("e_demand_q"),
                   F.coalesce("n_primary", F.lit(0)).cast("long")
                   .alias("n_primary")))
    # pts/p2 stay persisted: demand and primary both scan p2 at collect
    # time (unpersisting here would force two full recomputes); the
    # plan-keyed CacheManager dedups re-runs, same as _capped_shingles
    return out


def _sql_huff_shares(n: int) -> str:
    vals = ", ".join(f"({j}, {cx}, {cy})"
                     for j, cx, cy in _huff_cities_rows())
    return f"""WITH {_pages_cte(n)},
cities(j, cx, cy) AS (VALUES {vals}),
pts AS (SELECT ROW_NUMBER() OVER () AS pid,
               CAST(ROUND(lon * {HUFF_CSCALE}) AS BIGINT) AS x,
               CAST(ROUND(lat * {HUFF_CSCALE}) AS BIGINT) AS y
        FROM pages),
d AS (SELECT pid, j, (x - cx) * (x - cx) + (y - cy) * (y - cy) AS d2
      FROM pts CROSS JOIN cities),
near AS (SELECT pid, MIN(d2 * 64 + j) % 64 AS j FROM d GROUP BY 1),
att AS (SELECT j, CAST(COUNT(*) AS BIGINT) AS a_cnt FROM near GROUP BY 1),
tot AS (SELECT CAST(SUM(a_cnt) AS BIGINT) AS n_pts FROM att),
aq AS (SELECT j, (a_cnt * 1000000) // n_pts AS a_q FROM att, tot),
wts AS (SELECT pid, d.j, (a_q * {HUFF_WSCALE})
                         // GREATEST(d2, {HUFF_MIN_D2}) AS w
        FROM d JOIN aq ON aq.j = d.j),
wsum AS (SELECT pid, CAST(SUM(w) AS BIGINT) AS ws FROM wts GROUP BY 1),
shares AS (SELECT wts.pid, j, (w * 1000000) // ws AS share_q
           FROM wts JOIN wsum ON wsum.pid = wts.pid),
demand AS (SELECT j, CAST(SUM(share_q) AS BIGINT) AS e_demand_q
           FROM shares GROUP BY 1),
prim AS (SELECT j, CAST(COUNT(*) AS BIGINT) AS n_primary FROM (
           SELECT pid, 63 - MAX(w * 64 + 63 - j) % 64 AS j
           FROM wts GROUP BY 1) GROUP BY 1)
SELECT CAST(aq.j AS BIGINT) AS city, CAST(a_q AS BIGINT) AS a_q,
       CAST(COALESCE(e_demand_q, 0) AS BIGINT) AS e_demand_q,
       CAST(COALESCE(n_primary, 0) AS BIGINT) AS n_primary
FROM aq LEFT JOIN demand ON demand.j = aq.j
LEFT JOIN prim ON prim.j = aq.j"""


RAKE_STOP = ("a", "the")   # stopword delimiters of the synthetic corpus
RAKE_MAXLEN = 4            # phrases longer than this are dropped
RAKE_TOPK = 50


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-delimited token runs (capped at {RAKE_MAXLEN}
    words); each word scores deg/freq over the phrase corpus and a
    phrase scores the sum of its members — the unsupervised keyword
    screen next to textrank/distinctive_terms.

    Exactness: deg (sum of lengths of phrases containing each word
    occurrence) and freq are exact counts; the word score quantizes
    ONCE to (deg * 1e6) div freq and phrase scores are BIGINT sums of
    quantized member scores, so identical phrase texts score
    identically and the rank is engine-independent.

    Plan: phrase segmentation is the classic gaps-and-islands window
    (running stopword count per doc — ONE shuffle on doc_id); the
    word-score relation aggregates on tokens (map-side combinable) and
    broadcasts back into the member join; the final per-text rollup is
    a TakeOrdered top-k.

    FULL SQL ORACLE (_sql_rake_keywords)."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.posexplode(analysis.tokens(F.lower(F.col("text"))))
        .alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    stop = F.col("tok").isin(*RAKE_STOP)
    seg = (tok.withColumn("grp", F.sum(stop.cast("int")).over(w))
           .where(~stop))
    ph = (seg.groupBy("doc_id", "grp")
          .agg(F.count("*").alias("len"),
               F.array_join(F.transform(
                   F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                   lambda s: s.tok), " ").alias("ptext"))
          .where(F.col("len") <= RAKE_MAXLEN))
    members = seg.join(ph.select("doc_id", "grp", "len", "ptext"),
                       ["doc_id", "grp"])
    wstat = (members.groupBy("tok")
             .agg(F.count("*").alias("freq"), F.sum("len").alias("deg")))
    wscore = wstat.select(
        "tok", F.expr("(deg * 1000000) div freq").alias("ws"))
    pscore = (members.join(F.broadcast(wscore), "tok")
              .groupBy("doc_id", "grp", "ptext")
              .agg(F.sum("ws").alias("score_q")))
    out = (pscore.groupBy("ptext")
           .agg(F.count("*").alias("n_occ"), F.min("score_q")
                .alias("score_q"))
           .orderBy(F.col("score_q").desc(), "ptext").limit(RAKE_TOPK)
           .select("ptext", F.col("n_occ").cast("long").alias("n_occ"),
                   F.col("score_q").cast("long").alias("score_q")))
    return out


def _sql_rake_keywords() -> str:
    stops = ", ".join(f"'{s}'" for s in RAKE_STOP)
    return f"""WITH tok0 AS (
  SELECT doc_id, s.tok AS tok, s.pos AS pos FROM (
    SELECT doc_id,
           unnest([{{'pos': i, 'tok': a[i]}}
                   for i in generate_series(1, len(a))]) AS s
    FROM (SELECT doc_id, {_SQL_TOKS} AS a FROM documents))),
seg AS (
  SELECT doc_id, tok, pos,
         SUM(CASE WHEN tok IN ({stops}) THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM tok0 QUALIFY tok NOT IN ({stops})),
ph AS (
  SELECT doc_id, grp, COUNT(*) AS len,
         string_agg(tok, ' ' ORDER BY pos) AS ptext
  FROM seg GROUP BY 1, 2 HAVING COUNT(*) <= {RAKE_MAXLEN}),
members AS (
  SELECT seg.doc_id, seg.grp, seg.tok, ph.len, ph.ptext
  FROM seg JOIN ph ON ph.doc_id = seg.doc_id AND ph.grp = seg.grp),
wscore AS (
  SELECT tok, (CAST(SUM(len) AS BIGINT) * 1000000)
              // CAST(COUNT(*) AS BIGINT) AS ws
  FROM members GROUP BY 1),
pscore AS (
  SELECT m.doc_id, m.grp, m.ptext, CAST(SUM(ws) AS BIGINT) AS score_q
  FROM members m JOIN wscore ON wscore.tok = m.tok
  GROUP BY 1, 2, 3)
SELECT ptext, CAST(COUNT(*) AS BIGINT) AS n_occ,
       CAST(MIN(score_q) AS BIGINT) AS score_q
FROM pscore GROUP BY 1
ORDER BY score_q DESC, ptext LIMIT {RAKE_TOPK}"""


# ---------------------------------------------------------------------------
# session 27 — conversion attribution, ordinal-pattern entropy,
# long-range dependence
# ---------------------------------------------------------------------------

ATTR_WINDOW_US = 24 * 3_600_000_000   # touch lookback window
ATTR_CONV = "purchase"


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch conversion attribution: every 'purchase' conversion
    credits the user's touch events (any non-purchase event in the
    24 h before it) under the three standard marketing models —
    first-touch, last-touch, and linear — reported per channel
    (event type).

    Exactness: credits are exact integer micro-units (1e6 per
    conversion for first/last; 1e6 div n_touches per touch for linear
    — floored, so a conversion's linear credit can undershoot 1e6 by
    < n_touches units, identically in both engines); first/last pick
    by the total (tm, event_id) order, never an engine-dependent
    argmin.

    Scale plan: ONE shuffle keys both relations on user_id for the
    range join; the per-conversion windows then run inside partitions
    keyed by conversion (a second bounded shuffle on conv_id — pair
    volume is touches-per-user x conversions-per-user, bounded for
    bounded user activity; a heavy-user cap would be the df-cap
    analogue at web scale).

    FULL SQL ORACLE (_sql_attribution)."""
    ev = _events_micros(spark, sf_dir)
    conv = (ev.where(F.col("event_type") == ATTR_CONV)
            .select("user_id", F.col("tm").alias("tc"),
                    F.col("event_id").alias("conv_id")))
    touch = (ev.where(F.col("event_type") != ATTR_CONV)
             .select("user_id", "tm", "event_id",
                     F.col("event_type").alias("channel")))
    pairs = (touch.join(conv, "user_id")
             .where((F.col("tm") < F.col("tc"))
                    & (F.col("tm") >= F.col("tc") - ATTR_WINDOW_US)))
    pairs = pairs.persist()
    w_asc = Window.partitionBy("conv_id").orderBy("tm", "event_id")
    w_desc = Window.partitionBy("conv_id").orderBy(
        F.col("tm").desc(), F.col("event_id").desc())
    ranked = (pairs
              .withColumn("ra", F.row_number().over(w_asc))
              .withColumn("rd", F.row_number().over(w_desc))
              .withColumn("n_t", F.count("*").over(
                  Window.partitionBy("conv_id"))))
    first = (ranked.where(F.col("ra") == 1)
             .groupBy("channel")
             .agg(F.count("*").alias("n_conv"),
                  F.sum(F.lit(1_000_000)).alias("credit_q"))
             .select(F.lit("first").alias("model"), "channel",
                     "n_conv", "credit_q"))
    last = (ranked.where(F.col("rd") == 1)
            .groupBy("channel")
            .agg(F.count("*").alias("n_conv"),
                 F.sum(F.lit(1_000_000)).alias("credit_q"))
            .select(F.lit("last").alias("model"), "channel",
                    "n_conv", "credit_q"))
    linear = (ranked.groupBy("channel")
              .agg(F.countDistinct("conv_id").alias("n_conv"),
                   F.sum(F.expr("1000000 div n_t")).alias("credit_q"))
              .select(F.lit("linear").alias("model"), "channel",
                      "n_conv", "credit_q"))
    out = first.union(last).union(linear)
    return out.select("model", "channel",
                      F.col("n_conv").cast("long").alias("n_conv"),
                      F.col("credit_q").cast("long").alias("credit_q"))


def _sql_attribution() -> str:
    return f"""WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS tm FROM events),
conv AS (SELECT user_id, tm AS tc, event_id AS conv_id FROM ev
         WHERE event_type = '{ATTR_CONV}'),
touch AS (SELECT user_id, tm, event_id, event_type AS channel FROM ev
          WHERE event_type != '{ATTR_CONV}'),
pairs AS (
  SELECT t.channel, t.tm, t.event_id, c.conv_id
  FROM touch t JOIN conv c ON c.user_id = t.user_id
  WHERE t.tm < c.tc AND t.tm >= c.tc - {ATTR_WINDOW_US}),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id
              ORDER BY tm, event_id) AS ra,
         ROW_NUMBER() OVER (PARTITION BY conv_id
              ORDER BY tm DESC, event_id DESC) AS rd,
         COUNT(*) OVER (PARTITION BY conv_id) AS n_t
  FROM pairs)
SELECT 'first' AS model, channel, CAST(COUNT(*) AS BIGINT) AS n_conv,
       CAST(SUM(1000000) AS BIGINT) AS credit_q
FROM ranked WHERE ra = 1 GROUP BY 2
UNION ALL
SELECT 'last', channel, CAST(COUNT(*) AS BIGINT),
       CAST(SUM(1000000) AS BIGINT)
FROM ranked WHERE rd = 1 GROUP BY 2
UNION ALL
SELECT 'linear', channel, CAST(COUNT(DISTINCT conv_id) AS BIGINT),
       CAST(SUM(1000000 // n_t) AS BIGINT)
FROM ranked GROUP BY 2"""


def q_perm_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy of the hourly event-volume series (Bandt-
    Pompe 2002): the distribution of order patterns of sliding length-3
    windows over the zero-filled series — the model-free complexity /
    determinism screen next to acf_hours (a perfectly periodic series
    concentrates on few patterns; noise spreads over all 6).

    Exactness: ranks come from integer comparisons with the standard
    stable tiebreak (equal values ranked by position), the pattern code
    is r0*9 + r1*3 + r2, probabilities are exact floored micro-ratios,
    and each pattern's entropy term quantizes the log-ratio ONCE
    (round(ln(N/n) * 1e6)) then multiplies by the exact count — the
    lang_source_mi / bigram_entropy discipline.

    Plan: one corpus shuffle (hourly agg); the spine, the three lag
    joins and the pattern histogram all live on the aggregated
    relation.

    FULL SQL ORACLE (_sql_perm_entropy)."""
    ev = _events_micros(spark, sf_dir)
    ser = _hourly(ev)
    hor = ser.agg(F.min("x").alias("x_min"), F.max("x").alias("x_max"))
    spine = hor.select(
        F.explode(F.sequence("x_min", "x_max")).alias("t"), "x_max")
    s0 = ser.select(F.col("x").alias("t0"), F.col("y").alias("y0"))
    s1 = ser.select(F.col("x").alias("t1"), F.col("y").alias("y1"))
    s2 = ser.select(F.col("x").alias("t2"), F.col("y").alias("y2"))
    tri = (spine.where(F.col("t") + 2 <= F.col("x_max"))
           .join(s0, F.col("t") == F.col("t0"), "left")
           .join(s1, F.col("t") + 1 == F.col("t1"), "left")
           .join(s2, F.col("t") + 2 == F.col("t2"), "left")
           .select(F.coalesce("y0", F.lit(0)).alias("a"),
                   F.coalesce("y1", F.lit(0)).alias("b"),
                   F.coalesce("y2", F.lit(0)).alias("c")))
    # stable ranks: strictly-smaller count + earlier-position ties
    code = F.expr(
        "( (CASE WHEN b < a THEN 1 ELSE 0 END)"
        " + (CASE WHEN c < a THEN 1 ELSE 0 END) ) * 9"
        " + ( (CASE WHEN a <= b THEN 1 ELSE 0 END)"
        "   + (CASE WHEN c < b THEN 1 ELSE 0 END) ) * 3"
        " + ( (CASE WHEN a <= c THEN 1 ELSE 0 END)"
        "   + (CASE WHEN b <= c THEN 1 ELSE 0 END) )")
    hist = (tri.groupBy(code.alias("pattern"))
            .agg(F.count("*").alias("n")))
    tot = hist.agg(F.sum("n").alias("nn"))
    lq = F.round(F.log(F.col("nn").cast("double")
                       / F.col("n").cast("double")) * 1e6, 0).cast("long")
    out = (hist.crossJoin(F.broadcast(tot))
           .select(F.col("pattern").cast("long").alias("pattern"),
                   F.col("n").cast("long").alias("n"),
                   F.expr("(n * 1000000) div nn").cast("long")
                   .alias("p_q"),
                   lq.alias("lq"),
                   (F.col("n") * lq).cast("long").alias("term_q")))
    return out


def _sql_perm_entropy() -> str:
    return f"""WITH {_sql_hourly()},
hor AS (SELECT MIN(x) AS x_min, MAX(x) AS x_max FROM ser),
spine AS (SELECT unnest(generate_series(x_min, x_max)) AS t, x_max
          FROM hor),
tri AS (
  SELECT COALESCE(s0.y, 0) AS a, COALESCE(s1.y, 0) AS b,
         COALESCE(s2.y, 0) AS c
  FROM spine
  LEFT JOIN ser s0 ON s0.x = spine.t
  LEFT JOIN ser s1 ON s1.x = spine.t + 1
  LEFT JOIN ser s2 ON s2.x = spine.t + 2
  WHERE spine.t + 2 <= spine.x_max),
hist AS (
  SELECT ( (CASE WHEN b < a THEN 1 ELSE 0 END)
         + (CASE WHEN c < a THEN 1 ELSE 0 END) ) * 9
       + ( (CASE WHEN a <= b THEN 1 ELSE 0 END)
         + (CASE WHEN c < b THEN 1 ELSE 0 END) ) * 3
       + ( (CASE WHEN a <= c THEN 1 ELSE 0 END)
         + (CASE WHEN b <= c THEN 1 ELSE 0 END) ) AS pattern,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM tri GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM hist)
SELECT CAST(pattern AS BIGINT) AS pattern, n,
       CAST((n * 1000000) // nn AS BIGINT) AS p_q,
       CAST(ROUND(LN(CAST(nn AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6, 0)
            AS BIGINT) AS lq,
       CAST(n * CAST(ROUND(LN(CAST(nn AS DOUBLE) / CAST(n AS DOUBLE))
                           * 1e6, 0) AS BIGINT) AS BIGINT) AS term_q
FROM hist, tot"""


HURST_SCALES = (1, 2, 4, 8, 16)


def q_hurst_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of hourly event volume via the variance-time
    plot (the aggregated-variance method of Taqqu-Teverovsky-Willinger
    1995): block sums over windows m in {HURST_SCALES} scale their
    variance as m^2H for self-similar traffic; the slope of
    ln Var(m) vs ln m over the exact quantized-log least squares
    (_loglog_fit) gives H = slope / 2 — the long-range-dependence
    screen that made web/LAN traffic famous (H > 0.5 = bursty at every
    timescale).

    Exactness: the zero-filled spine makes block sums exact BIGINTs;
    per scale the variance numerator K*sum(Y^2) - (sum Y)^2 is exact
    and quantizes once to v_q = (varnum * 1e3) div K^2; the fit is the
    shared micro-log discipline.

    Plan: one corpus shuffle; the spine x {len(HURST_SCALES)} explode,
    block aggs and the 5-point fit all live on the aggregated series.

    FULL SQL ORACLE (_sql_hurst_var)."""
    ev = _events_micros(spark, sf_dir)
    ser = _hourly(ev)
    hor = ser.agg(F.min("x").alias("x_min"), F.max("x").alias("x_max"))
    spine = (hor.select(
        F.explode(F.sequence("x_min", "x_max")).alias("t"),
        "x_min", "x_max")
        .join(ser, F.col("t") == F.col("x"), "left")
        .select("t", "x_min", "x_max",
                F.coalesce("y", F.lit(0)).alias("y0")))
    scales = spine.withColumn(
        "m", F.explode(F.array(*[F.lit(m) for m in HURST_SCALES])))
    blocks = (scales
              .where(F.expr("(t - x_min) div m")
                     < F.expr("((x_max - x_min + 1) div m)"))
              .groupBy("m", F.expr("(t - x_min) div m").alias("bid"))
              .agg(F.sum("y0").alias("yb")))
    per_m = (blocks.groupBy("m")
             .agg(F.count("*").alias("k"),
                  F.sum("yb").alias("sy"),
                  F.sum(F.col("yb") * F.col("yb")).alias("syy")))
    v = per_m.select(
        "m", "k",
        (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy"))
        .alias("varnum"))
    uv = (v.where(F.expr("(varnum * 1000) div (k * k)") > 0)
          .select(F.round(F.log(F.col("m").cast("double")) * 1e6, 0)
                  .cast("long").alias("u"),
                  F.round(F.log(
                      F.expr("(varnum * 1000) div (k * k)")
                      .cast("double") / 1e3) * 1e6, 0)
                  .cast("long").alias("v")))
    fit = _loglog_fit(_loglog_sums(uv))
    out = fit.select(
        "n_pts", "su", "sv", "suuq", "suvq", "slope", "intercept",
        F.round(F.col("slope") / 2.0, 6).alias("hurst"))
    return out


def _sql_hurst_var() -> str:
    arr = ", ".join(str(m) for m in HURST_SCALES)
    return f"""WITH {_sql_hourly()},
hor AS (SELECT MIN(x) AS x_min, MAX(x) AS x_max FROM ser),
spine AS (
  SELECT t, x_min, x_max, COALESCE(ser.y, 0) AS y0 FROM (
    SELECT unnest(generate_series(x_min, x_max)) AS t, x_min, x_max
    FROM hor) sp LEFT JOIN ser ON ser.x = sp.t),
scales AS (SELECT *, unnest([{arr}]) AS m FROM spine),
blocks AS (
  SELECT m, (t - x_min) // m AS bid, CAST(SUM(y0) AS BIGINT) AS yb
  FROM scales WHERE (t - x_min) // m < (x_max - x_min + 1) // m
  GROUP BY 1, 2),
per_m AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(yb) AS BIGINT) AS sy,
                 CAST(SUM(yb * yb) AS BIGINT) AS syy
          FROM blocks GROUP BY 1),
v AS (SELECT m, k, k * syy - sy * sy AS varnum FROM per_m),
uv AS (SELECT CAST(ROUND(LN(CAST(m AS DOUBLE)) * 1e6, 0) AS BIGINT) AS u,
              CAST(ROUND(LN(CAST((varnum * 1000) // (k * k) AS DOUBLE)
                            / 1e3) * 1e6, 0) AS BIGINT) AS v
       FROM v WHERE (varnum * 1000) // (k * k) > 0),
{_SQL_FIT_SUMS}
SELECT CAST(n_pts AS BIGINT) AS n_pts, su, sv, suuq, suvq,{_SQL_FIT},
       ROUND(slope / 2.0, 6) AS hurst
FROM a"""


# ---------------------------------------------------------------------------
# session 28 — categorical independence, market concentration,
# raster morphology
# ---------------------------------------------------------------------------


def q_chi2_indep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between document language and
    source: the contingency-table screen next to the lang_source_mi
    information measure (chi2 and MI flag the same dependence from
    different algebra).

    Exactness: with z = N*O - n_l*n_s per cell, the cell's chi-square
    contribution (O-E)^2/E = z^2 / (N*n_l*n_s) quantizes once to
    term_q = (z*z*1000) div (N*n_l*n_s) — all BIGINT (caveat: z^2
    needs |z| < 3e9, i.e. corpora under ~50k docs per the z <= N*O
    bound; beyond that quantize z first, same caveat class as
    kendall_tau's documented BIGINT limit).

    Plan: one corpus shuffle to the (lang, source) cells; margins and
    the one-row total broadcast back — the contingency table is
    KB-sized at any corpus scale.

    FULL SQL ORACLE (_sql_chi2_indep)."""
    docs = _docs(spark, sf_dir)
    cells = (docs.groupBy("lang", "source")
             .agg(F.count("*").alias("o")))
    nl = cells.groupBy("lang").agg(F.sum("o").alias("n_l"))
    ns = cells.groupBy("source").agg(F.sum("o").alias("n_s"))
    tot = cells.agg(F.sum("o").alias("nn"))
    # the FULL margin cross product, not just observed cells: an empty
    # (lang, source) cell still contributes E = n_l*n_s/N to the
    # statistic, and only over the complete table do the z margins
    # cancel (sum_s z = 0 per language — asserted in tests)
    grid = nl.crossJoin(ns)
    out = (grid.join(cells, ["lang", "source"], "left")
           .crossJoin(F.broadcast(tot))
           .select("lang", "source",
                   F.coalesce("o", F.lit(0)).alias("o"),
                   "n_l", "n_s", "nn")
           .select("lang", "source",
                   F.col("o").cast("long").alias("n_ls"),
                   F.expr("nn * o - n_l * n_s").cast("long").alias("z"),
                   F.expr("((nn * o - n_l * n_s) * (nn * o - n_l * n_s) "
                          "* 1000) div (nn * n_l * n_s)")
                   .cast("long").alias("term_q")))
    return out


def _sql_chi2_indep() -> str:
    return """WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2),
nl AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS n_l FROM cells GROUP BY 1),
ns AS (SELECT source, CAST(SUM(o) AS BIGINT) AS n_s FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM cells),
grid AS (SELECT lang, n_l, source, n_s FROM nl CROSS JOIN ns)
SELECT g.lang, g.source, CAST(COALESCE(c.o, 0) AS BIGINT) AS n_ls,
       CAST(nn * COALESCE(c.o, 0) - n_l * n_s AS BIGINT) AS z,
       CAST(((nn * COALESCE(c.o, 0) - n_l * n_s)
             * (nn * COALESCE(c.o, 0) - n_l * n_s) * 1000)
            // (nn * n_l * n_s) AS BIGINT) AS term_q
FROM grid g LEFT JOIN cells c
  ON c.lang = g.lang AND c.source = g.source, tot"""


CONC_TOPK = 10


def q_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market concentration of the crawl across domains: the
    Herfindahl-Hirschman index and the top-{CONC_TOPK} concentration
    ratio of per-domain page counts — the antitrust-style "is the
    corpus dominated by a few hosts" screen next to domain_entropy
    (HHI weights large shares quadratically where entropy is
    logarithmic).

    Exactness: HHI_q = (sum cnt^2 * 1e6) div N^2 and CR_q =
    (sum top-k cnt * 1e6) div N are exact floored micro-units (sum
    cnt^2 <= N^2 <= 4e11 at sf1 — no overflow); the top-k is the
    deterministic (cnt desc, domain) order.

    Plan: one shuffle to per-domain counts; everything after is
    TakeOrdered top-k + one-row aggregates.

    FULL SQL ORACLE (_sql_concentration)."""
    pts = _points(spark, sf_dir)
    cnt = pts.groupBy("domain").agg(F.count("*").alias("c"))
    tot = cnt.agg(F.sum("c").alias("n_pages"),
                  F.count("*").alias("n_domains"),
                  F.sum(F.col("c") * F.col("c")).alias("sumsq"))
    topk = (cnt.orderBy(F.col("c").desc(), "domain").limit(CONC_TOPK)
            .agg(F.sum("c").alias("top_c")))
    out = (tot.crossJoin(topk)
           .select(F.col("n_pages").cast("long").alias("n_pages"),
                   F.col("n_domains").cast("long").alias("n_domains"),
                   F.col("sumsq").cast("long").alias("sumsq"),
                   F.expr("(sumsq * 1000000) div (n_pages * n_pages)")
                   .cast("long").alias("hhi_q"),
                   F.expr(f"(top_c * 1000000) div n_pages")
                   .cast("long").alias("cr{}_q".format(CONC_TOPK))))
    return out


def _sql_concentration(n: int) -> str:
    return f"""WITH {_pages_cte(n)},
cnt AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS c
        FROM pages GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_pages,
               CAST(COUNT(*) AS BIGINT) AS n_domains,
               CAST(SUM(c * c) AS BIGINT) AS sumsq FROM cnt),
topk AS (SELECT CAST(SUM(c) AS BIGINT) AS top_c FROM (
           SELECT c FROM cnt ORDER BY c DESC, domain LIMIT {CONC_TOPK}))
SELECT n_pages, n_domains, sumsq,
       CAST((sumsq * 1000000) // (n_pages * n_pages) AS BIGINT) AS hhi_q,
       CAST((top_c * 1000000) // n_pages AS BIGINT) AS cr{CONC_TOPK}_q
FROM tot, topk"""


MORPH_Z = 7    # 128 x 128 web-mercator occupancy grid


def q_raster_morph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morphological raster algebra over the page-occupancy grid at
    z={MORPH_Z}: dilation (grow every occupied cell by its 8-
    neighborhood) and erosion (keep a cell only if all 8 in-bounds
    neighbors are occupied; world-edge cells never survive) — the
    raster half of the raster<->vector roster (smoothing a coverage
    mask before vectorizing is the standard cartographic cleanup).

    Exactness: cell coordinates are exact integers; the three
    summaries (cell count, x-sum, y-sum) are BIGINT sums, so the
    driver hash pins the exact cell SETS without shipping them.

    Plan: the occupancy set aggregates once (map-side combinable
    distinct); dilation is a 9-offset explode + distinct on the tiny
    occupied set, erosion an 8-offset explode + self-join + count==8
    filter — every relation after the first agg is O(|occupied|),
    never O(|pages|).

    FULL SQL ORACLE (_sql_raster_morph)."""
    n = 1 << MORPH_Z
    pts = _points(spark, sf_dir)
    base = (pts.select(cells.tile_x(F.col("lon"), MORPH_Z).alias("x"),
                       cells.tile_y(F.col("lat"), MORPH_Z).alias("y"))
            .distinct().persist())
    offs9 = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    offs8 = [o for o in offs9 if o != (0, 0)]
    d_exp = base.select(F.explode(F.array(*[
        F.struct((F.col("x") + dx).alias("x"), (F.col("y") + dy).alias("y"))
        for dx, dy in offs9])).alias("c")).select("c.x", "c.y")
    dil = (d_exp.where((F.col("x") >= 0) & (F.col("x") < n)
                       & (F.col("y") >= 0) & (F.col("y") < n))
           .distinct())
    e_exp = base.select("x", "y", F.explode(F.array(*[
        F.struct((F.col("x") + dx).alias("nx"),
                 (F.col("y") + dy).alias("ny"))
        for dx, dy in offs8])).alias("c")).select(
        "x", "y", "c.nx", "c.ny")
    nb = base.select(F.col("x").alias("nx"), F.col("y").alias("ny"))
    ero = (e_exp.join(nb, ["nx", "ny"])
           .groupBy("x", "y").agg(F.count("*").alias("k"))
           .where(F.col("k") == 8).select("x", "y"))

    def summarize(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.lit(op).alias("op"),
                      F.count("*").cast("long").alias("n_cells"),
                      F.sum("x").cast("long").alias("x_sum"),
                      F.sum("y").cast("long").alias("y_sum"))

    return (summarize(base, "base")
            .union(summarize(dil, "dilate"))
            .union(summarize(ero, "erode")))


def _sql_raster_morph(n_pages: int) -> str:
    n = 1 << MORPH_Z
    offs9 = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1)
                      for dy in (-1, 0, 1))
    offs8 = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1)
                      for dy in (-1, 0, 1) if (dx, dy) != (0, 0))
    return f"""WITH {_pages_cte(n_pages)},
base AS (SELECT DISTINCT
           {cells.tile_x_sql('lon', MORPH_Z)} AS x,
           {cells.tile_y_sql('lat', MORPH_Z)} AS y
         FROM pages),
o9(dx, dy) AS (VALUES {offs9}),
o8(dx, dy) AS (VALUES {offs8}),
dil AS (SELECT DISTINCT x + dx AS x, y + dy AS y FROM base, o9
        WHERE x + dx >= 0 AND x + dx < {n}
          AND y + dy >= 0 AND y + dy < {n}),
ero AS (SELECT e.x, e.y FROM (
          SELECT b.x, b.y, b.x + o.dx AS nx, b.y + o.dy AS ny
          FROM base b, o8 o) e
        JOIN base nb ON nb.x = e.nx AND nb.y = e.ny
        GROUP BY 1, 2 HAVING COUNT(*) = 8)
SELECT 'base' AS op, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(x) AS BIGINT) AS x_sum, CAST(SUM(y) AS BIGINT) AS y_sum
FROM base
UNION ALL
SELECT 'dilate', CAST(COUNT(*) AS BIGINT), CAST(SUM(x) AS BIGINT),
       CAST(SUM(y) AS BIGINT) FROM dil
UNION ALL
SELECT 'erode', CAST(COUNT(*) AS BIGINT), CAST(SUM(x) AS BIGINT),
       CAST(SUM(y) AS BIGINT) FROM ero"""


# ---------------------------------------------------------------------------
# session 29 — distributed uncertainty quantification
# ---------------------------------------------------------------------------

BOOT_B = 64                    # bootstrap replicates
# Poisson(1) inverse-CDF thresholds in micro-units (cumulative
# probabilities e^-1 * sum 1/k!): the SAME constants in both dialects,
# so the replicate weights are bit-identical everywhere
BOOT_CDF = (367879, 735759, 919699, 981012, 996340)
_BOOT_MIX = 2654435761         # Knuth multiplicative hash (the synthesis mix)


def q_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of the mean document length (Chamandy et al.
    2012, "Estimating uncertainty for massive data streams" — THE
    distributed bootstrap: resampling n-out-of-n multinomially needs
    global coordination, but Poisson(1) weights are independent per
    (row, replicate), so the whole resample is one map-side explode).

    Exactness: the per-(doc, replicate) weight is a deterministic
    Poisson(1) draw — u = ((doc_id * B + b) * {_BOOT_MIX}) % 2^31
    % 1e6 stepped through the fixed inverse-CDF thresholds
    {BOOT_CDF} — so both engines produce bit-identical weights;
    replicate sums are BIGINT and the mean an exact floored
    micro-ratio.

    Plan: the x{BOOT_B} replicate explode is map-side (no shuffle
    before it) and the ONLY exchange is the {BOOT_B}-key hash agg,
    map-side combinable to <= {BOOT_B} rows per task — the textbook
    at-scale bootstrap shape.

    FULL SQL ORACLE (_sql_poisson_bootstrap)."""
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    b = docs.withColumn("b", F.explode(F.sequence(
        F.lit(0), F.lit(BOOT_B - 1))))
    u = (f"((doc_id * {BOOT_B} + b) * {_BOOT_MIX}) % 2147483648 "
         f"% 1000000")
    c0, c1, c2, c3, c4 = BOOT_CDF
    w = (f"CASE WHEN {u} < {c0} THEN 0 WHEN {u} < {c1} THEN 1 "
         f"WHEN {u} < {c2} THEN 2 WHEN {u} < {c3} THEN 3 "
         f"WHEN {u} < {c4} THEN 4 ELSE 5 END")
    rep = (b.select("b", F.expr(w).cast("long").alias("w"), "n_chars")
           .groupBy("b")
           .agg(F.sum("w").alias("n_eff"),
                F.sum(F.col("w") * F.col("n_chars")).alias("sum_len")))
    return rep.select(
        F.col("b").cast("long").alias("b"),
        F.col("n_eff").cast("long").alias("n_eff"),
        F.col("sum_len").cast("long").alias("sum_len"),
        F.when(F.col("n_eff") > 0,
               F.expr("(sum_len * 1000000) div n_eff"))
        .cast("long").alias("mean_q"))


def _sql_poisson_bootstrap() -> str:
    c0, c1, c2, c3, c4 = BOOT_CDF
    u = (f"((doc_id * {BOOT_B} + b) * {_BOOT_MIX}) % 2147483648 "
         f"% 1000000")
    return f"""WITH reps AS (
  SELECT doc_id, n_chars, unnest(generate_series(0, {BOOT_B - 1})) AS b
  FROM documents),
wts AS (
  SELECT b,
         CASE WHEN {u} < {c0} THEN 0 WHEN {u} < {c1} THEN 1
              WHEN {u} < {c2} THEN 2 WHEN {u} < {c3} THEN 3
              WHEN {u} < {c4} THEN 4 ELSE 5 END AS w,
         n_chars
  FROM reps),
rep AS (SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
               CAST(SUM(w * n_chars) AS BIGINT) AS sum_len
        FROM wts GROUP BY 1)
SELECT CAST(b AS BIGINT) AS b, n_eff, sum_len,
       CASE WHEN n_eff > 0
            THEN CAST((sum_len * 1000000) // n_eff AS BIGINT) END AS mean_q
FROM rep"""


# ---------------------------------------------------------------------------
# session 31 — exact quantiles over large value domains
# ---------------------------------------------------------------------------

EQ_BUCKETS = 1024
EQ_SPECS = ((50, "p50"), (90, "p90"), (99, "p99"))


def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p90/p99 of the continuous event value (cents) via
    two-pass bucket refinement — the at-scale exact-quantile algorithm
    for LARGE value domains, where token_quantiles' one-shot value
    histogram would be as big as the data: pass A ranges the domain
    into {EQ_BUCKETS} buckets and locates each quantile's bucket from
    the bucket-count cumsum; pass B histograms ONLY the (tiny) target
    buckets and picks the exact offset-th value.  No corpus sort, no
    sketch, no approximation.

    Exactness: quantile q = the smallest v with cum_count >= r,
    r = ceil(q*n/100) — a pure cumulative definition both engines
    replay; all arithmetic BIGINT (cents, counts, ranks).

    Plan: pass A is one map-side-combinable bucket agg (the window
    cumsum runs over the {EQ_BUCKETS}-row bucket relation, never the
    corpus); pass B filters the corpus by a BROADCAST <=3-bucket
    target set — the scan prunes everything else — and the in-bucket
    histogram is ~n/{EQ_BUCKETS} rows per target.

    FULL SQL ORACLE (_sql_exact_quantiles): the same rank definition
    evaluated by a full value-histogram cumsum (DuckDB can afford the
    sort at oracle scale — an INDEPENDENT evaluation strategy)."""
    ev = _events_micros(spark, sf_dir).select("cents")
    rng = ev.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"),
                 F.count("*").alias("n"))
    withb = (ev.crossJoin(F.broadcast(rng))
             .select(F.expr(f"(cents - lo) div ((hi - lo) div "
                            f"{EQ_BUCKETS} + 1)").alias("b"), "cents"))
    bcnt = withb.groupBy("b").agg(F.count("*").alias("c"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    bcum = bcnt.withColumn("cum", F.sum("c").over(wb))
    spec = None
    for q, name in EQ_SPECS:
        row = rng.select(F.lit(q).cast("long").alias("q"),
                         F.expr(f"CAST(ceil(n * {q} / 100) AS BIGINT)")
                         .alias("r"))
        spec = row if spec is None else spec.union(row)
    targets = (spec.crossJoin(bcum)
               .where(F.col("cum") >= F.col("r"))
               .groupBy("q", "r")
               .agg(F.min(F.struct("b", "cum", "c")).alias("t"))
               .select("q", "r", F.col("t.b").alias("b"),
                       (F.col("r") - (F.col("t.cum") - F.col("t.c")))
                       .alias("off"),
                       F.col("t.c").alias("bucket_n")))
    inb = (withb.join(F.broadcast(targets.select("b").distinct()), "b")
           .groupBy("b", "cents").agg(F.count("*").alias("c")))
    win = Window.partitionBy("b").orderBy("cents") \
        .rowsBetween(Window.unboundedPreceding, 0)
    incum = inb.withColumn("cum_in", F.sum("c").over(win))
    out = (targets.join(incum, "b")
           .where(F.col("cum_in") >= F.col("off"))
           .groupBy("q", "r", "b", "bucket_n")
           .agg(F.min("cents").alias("v_cents")))
    return out.select(F.col("q").cast("long").alias("q"),
                      F.col("r").cast("long").alias("r"),
                      F.col("b").cast("long").alias("bucket"),
                      F.col("bucket_n").cast("long").alias("bucket_n"),
                      F.col("v_cents").cast("long").alias("v_cents"))


def _sql_exact_quantiles() -> str:
    specs = ", ".join(f"({q})" for q, _ in EQ_SPECS)
    return f"""WITH ev AS (
  SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events),
rng AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi,
               CAST(COUNT(*) AS BIGINT) AS n FROM ev),
qs(q) AS (VALUES {specs}),
spec AS (SELECT CAST(q AS BIGINT) AS q,
                CAST(CEIL(n * q / 100) AS BIGINT) AS r FROM qs, rng),
hist AS (SELECT cents, COUNT(*) AS c,
                (cents - lo) // ((hi - lo) // {EQ_BUCKETS} + 1) AS b
         FROM ev, rng GROUP BY 1, 3),
cums AS (SELECT cents, b, c,
                SUM(c) OVER (ORDER BY cents
                             ROWS UNBOUNDED PRECEDING) AS cum
         FROM hist),
bstat AS (SELECT b, CAST(SUM(c) AS BIGINT) AS bucket_n
          FROM hist GROUP BY 1),
pick AS (SELECT q, r, MIN(cents) AS v_cents
         FROM spec JOIN cums ON cum >= r GROUP BY 1, 2)
SELECT p.q, p.r, CAST(h.b AS BIGINT) AS bucket, bstat.bucket_n,
       CAST(p.v_cents AS BIGINT) AS v_cents
FROM pick p
JOIN (SELECT DISTINCT cents, b FROM hist) h ON h.cents = p.v_cents
JOIN bstat ON bstat.b = h.b"""


# ---------------------------------------------------------------------------
# session 32 — diversified retrieval re-ranking
# ---------------------------------------------------------------------------

MMR_K = 10            # greedy selections
MMR_CAND = 20         # candidate pool: top cosine to the query vector


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell-Goldstein SIGIR
    1998): greedily pick {MMR_K} of the top-{MMR_CAND} cosine
    candidates, each round maximizing score = 0.5*rel - 0.5*max_sim_to
    _already_selected — the diversity-aware final stage of a retrieval
    stack (rrf_fusion merges scorers; MMR de-dupes the result list).

    Determinism: rel and the pairwise sims quantize ONCE to integer
    nano-units (round(cos * 1e8)), and the greedy objective is the
    monotone-equivalent integer score_n = rel_n - max_sim_n (= 2e8 *
    (0.5*rel - 0.5*ms)); every comparison after the one quantization
    is BIGINT, so no float subtraction can drift an argmax (a
    float-scored first cut lost a selection to a 1-ulp ROUND
    difference between engines).

    Plan: the candidate pool and its {MMR_CAND}^2 sim matrix compute
    once (one scan + one broadcast self-join); each greedy round is a
    3-relation join over <= {MMR_CAND} rows with the selected set
    localCheckpoint'ed (the truss/betweenness lineage-cut discipline —
    the round plans reference sel multiply).  The corpus is touched
    exactly twice regardless of K.

    FULL SQL ORACLE (_sql_mmr_rerank): the greedy rounds unrolled as
    CTE triples over the identical candidate/sim relations."""
    from proj_spark.text.similarity import cosine_expr
    emb, query = _embeddings_query(spark, sf_dir)
    cand = (emb.where(F.col("vec_id") != 0)
            .select(F.col("vec_id").cast("long").alias("vec_id"),
                    F.round(cosine_expr(F.col("embedding"), query) * 1e8,
                            0).cast("long").alias("rel_n"), "embedding")
            .orderBy(F.col("rel_n").desc(), "vec_id").limit(MMR_CAND)
            .localCheckpoint(eager=True))
    a = cand.select(F.col("vec_id").alias("a"),
                    F.col("embedding").alias("ea"))
    b = cand.select(F.col("vec_id").alias("b"),
                    F.col("embedding").alias("eb"))
    dot = F.aggregate(F.zip_with(F.col("ea"), F.col("eb"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.zip_with(F.col("ea"), F.col("ea"),
                                       lambda x, y: x * y),
                            F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.zip_with(F.col("eb"), F.col("eb"),
                                       lambda x, y: x * y),
                            F.lit(0.0), lambda acc, x: acc + x))
    sim = (a.join(F.broadcast(b), F.col("a") != F.col("b"))
           .select("a", "b", F.round(dot / (na * nb) * 1e8, 0)
                   .cast("long").alias("s_n"))
           .localCheckpoint(eager=True))
    pool = cand.select("vec_id", "rel_n")
    sel = None
    for r in range(1, MMR_K + 1):
        if sel is None:
            scored = pool.select("vec_id", "rel_n",
                                 F.col("rel_n").alias("score_n"))
        else:
            rem = pool.join(sel.select("vec_id"), "vec_id", "left_anti")
            ms = (rem.join(sim, rem.vec_id == sim.a)
                  .join(sel.select(F.col("vec_id").alias("b")), "b")
                  .groupBy("a").agg(F.max("s_n").alias("ms_n")))
            scored = (rem.join(ms, rem.vec_id == ms.a, "left")
                      .select("vec_id", "rel_n",
                              (F.col("rel_n") - F.coalesce(
                                  "ms_n", F.lit(0))).cast("long")
                              .alias("score_n")))
        w = Window.orderBy(F.col("score_n").desc(), "vec_id")
        pick = (scored.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("vec_id", "rel_n", "score_n",
                        F.lit(r).cast("long").alias("round")))
        nxt = pick if sel is None else sel.union(pick)
        sel = nxt.localCheckpoint(eager=True)
    return sel.select("round", "vec_id", "rel_n",
                      F.col("score_n").alias("mmr_n"))


def _sql_mmr_rerank() -> str:
    parts = [f"""cand AS MATERIALIZED (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), q.qv)
               / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[]))) *
                  sqrt(list_dot_product(q.qv, q.qv))) * 1e8)
         AS BIGINT) AS rel_n
  FROM embeddings,
       (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        WHERE vec_id = 0) q
  WHERE vec_id != 0
  ORDER BY rel_n DESC, vec_id LIMIT {MMR_CAND})""",
             """ev AS MATERIALIZED (SELECT c.vec_id,
                CAST(e.embedding AS DOUBLE[]) AS emb
         FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id)""",
             """sim AS MATERIALIZED (
  SELECT x.vec_id AS a, y.vec_id AS b,
         CAST(ROUND(list_dot_product(x.emb, y.emb)
               / (sqrt(list_dot_product(x.emb, x.emb)) *
                  sqrt(list_dot_product(y.emb, y.emb))) * 1e8)
              AS BIGINT) AS s_n
  FROM ev x JOIN ev y ON x.vec_id != y.vec_id)"""]
    parts.append(
        "sc1 AS MATERIALIZED (SELECT vec_id, rel_n, rel_n AS score_n "
        "FROM cand)")
    parts.append(
        "sel1 AS MATERIALIZED (SELECT vec_id, rel_n, score_n, CAST(1 AS BIGINT) AS rnd "
        "FROM sc1 ORDER BY score_n DESC, vec_id LIMIT 1)")
    for r in range(2, MMR_K + 1):
        parts.append(
            f"rem{r} AS MATERIALIZED (SELECT c.vec_id, c.rel_n FROM cand c "
            f"WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{r - 1}))")
        parts.append(
            f"ms{r} AS MATERIALIZED (SELECT sim.a AS vec_id, MAX(sim.s_n) AS ms_n "
            f"FROM sim JOIN sel{r - 1} s ON s.vec_id = sim.b "
            f"JOIN rem{r} rm ON rm.vec_id = sim.a GROUP BY 1)")
        parts.append(
            f"sc{r} AS MATERIALIZED (SELECT rm.vec_id, rm.rel_n, "
            f"CAST(rm.rel_n - COALESCE(ms.ms_n, 0) AS BIGINT) "
            f"AS score_n "
            f"FROM rem{r} rm LEFT JOIN ms{r} ms "
            f"ON ms.vec_id = rm.vec_id)")
        # the per-round LIMIT must apply to the round's scores only
        # (ORDER BY/LIMIT after UNION ALL would cap the whole union),
        # hence the explicit pick CTE
        parts.append(
            f"pick{r} AS MATERIALIZED (SELECT vec_id, rel_n, score_n FROM sc{r} "
            f"ORDER BY score_n DESC, vec_id LIMIT 1)")
        parts.append(
            f"sel{r} AS MATERIALIZED (SELECT * FROM sel{r - 1} UNION ALL "
            f"SELECT vec_id, rel_n, score_n, CAST({r} AS BIGINT) "
            f"FROM pick{r})")
    return "WITH " + ",\n".join(parts) + f"""
SELECT rnd AS round, vec_id, rel_n, score_n AS mmr_n FROM sel{MMR_K}"""


# ---------------------------------------------------------------------------
# session 33 — spatial diversity & specialization
# ---------------------------------------------------------------------------

DIV_Z = 6          # diversity lattice: z6 web-mercator tiles
DIV_MIN_N = 50     # tiles below this support are noise, dropped
LQ_MIN_N = 50      # same support floor for location quotients


def q_tile_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language diversity per z{DIV_Z} tile: richness (distinct
    languages) and the Simpson concentration index — ecology's
    diversity measures applied to the multilingual crawl map ("which
    regions are linguistic melting pots").  Simpson lambda =
    sum n_i*(n_i-1) / (N*(N-1)) is an exact RATIONAL (unlike Shannon
    it needs no logarithm), reported as the floored micro-ratio; low
    lambda = diverse, lambda = 1e6 = monolingual.

    Plan: one shuffle to the (tile, lang) counts; the per-tile rollup
    runs on the aggregated lattice (map-side combinable both stages).

    FULL SQL ORACLE (_sql_tile_diversity)."""
    pts = _points(spark, sf_dir)
    tl = (pts.select(cells.tile_x(F.col("lon"), DIV_Z).alias("tx"),
                     cells.tile_y(F.col("lat"), DIV_Z).alias("ty"),
                     "lang")
          .groupBy("tx", "ty", "lang").agg(F.count("*").alias("c")))
    out = (tl.groupBy("tx", "ty")
           .agg(F.sum("c").alias("n"),
                F.count("*").alias("richness"),
                F.sum(F.col("c") * (F.col("c") - 1)).alias("pairs"))
           .where(F.col("n") >= DIV_MIN_N))
    return out.select(
        F.col("tx").cast("long").alias("tx"),
        F.col("ty").cast("long").alias("ty"),
        F.col("n").cast("long").alias("n"),
        F.col("richness").cast("long").alias("richness"),
        F.expr("(pairs * 1000000) div (n * (n - 1))")
        .cast("long").alias("simpson_q"))


def _sql_tile_diversity(n_pages: int) -> str:
    z = DIV_Z
    return f"""WITH {_pages_cte(n_pages)},
tl AS (SELECT {cells.tile_x_sql('lon', z)} AS tx,
              {cells.tile_y_sql('lat', z)} AS ty,
              lang, CAST(COUNT(*) AS BIGINT) AS c
       FROM pages GROUP BY 1, 2, 3)
SELECT tx, ty, CAST(SUM(c) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS richness,
       CAST((SUM(c * (c - 1)) * 1000000)
            // (SUM(c) * (SUM(c) - 1)) AS BIGINT) AS simpson_q
FROM tl GROUP BY 1, 2 HAVING SUM(c) >= {DIV_MIN_N}"""


def q_location_quotient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Location quotient of each language per z{DIV_Z} tile: the
    regional-specialization measure LQ = (share of lang in tile) /
    (share of lang globally) — LQ > 1 means the tile over-represents
    that language (the economic-geography standard for "where is X
    concentrated", the per-cell complement of the lang_scan
    neighborhood statistic).

    Exactness: LQ_q = (c_tl * N * 1e6) div (n_t * c_l) — one floored
    division over four exact BIGINT counts (overflow bound: c_tl * N
    <= N^2 = 3.6e13 at sf1 * 1e6 = 3.6e19... so c_tl is capped by
    n_t: c_tl * N * 1e6 <= n_t * N * 1e6 with n_t <= 1e6 per tile at
    sf1 -> 6e18 < 2^63; the division denominator keeps the quotient
    small).

    Plan: one shuffle to the (tile, lang) lattice; tile margins,
    language margins and the one-row total broadcast back.

    FULL SQL ORACLE (_sql_location_quotient)."""
    pts = _points(spark, sf_dir)
    tl = (pts.select(cells.tile_x(F.col("lon"), DIV_Z).alias("tx"),
                     cells.tile_y(F.col("lat"), DIV_Z).alias("ty"),
                     "lang")
          .groupBy("tx", "ty", "lang").agg(F.count("*").alias("c")))
    nt = tl.groupBy("tx", "ty").agg(F.sum("c").alias("n_t"))
    nl = tl.groupBy("lang").agg(F.sum("c").alias("c_l"))
    tot = tl.agg(F.sum("c").alias("nn"))
    out = (tl.join(nt, ["tx", "ty"])
           .join(F.broadcast(nl), "lang")
           .crossJoin(F.broadcast(tot))
           .where(F.col("n_t") >= LQ_MIN_N)
           .select(F.col("tx").cast("long").alias("tx"),
                   F.col("ty").cast("long").alias("ty"),
                   "lang",
                   F.col("c").cast("long").alias("c_tl"),
                   F.col("n_t").cast("long").alias("n_t"),
                   F.col("c_l").cast("long").alias("c_l"),
                   F.expr("(c * nn * 1000000) div (n_t * c_l)")
                   .cast("long").alias("lq_q")))
    return out


def _sql_location_quotient(n_pages: int) -> str:
    z = DIV_Z
    return f"""WITH {_pages_cte(n_pages)},
tl AS (SELECT {cells.tile_x_sql('lon', z)} AS tx,
              {cells.tile_y_sql('lat', z)} AS ty,
              lang, CAST(COUNT(*) AS BIGINT) AS c
       FROM pages GROUP BY 1, 2, 3),
nt AS (SELECT tx, ty, CAST(SUM(c) AS BIGINT) AS n_t FROM tl GROUP BY 1, 2),
nl AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS c_l FROM tl GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM tl)
SELECT tl.tx, tl.ty, tl.lang, c AS c_tl, n_t, c_l,
       CAST((c * nn * 1000000) // (n_t * c_l) AS BIGINT) AS lq_q
FROM tl JOIN nt ON nt.tx = tl.tx AND nt.ty = tl.ty
JOIN nl ON nl.lang = tl.lang, tot
WHERE n_t >= {LQ_MIN_N}"""


# ---------------------------------------------------------------------------
# session 34 — privacy / re-identification audit
# ---------------------------------------------------------------------------

KANON_K = 5         # k-anonymity threshold
LDIV_L = 2          # l-diversity threshold
KANON_LEN_BUCKET = 100   # length quasi-identifier coarsening


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit of the document table (Sweeney
    2002; Machanavajjhala et al. 2007): treat (source, length bucket)
    as the quasi-identifier and language as the sensitive attribute —
    a record is re-identifiable if its QI equivalence class has fewer
    than k={KANON_K} members, and attribute-disclosable if the class
    carries fewer than l={LDIV_L} distinct sensitive values.  The
    data-governance screen a release pipeline runs before shipping a
    corpus.

    Exactness: class sizes, distinct counts and the risky-record
    totals are exact BIGINTs; the length bucket is integer floor
    division — no engine-private binning.

    Plan: one shuffle to the QI classes (count + distinct-lang in the
    same hash agg via a two-level rollup); the output is one row per
    QI class plus the audit flags.

    FULL SQL ORACLE (_sql_k_anonymity)."""
    docs = _docs(spark, sf_dir)
    cls = (docs.select(
        "source",
        F.expr(f"n_chars div {KANON_LEN_BUCKET}").alias("len_b"),
        "lang")
        .groupBy("source", "len_b", "lang")
        .agg(F.count("*").alias("c")))
    return (cls.groupBy("source", "len_b")
            .agg(F.sum("c").alias("class_n"),
                 F.count("*").alias("l_div"))
            .select("source",
                    F.col("len_b").cast("long").alias("len_b"),
                    F.col("class_n").cast("long").alias("class_n"),
                    F.col("l_div").cast("long").alias("l_div"),
                    (F.col("class_n") < KANON_K).alias("k_risky"),
                    (F.col("l_div") < LDIV_L).alias("l_risky")))


def _sql_k_anonymity() -> str:
    return f"""WITH cls AS (
  SELECT source, n_chars // {KANON_LEN_BUCKET} AS len_b, lang,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2, 3)
SELECT source, CAST(len_b AS BIGINT) AS len_b,
       CAST(SUM(c) AS BIGINT) AS class_n,
       CAST(COUNT(*) AS BIGINT) AS l_div,
       SUM(c) < {KANON_K} AS k_risky,
       COUNT(*) < {LDIV_L} AS l_risky
FROM cls GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# session 35 — robust location & causal screens
# ---------------------------------------------------------------------------

TRIM_PCT = 10    # symmetric trim fraction (percent) per tail


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact {TRIM_PCT}%-trimmed mean of document length per source —
    the robust location estimate between the mean (outlier-fragile)
    and the median (throws information away); the robust-statistics
    sibling of mad_outliers.

    Exactness: with lo = (n * {TRIM_PCT}) div 100 trimmed from each
    tail, the kept-rank interval is [lo+1, n-lo]; each value-histogram
    row [cum-c+1, cum] keeps k = max(0, min(cum, n-lo) - max(cum-c+1,
    lo+1) + 1) occurrences — pure interval arithmetic on exact
    BIGINTs, no per-row sort, and the mean one floored micro-division.

    Plan: one shuffle to the (source, value) histogram; the cumsum
    window runs inside each source partition over the tiny histogram.

    FULL SQL ORACLE (_sql_trimmed_mean)."""
    docs = _docs(spark, sf_dir)
    hist = (docs.groupBy("source", F.col("n_chars").cast("long")
                         .alias("v"))
            .agg(F.count("*").alias("c")))
    w = Window.partitionBy("source").orderBy("v") \
        .rowsBetween(Window.unboundedPreceding, 0)
    cum = (hist.withColumn("cum", F.sum("c").over(w))
           .withColumn("n", F.sum("c").over(
               Window.partitionBy("source"))))
    lo = F.expr(f"(n * {TRIM_PCT}) div 100")
    k = F.greatest(
        F.lit(0),
        F.least(F.col("cum"), F.col("n") - lo)
        - F.greatest(F.col("cum") - F.col("c") + 1, lo + 1) + 1)
    out = (cum.select("source", "n", lo.alias("lo"), "v", k.alias("k"))
           .groupBy("source", "n", "lo")
           .agg(F.sum(F.col("v") * F.col("k")).alias("tsum"),
                F.sum("k").alias("tn")))
    return out.select(
        "source", F.col("n").cast("long").alias("n"),
        F.col("lo").cast("long").alias("lo"),
        F.col("tn").cast("long").alias("tn"),
        F.col("tsum").cast("long").alias("tsum"),
        F.expr("(tsum * 1000000) div tn").cast("long")
        .alias("tmean_q"))


def _sql_trimmed_mean() -> str:
    return f"""WITH hist AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2),
cum AS (
  SELECT source, v, c,
         SUM(c) OVER (PARTITION BY source ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY source) AS n
  FROM hist),
kept AS (
  SELECT source, n, (n * {TRIM_PCT}) // 100 AS lo, v,
         GREATEST(0, LEAST(cum, n - (n * {TRIM_PCT}) // 100)
                  - GREATEST(cum - c + 1, (n * {TRIM_PCT}) // 100 + 1)
                  + 1) AS k
  FROM cum)
SELECT source, CAST(n AS BIGINT) AS n, CAST(lo AS BIGINT) AS lo,
       CAST(SUM(k) AS BIGINT) AS tn, CAST(SUM(v * k) AS BIGINT) AS tsum,
       CAST((SUM(v * k) * 1000000) // SUM(k) AS BIGINT) AS tmean_q
FROM kept GROUP BY 1, 2, 3"""


DID_TREAT = "purchase"
DID_CTRL = "click"


def q_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences screen over the event stream: the
    change in mean event value (cents) from the first to the second
    half of the observation window, for '{DID_TREAT}' (treated) minus
    the same change for '{DID_CTRL}' (control) — the workhorse
    causal-inference estimator, here as a data-quality screen (a
    non-zero DiD flags a type-specific shift a global trend cannot
    explain).

    Exactness: the period cutoff is the exact integer midpoint hour of
    the GLOBAL horizon (both engines derive it identically), the four
    cell means are floored micro-ratios, and did_q is a difference of
    those exact integers.

    Plan: one corpus shuffle to the 4 (group, period) cells; the
    horizon travels as a broadcast one-row aggregate.

    FULL SQL ORACLE (_sql_did)."""
    ev = _events_micros(spark, sf_dir)
    hor = ev.agg(F.expr(f"min({_HOUR})").alias("x_min"),
                 F.expr(f"max({_HOUR})").alias("x_max"))
    cells_ = (ev.where(F.col("event_type").isin(DID_TREAT, DID_CTRL))
              .crossJoin(F.broadcast(hor))
              .select((F.col("event_type") == DID_TREAT).alias("treated"),
                      (F.expr(_HOUR)
                       >= F.expr("x_min + (x_max - x_min) div 2"))
                      .alias("late"), "cents")
              .groupBy("treated", "late")
              .agg(F.count("*").alias("n"), F.sum("cents").alias("s"))
              .select("treated", "late", "n", "s",
                      F.expr("(s * 1000000) div n").alias("m_q")))
    # assemble the single DiD row via conditional aggregation (no
    # pivot — identical shape in both engines)
    out = cells_.agg(
        F.sum(F.when(F.col("treated") & ~F.col("late"),
                     F.col("m_q"))).alias("m_t1"),
        F.sum(F.when(F.col("treated") & F.col("late"),
                     F.col("m_q"))).alias("m_t2"),
        F.sum(F.when(~F.col("treated") & ~F.col("late"),
                     F.col("m_q"))).alias("m_c1"),
        F.sum(F.when(~F.col("treated") & F.col("late"),
                     F.col("m_q"))).alias("m_c2"),
        F.sum(F.when(F.col("treated"), F.col("n"))).alias("n_t"),
        F.sum(F.when(~F.col("treated"), F.col("n"))).alias("n_c"))
    return out.select(
        F.col("n_t").cast("long").alias("n_t"),
        F.col("n_c").cast("long").alias("n_c"),
        F.col("m_t1").cast("long").alias("m_t1"),
        F.col("m_t2").cast("long").alias("m_t2"),
        F.col("m_c1").cast("long").alias("m_c1"),
        F.col("m_c2").cast("long").alias("m_c2"),
        ((F.col("m_t2") - F.col("m_t1"))
         - (F.col("m_c2") - F.col("m_c1"))).cast("long").alias("did_q"))


def _sql_did() -> str:
    return f"""WITH ev AS (
  SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
         {_SQL_HOUR} AS x
  FROM events),
hor AS (SELECT MIN(x) AS x_min, MAX(x) AS x_max FROM ev),
cells AS (
  SELECT event_type = '{DID_TREAT}' AS treated,
         x >= x_min + (x_max - x_min) // 2 AS late,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s,
         (SUM(cents) * 1000000) // COUNT(*) AS m_q
  FROM ev, hor WHERE event_type IN ('{DID_TREAT}', '{DID_CTRL}')
  GROUP BY 1, 2)
SELECT CAST(SUM(CASE WHEN treated THEN n END) AS BIGINT) AS n_t,
       CAST(SUM(CASE WHEN NOT treated THEN n END) AS BIGINT) AS n_c,
       CAST(SUM(CASE WHEN treated AND NOT late THEN m_q END) AS BIGINT)
         AS m_t1,
       CAST(SUM(CASE WHEN treated AND late THEN m_q END) AS BIGINT)
         AS m_t2,
       CAST(SUM(CASE WHEN NOT treated AND NOT late THEN m_q END)
            AS BIGINT) AS m_c1,
       CAST(SUM(CASE WHEN NOT treated AND late THEN m_q END) AS BIGINT)
         AS m_c2,
       CAST((SUM(CASE WHEN treated AND late THEN m_q END)
             - SUM(CASE WHEN treated AND NOT late THEN m_q END))
            - (SUM(CASE WHEN NOT treated AND late THEN m_q END)
               - SUM(CASE WHEN NOT treated AND NOT late THEN m_q END))
            AS BIGINT) AS did_q
FROM cells"""


# ---------------------------------------------------------------------------
# session 36 — information rate of user behavior
# ---------------------------------------------------------------------------


def q_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the event-type Markov chain: H = sum_f pi_f *
    H(next | f) in micro-nats — the information-per-step of user
    behavior (Shannon 1948 ch. 7; low rate = predictable sessions),
    combining the q_event_transitions matrix with the
    q_markov_stationary distribution.

    Exactness: pi is the identical {MS_ROUNDS}-round quantized power
    iteration (BIGINT micro-units, floored per-edge contributions);
    each transition's log-ratio ln(row_total/n) quantizes ONCE to
    integer micro-nats (the bigram_entropy discipline), the per-state
    entropy h_f = sum_t (n * lnq) div row_total is a sum of floored
    integers, and the weighted term (pi_f * h_f) div 1e6 one more
    floored product — engine-order-independent throughout.

    Plan: ONE corpus shuffle (the per-user LEAD window); the 5x5
    matrix, the power iteration and the entropy assembly all run on
    broadcast-sized relations.

    FULL SQL ORACLE (_sql_entropy_rate)."""
    e, pi = _markov_chain(spark, sf_dir)
    lnq = F.round(F.log(F.col("row_total").cast("double")
                        / F.col("n").cast("double")) * 1e6, 0) \
        .cast("long")
    hf = (e.select("f", "row_total", (F.col("n") * lnq).alias("num"))
          .groupBy("f", "row_total")
          .agg(F.sum(F.expr("num div row_total")).alias("h_f_q")))
    out = (hf.join(pi.withColumnRenamed("typ", "f"), "f")
           .select(F.col("f").alias("event_type"),
                   F.col("row_total").cast("long").alias("row_total"),
                   F.col("score").cast("long").alias("pi_q"),
                   F.col("h_f_q").cast("long").alias("h_f_q"),
                   F.expr(f"(score * h_f_q) div {MS_INIT}")
                   .cast("long").alias("wh_q")))
    return out


def _sql_entropy_rate() -> str:
    parts = _sql_markov_chain()
    parts.append("""hf AS (
  SELECT f, row_total,
         CAST(SUM((n * CAST(ROUND(LN(CAST(row_total AS DOUBLE)
                                   / CAST(n AS DOUBLE)) * 1e6, 0)
                            AS BIGINT)) // row_total) AS BIGINT) AS h_f_q
  FROM e GROUP BY 1, 2)""")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT hf.f AS event_type, hf.row_total,
       p.score AS pi_q, hf.h_f_q,
       CAST((p.score * hf.h_f_q) // {MS_INIT} AS BIGINT) AS wh_q
FROM hf JOIN p{MS_ROUNDS} p ON p.typ = hf.f""")


# ---------------------------------------------------------------------------
# non-EPSG authority CRS (IGNF registry)
# ---------------------------------------------------------------------------

IGNF_CRS = "IGNF:LAMB93"
_FR_BBOX = (-5.0, 41.0, 9.5, 51.5)     # metropolitan-France lon/lat box


def q_ignf_lamb93(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every page inside the metropolitan-France bbox through an
    IGNF-authority CRS (IGNF:LAMB93, resolved from the vendored IGNF
    registry — reference data/sql/ignf.sql; create() accepts the
    authority code directly) and roll up per 100 km Lambert-93 tile.

    FULL SQL ORACLE (_sql_ignf_lamb93): the LCC 2SP forward (tsfn ->
    rho -> rotation; src/projections/lcc.cpp) expands term-by-term into
    DuckDB SQL with the compiled operator's own cone constants
    (n, c, rho0) as literals.  Aggregates round to cm; tile ids are
    exact floors 100 km apart, far beyond libm drift.

    Plan: one map-side Arrow pass (fwd_udf) + one aggregation shuffle —
    at 100 TB the bbox filter prunes before the UDF and the rollup is
    the only exchange."""
    from proj_spark import create
    from proj_spark.spark.udf import fwd_udf

    op = create(IGNF_CRS)
    w, s, e_, n_ = _FR_BBOX
    pts = _points(spark, sf_dir).where(
        (F.col("lon") >= w) & (F.col("lon") <= e_)
        & (F.col("lat") >= s) & (F.col("lat") <= n_))
    d = pts.withColumn("_p", fwd_udf(op)(F.col("lon"), F.col("lat")))
    return (d.select(
        F.floor(F.col("_p.x") / F.lit(100000.0)).cast("long").alias("tx"),
        F.floor(F.col("_p.y") / F.lit(100000.0)).cast("long").alias("ty"),
        F.col("_p.x").alias("x"), F.col("_p.y").alias("y"))
        .groupBy("tx", "ty")
        .agg(F.count("*").alias("n_pages"),
             F.round(F.min("x"), 2).alias("min_e"),
             F.round(F.max("x"), 2).alias("max_e"),
             F.round(F.min("y"), 2).alias("min_n"),
             F.round(F.max("y"), 2).alias("max_n")))


def _sql_ignf_lamb93(n: int) -> str:
    """LCC 2SP forward oracle with the IGNF:LAMB93 operator's constants
    as literals (same replay discipline as _sql_factors)."""
    from proj_spark import create
    from proj_spark import mathutils as mu

    op = create(IGNF_CRS)
    N_, C_, RHO0 = repr(op.n), repr(op.c), repr(op.rho0)
    E_, EH = repr(op.e), repr(0.5 * op.e)
    A_, K0 = repr(op.a), repr(op.k0)
    X0, Y0, LAM0 = repr(op.x0), repr(op.y0), repr(op.lam0)
    HP = repr(mu.HALFPI)
    w, s, e_, n_b = _FR_BBOX
    t = (f"(TAN(0.5 * ({HP} - p)) / "
         f"POW((1.0 - {E_} * SIN(p)) / (1.0 + {E_} * SIN(p)), {EH}))")
    rho = f"({C_} * POW({t}, {N_}))"
    xe = f"({A_} * ({K0} * {rho} * SIN(nl)) + {X0})"
    ye = f"({A_} * ({K0} * ({RHO0} - {rho} * COS(nl))) + {Y0})"
    return f"""WITH {_pages_cte(n)},
fr AS (
  SELECT RADIANS(lat) AS p, (RADIANS(lon) - {LAM0}) * {N_} AS nl
  FROM pages
  WHERE lon >= {w!r} AND lon <= {e_!r} AND lat >= {s!r} AND lat <= {n_b!r}
),
prj AS (SELECT {xe} AS x, {ye} AS y FROM fr)
SELECT CAST(FLOOR(x / 100000.0) AS BIGINT) AS tx,
       CAST(FLOOR(y / 100000.0) AS BIGINT) AS ty,
       CAST(COUNT(*) AS BIGINT) AS n_pages,
       ROUND(MIN(x), 2) AS min_e, ROUND(MAX(x), 2) AS max_e,
       ROUND(MIN(y), 2) AS min_n, ROUND(MAX(y), 2) AS max_n
FROM prj GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# time-dependent reference-frame drift (kinematic 14-param Helmert)
# ---------------------------------------------------------------------------

ITRF_EPOCH0, ITRF_N_EPOCHS = 2010, 20


def _itrf_helmert():
    """The EPSG ITRF2005 -> ETRF2000 time-dependent transformation
    (EPSG:7950, method 1053) compiled into the engine's kinematic
    Helmert kernel via the catalog's unit-converted parameters."""
    from proj_spark.factory import catalog
    from proj_spark.operations.helmert import Helmert
    from proj_spark.planner import _helmert14_params
    cat = catalog()
    return Helmert(_helmert14_params(cat["helmert"]["7950"], cat))


def q_itrf_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plate-motion drift screen: every page, tagged with a
    deterministic observation epoch (2010..2029), runs through the
    FULL kinematic datum pipeline — cart fwd -> 14-param Helmert with
    parameters propagated to the row's epoch (EPSG:7950,
    ITRF2005->ETRF2000; reference src/transformations/helmert.cpp:
    107-161 update_parameters) -> Bowring cart inverse — in one Arrow
    pass, then bins the induced horizontal shift per epoch at 0.001
    arcsec (the q_datum_shift discipline, now time-dependent).

    FULL SQL ORACLE (_sql_itrf_drift): the per-epoch rotation matrices,
    translations and scales are lifted from the compiled operator at
    each of the {ITRF_N_EPOCHS} epochs as literals into a lookup CTE —
    the SQL replays cart -> R(t) -> Bowring bit-for-bit per epoch.

    Plan: map-side UDF (per-distinct-epoch matmul inside the kernel)
    + one aggregation shuffle."""
    import numpy as np

    from proj_spark import create

    cart = create("+proj=cart +ellps=GRS80")
    hel = _itrf_helmert()

    def drift(lon, lat, t):
        lam, phi = np.radians(lon), np.radians(lat)
        X, Y, Z = cart.fwd3d(lam, phi, np.zeros_like(lam))
        X2, Y2, Z2 = hel.fwd(X, Y, Z, t)
        lam2, phi2, _ = cart.inv3d(X2, Y2, Z2)
        return np.degrees(phi2), np.degrees(lam2)

    _drift = kernel_udf(drift, "lat2 double, lon2 double")

    pts = _points(spark, sf_dir)
    pid = F.regexp_extract("url", r"page/(\d+)$", 1).cast("long")
    d = (pts.withColumn("epoch",
                        (F.lit(ITRF_EPOCH0) + pid % ITRF_N_EPOCHS)
                        .cast("double"))
         .withColumn("_g", _drift(F.col("lon"), F.col("lat"),
                                  F.col("epoch"))))
    dlat = F.round((F.col("_g.lat2") - F.col("lat")) * 3600.0, 3)
    dlon = F.round((F.col("_g.lon2") - F.col("lon")) * 3600.0, 3)
    return (d.select(F.col("epoch").cast("long").alias("epoch"),
                     dlat.alias("dlat_as"), dlon.alias("dlon_as"))
            .groupBy("epoch", "dlat_as", "dlon_as")
            .agg(F.count("*").alias("n_pages")))


def _sql_itrf_drift(n: int) -> str:
    """Kinematic datum oracle: one literal parameter row per epoch."""
    from proj_spark import create

    cart = create("+proj=cart +ellps=GRS80")
    hel = _itrf_helmert()
    a, es = repr(cart.a), repr(cart.es)
    b, e2s = repr(cart.ell.b), repr(cart.ell.e2s)
    rows = []
    for k in range(ITRF_N_EPOCHS):
        year = float(ITRF_EPOCH0 + k)
        trans, r, scale = hel._params_at(year)
        rows.append(
            f"({int(year)}, {scale!r}, {trans[0]!r}, {trans[1]!r}, "
            f"{trans[2]!r}, {r[0, 0]!r}, {r[0, 1]!r}, {r[0, 2]!r}, "
            f"{r[1, 0]!r}, {r[1, 1]!r}, {r[1, 2]!r}, {r[2, 0]!r}, "
            f"{r[2, 1]!r}, {r[2, 2]!r})")
    vals = ",\n    ".join(rows)
    return f"""WITH {_pages_cte(n)},
par(epoch, sc, tx, ty, tz, r00, r01, r02, r10, r11, r12,
    r20, r21, r22) AS (VALUES
    {vals}
),
geo AS (
  SELECT 2010 + i % 20 AS epoch, lat, lon,
         RADIANS(lat) AS phi, RADIANS(lon) AS lam
  FROM pages
),
cartf AS (
  SELECT epoch, lat, lon,
         ({a} / SQRT(1.0 - {es} * SIN(phi) * SIN(phi)) + 0.0)
             * COS(phi) * COS(lam) AS cx,
         ({a} / SQRT(1.0 - {es} * SIN(phi) * SIN(phi)) + 0.0)
             * COS(phi) * SIN(lam) AS cy,
         ({a} / SQRT(1.0 - {es} * SIN(phi) * SIN(phi)) * (1.0 - {es}) + 0.0)
             * SIN(phi) AS cz
  FROM geo
),
helm AS (
  SELECT c.epoch, lat, lon,
         p.sc * (p.r00 * cx + p.r01 * cy + p.r02 * cz) + p.tx AS x2,
         p.sc * (p.r10 * cx + p.r11 * cy + p.r12 * cz) + p.ty AS y2,
         p.sc * (p.r20 * cx + p.r21 * cy + p.r22 * cz) + p.tz AS z2
  FROM cartf c JOIN par p ON p.epoch = c.epoch
),
bow AS (
  SELECT epoch, lat, lon, x2, y2, z2,
         SQRT(x2 * x2 + y2 * y2) AS p,
         ATAN2(z2 * {a}, SQRT(x2 * x2 + y2 * y2) * {b}) AS theta
  FROM helm
),
inv AS (
  SELECT epoch, lat, lon,
         DEGREES(ATAN2(z2 + {e2s} * {b} * SIN(theta) * SIN(theta) * SIN(theta),
                       p - {es} * {a} * COS(theta) * COS(theta) * COS(theta)))
             AS lat2,
         DEGREES(ATAN2(y2, x2)) AS lon2
  FROM bow
)
SELECT CAST(epoch AS BIGINT) AS epoch,
       ROUND((lat2 - lat) * 3600.0, 3) + 0.0 AS dlat_as,
       ROUND((lon2 - lon) * 3600.0, 3) + 0.0 AS dlon_as,
       COUNT(*) AS n_pages
FROM inv GROUP BY 1, 2, 3"""


# ---------------------------------------------------------------------------
# vertical CRS surface: orthometric heights through a synthetic geoid
# ---------------------------------------------------------------------------

GEOID_GRID = "synthetic_geoid.gtx"
GEOID_BBOX = (-10.0, 35.0, 40.0, 65.0)     # lon/lat extent, 0.5 deg step


def _ensure_geoid_grid():
    """Deterministic synthetic geoid (float32 nodes of a sin/cos
    undulation surface), written as a real .gtx and loaded through the
    engine's GTX loader — the compound-CRS vertical leg exercised with
    its production file format.  Idempotent per process."""
    import tempfile

    import numpy as np

    from proj_spark.grids import register_grid_file, write_gtx
    from proj_spark.operations import datum as datum_mod
    if GEOID_GRID in datum_mod.GRID_REGISTRY:
        return
    w, s, e_, n_ = GEOID_BBOX
    nlat = int(round((n_ - s) / 0.5)) + 1
    nlon = int(round((e_ - w) / 0.5)) + 1
    jj, ii = np.mgrid[0:nlat, 0:nlon]
    und = 40.0 + 5.0 * np.sin(0.3 * jj) + 3.0 * np.cos(0.2 * ii)
    f = tempfile.NamedTemporaryFile(suffix=".gtx", delete=False)
    f.close()
    write_gtx(f.name, s, w, 0.5, 0.5, und)
    register_grid_file(GEOID_GRID, f.name)


def q_geoid_heights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orthometric heights through the vertical-CRS leg: every page
    inside the geoid extent gets a deterministic ellipsoidal height,
    runs through the engine's REAL vgridshift kernel (GTX parse ->
    bilinear interpolation, src/vgridshift.cpp + nad_intr.cpp
    semantics) in one Arrow batch pass, and rolls up per 1-degree cell.

    FULL SQL ORACLE (_sql_geoid_heights): the float32 node surface and
    the bilinear lookup replay term-by-term in DuckDB with the
    operator's own grid constants as literals, in the kernel's exact
    operation order (including the adjlon -pi/+pi normalization, kept
    for bit-faithfulness).  Aggregates are order-independent min/max
    rounded to 0.1 mm.

    Plan: map-side UDF + one aggregation shuffle; at 100 TB the geoid
    grid rides the closure (a few MB) and the bbox filter prunes at
    the scan."""
    import numpy as np

    from proj_spark import create

    _ensure_geoid_grid()
    op = create(f"+proj=vgridshift +grids={GEOID_GRID} +ellps=GRS80")
    w, s, e_, n_ = GEOID_BBOX

    def ortho(lon, lat, z):
        return op.fwd3d(np.radians(lon), np.radians(lat), z)[2]

    _ortho = kernel_udf(ortho, "double")

    pts = _points(spark, sf_dir).where(
        (F.col("lon") > w + 0.01) & (F.col("lon") < e_ - 0.01)
        & (F.col("lat") > s + 0.01) & (F.col("lat") < n_ - 0.01))
    pid = F.regexp_extract("url", r"page/(\d+)$", 1).cast("long")
    d = (pts.withColumn("z", F.lit(50.0) + (pid % 2000) / F.lit(10.0))
         .withColumn("h", _ortho(F.col("lon"), F.col("lat"), F.col("z"))))
    return (d.groupBy(F.floor("lon").cast("long").alias("cx"),
                      F.floor("lat").cast("long").alias("cy"))
            .agg(F.count("*").alias("n_pages"),
                 F.round(F.min("h"), 4).alias("min_h"),
                 F.round(F.max("h"), 4).alias("max_h")))


def _sql_geoid_heights(n: int) -> str:
    """Bilinear GTX replay with the registered grid's constants as
    literals (load_gtx stores ll/del in radians)."""
    import math as _m

    from proj_spark import create

    _ensure_geoid_grid()
    op = create(f"+proj=vgridshift +grids={GEOID_GRID} +ellps=GRS80")
    g = op.grid
    LL0, LL1 = repr(g.ll[0]), repr(g.ll[1])
    DL0, DL1 = repr(g.del_[0]), repr(g.del_[1])
    PI = repr(_m.pi)
    w, s, e_, n_b = GEOID_BBOX
    nlat, nlon = g.cvs.shape
    return f"""WITH {_pages_cte(n)},
nodes AS (
  SELECT j.j AS j, i.i AS i,
         CAST(CAST(40.0 + 5.0 * SIN(0.3 * j.j) + 3.0 * COS(0.2 * i.i)
              AS FLOAT) AS DOUBLE) AS v
  FROM (SELECT unnest(generate_series(0, {nlat - 1})) AS j) j,
       (SELECT unnest(generate_series(0, {nlon - 1})) AS i) i
),
pts AS (
  SELECT i AS pid, lat, lon, 50.0 + (i % 2000) / 10.0 AS z
  FROM pages
  WHERE lon > {w + 0.01!r} AND lon < {e_ - 0.01!r}
    AND lat > {s + 0.01!r} AND lat < {n_b - 0.01!r}
),
frac AS (
  SELECT pid, lat, lon, z,
         ((RADIANS(lon) - {LL0} - {PI}) + {PI}) / {DL0} AS tl,
         (RADIANS(lat) - {LL1}) / {DL1} AS tp
  FROM pts
),
cell AS (
  SELECT pid, lat, lon, z,
         CAST(FLOOR(tl) AS BIGINT) AS il, CAST(FLOOR(tp) AS BIGINT) AS ip,
         tl - FLOOR(tl) AS fl, tp - FLOOR(tp) AS fp
  FROM frac
),
interp AS (
  SELECT c.pid, c.lat, c.lon, c.z,
         (1.0 - c.fl) * (1.0 - c.fp) * v00.v + c.fl * (1.0 - c.fp) * v10.v
         + (1.0 - c.fl) * c.fp * v01.v + c.fl * c.fp * v11.v AS nval
  FROM cell c
  JOIN nodes v00 ON v00.j = c.ip AND v00.i = c.il
  JOIN nodes v10 ON v10.j = c.ip AND v10.i = c.il + 1
  JOIN nodes v01 ON v01.j = c.ip + 1 AND v01.i = c.il
  JOIN nodes v11 ON v11.j = c.ip + 1 AND v11.i = c.il + 1
)
SELECT CAST(FLOOR(lon) AS BIGINT) AS cx, CAST(FLOOR(lat) AS BIGINT) AS cy,
       CAST(COUNT(*) AS BIGINT) AS n_pages,
       ROUND(MIN(z - nval), 4) AS min_h,
       ROUND(MAX(z - nval), 4) AS max_h
FROM interp GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: webmerc tile density of geotagged pages at sf0.001."""
    return q_tile_density(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every `q_<name>` function of this module, keyed by `<name>`, in
    definition order."""
    return {k[2:]: f for k, f in globals().items() if k.startswith("q_")}


def oracle_sql() -> dict[str, str]:
    """The DuckDB oracle `_sql_<name>` of every query.  An oracle that
    takes an argument gets the page count at ORACLE_SF."""
    n = int(round(PAGES_PER_SF * ORACLE_SF))
    out = {}
    for name in queries():
        fn = globals()[f"_sql_{name}"]
        out[name] = fn(n) if fn.__code__.co_argcount else fn()
    return out
