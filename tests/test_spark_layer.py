"""End-to-end Spark tests: pages synthesis/extraction, projection UDFs,
cells/tiles, PIP join, kNN, dedup — each checked against an independent
NumPy brute-force oracle at small scale."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from proj_spark.pages import synth_pages, extract_geotags
from proj_spark.spark.udf import project
from proj_spark.spatial import cells
from proj_spark.spatial.pip import pip_join, pip_expr
from proj_spark.spatial.knn import knn_join, EARTH_R


N_PAGES = 2000


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, N_PAGES).cache()


@pytest.fixture(scope="module")
def geo(spark, pages):
    return extract_geotags(pages).where(F.col("lat").isNotNull()).cache()


def test_pages_schema_and_determinism(spark, pages):
    assert [f.name for f in pages.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    assert dict(pages.dtypes)["html"] == "binary"
    a = pages.orderBy("url").limit(5).collect()
    b = synth_pages(spark, N_PAGES).orderBy("url").limit(5).collect()
    assert a == b  # fully deterministic, no RNG


def test_geotag_extraction_and_text_invariant(spark, pages, geo):
    n = pages.count()
    g = geo.count()
    assert g == n  # every synthetic page carries a tag
    # text byte-identity: extraction must not touch text
    joined = pages.select("url", F.col("text").alias("t0")).join(
        geo.select("url", "text"), "url")
    assert joined.where(F.col("t0") != F.col("text")).count() == 0
    # spot-check one row's lat/lon against the values embedded in html
    row = geo.select("url", "html", "lat", "lon").first()
    html = bytes(row["html"]).decode()
    assert f"{row['lat']}" in html and f"{row['lon']}" in html


def test_webmerc_expr_matches_kernel(spark, geo):
    from proj_spark import create
    df = project(geo.select("url", "lon", "lat"), "+proj=webmerc +ellps=WGS84")
    pdf = df.limit(500).toPandas()
    op = create("+proj=webmerc +ellps=WGS84")
    x, y = op.fwd_deg(pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
    assert np.max(np.abs(pdf["x"].to_numpy() - x)) < 1e-6
    assert np.max(np.abs(pdf["y"].to_numpy() - y)) < 1e-6


def test_utm_udf_known_value(spark):
    df = spark.createDataFrame([(12.0, 56.0)], ["lon", "lat"])
    out = project(df, "+proj=utm +zone=32 +ellps=GRS80").first()
    assert abs(out["x"] - 687071.43910944) < 1e-6
    assert abs(out["y"] - 6210141.32674801) < 1e-6


def test_cells_pack_roundtrip(spark):
    df = spark.createDataFrame([(2.0, 1.0), (-74.0, 40.7), (139.7, 35.7)], ["lon", "lat"])
    z = 12
    out = df.select(
        cells.tile_x(F.col("lon"), z).alias("x"),
        cells.tile_y(F.col("lat"), z).alias("y"),
        cells.cell_id(F.col("lon"), F.col("lat"), z).alias("cell"),
    ).withColumn("z2", cells.cell_z(F.col("cell"))) \
     .withColumn("x2", cells.cell_x(F.col("cell"))) \
     .withColumn("y2", cells.cell_y(F.col("cell"))) \
     .withColumn("parent", cells.cell_parent(F.col("cell")))
    for r in out.collect():
        assert r["z2"] == z and r["x2"] == r["x"] and r["y2"] == r["y"]
        assert cells_unpack(r["parent"]) == (z - 1, r["x"] // 2, r["y"] // 2)
    # slippy-map oracle for one known point
    r = out.collect()[1]
    n = 1 << z
    ex = int(((-74.0) + 180.0) / 360.0 * n)
    phi = math.radians(40.7)
    ey = int((1.0 - math.asinh(math.tan(phi)) / math.pi) / 2.0 * n)
    assert (r["x"], r["y"]) == (ex, ey)


def cells_unpack(cell: int):
    return cell >> 58, (cell >> 29) & ((1 << 29) - 1), cell & ((1 << 29) - 1)


def test_neighbor_cells(spark):
    df = spark.createDataFrame([(10.0, 50.0)], ["lon", "lat"])
    z = 10
    out = df.select(F.explode(cells.neighbor_cells(
        cells.cell_id(F.col("lon"), F.col("lat"), z), 1)).alias("c")).collect()
    got = {cells_unpack(r["c"]) for r in out}
    base = [cells_unpack(r["c"]) for r in out]
    zc, xc, yc = min(base)[0], None, None
    center = df.select(cells.cell_id(F.col("lon"), F.col("lat"), z).alias("c")).first()["c"]
    _, x0, y0 = cells_unpack(center)
    exp = {(z, x0 + dx, y0 + dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)}
    assert got == exp


def test_half_neighbor_cells_pair_uniqueness(spark):
    """Every unordered pair of cells within Chebyshev distance `ring`
    must be generated by EXACTLY one side's half set (the property the
    pair joins rely on), and out-of-world offsets must be dropped."""
    for ring in (1, 2):
        half = [(0, 0)] + [(dx, dy) for dx in range(0, ring + 1)
                           for dy in range(-ring, ring + 1)
                           if (dx > 0) or (dx == 0 and dy > 0)]
        assert len(half) == ((2 * ring + 1) ** 2 - 1) // 2 + 1
        for vx in range(-ring, ring + 1):
            for vy in range(-ring, ring + 1):
                if (vx, vy) == (0, 0):
                    continue
                # exactly one of v, -v is in the directional half set
                assert ((vx, vy) in half) != ((-vx, -vy) in half)

    # Spark expression: world-corner cell keeps only in-world entries
    z = 3
    df = spark.createDataFrame([(-179.9, 84.9, "corner"),   # x=0, y=0
                                (10.0, 50.0, "inner")], ["lon", "lat", "w"])
    rows = (df.select("w", F.explode(cells.half_neighbor_cells(
        cells.cell_id(F.col("lon"), F.col("lat"), z), 1)).alias("nb"))
            .collect())
    by_w = {}
    for r in rows:
        by_w.setdefault(r["w"], []).append(
            (cells_unpack(r["nb"]["cell"]), r["nb"]["home"]))
    inner = by_w["inner"]
    assert len(inner) == 5 and sum(1 for _, h in inner if h) == 1
    corner = by_w["corner"]
    # (0,0) corner: (1,-1) falls off-world -> dropped, 4 entries remain
    assert len(corner) == 4
    assert all(0 <= c[1] < (1 << z) and 0 <= c[2] < (1 << z)
               for c, _ in corner)


def test_half_neighbor_join_matches_full_ring_at_world_edge(spark):
    """radius_join pairs must be identical to a brute-force O(n^2)
    haversine filter even for points in edge cells (x=0 column), where
    the old clamped full-ring explode and the new dropped half set
    differ in mechanics but must not differ in results."""
    import itertools
    from proj_spark.spatial.knn import haversine_expr, radius_join

    pts = [(-179.999 + 0.002 * i, 50.0 + 0.001 * j, f"p{i}_{j}")
           for i in range(4) for j in range(3)]
    df = spark.createDataFrame(pts, ["lon", "lat", "url"])
    got = {(r["id_a"], r["id_b"]) for r in
           radius_join(df, 400.0, z=13, id_col="url",
                       max_abs_lat=51.0).collect()}
    import math
    def hav(a, b):
        R = 6371008.8
        p1, p2 = math.radians(a[1]), math.radians(b[1])
        dp, dl = p2 - p1, math.radians(b[0] - a[0])
        h = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
        return 2 * R * math.asin(math.sqrt(h))
    exp = {tuple(sorted((a[2], b[2])))
           for a, b in itertools.combinations(pts, 2) if hav(a, b) <= 400.0}
    assert got == exp and len(exp) > 5


def _square(cx, cy, r):
    return [
        {"lon": cx - r, "lat": cy - r}, {"lon": cx + r, "lat": cy - r},
        {"lon": cx + r, "lat": cy + r}, {"lon": cx - r, "lat": cy + r},
        {"lon": cx - r, "lat": cy - r},
    ]


def _diamond(cx, cy, r):
    return [
        {"lon": cx, "lat": cy - r}, {"lon": cx + r, "lat": cy},
        {"lon": cx, "lat": cy + r}, {"lon": cx - r, "lat": cy},
        {"lon": cx, "lat": cy - r},
    ]


def _pip_oracle(px, py, ring):
    vx = np.array([v["lon"] for v in ring])
    vy = np.array([v["lat"] for v in ring])
    x1, y1, x2, y2 = vx[:-1], vy[:-1], vx[1:], vy[1:]
    inside = np.zeros(len(px), dtype=bool)
    for i in range(len(px)):
        with np.errstate(divide="ignore", invalid="ignore"):
            cond = ((y1 > py[i]) != (y2 > py[i])) & (
                px[i] < (x2 - x1) * (py[i] - y1) / (y2 - y1) + x1)
        inside[i] = cond.sum() % 2 == 1
    return inside


def test_pip_join_matches_bruteforce(spark, geo):
    polys = spark.createDataFrame(
        [(1, _square(-74.0, 40.7, 1.2)), (2, _diamond(2.35, 48.86, 1.5)),
         (3, _square(139.7, 35.7, 0.8)), (4, _diamond(-74.5, 40.2, 1.0))],
        ["admin_id", "ring"])
    pts = geo.select("url", "lon", "lat").limit(800).cache()
    got = (pip_join(pts, polys, z=6)
           .select("url", "admin_id").orderBy("url", "admin_id").collect())
    pdf = pts.toPandas()
    rings = {r["admin_id"]: r["ring"] for r in polys.collect()}
    exp = []
    for aid, ring in rings.items():
        m = _pip_oracle(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(),
                        [{"lon": v["lon"], "lat": v["lat"]} for v in ring])
        exp += [(u, aid) for u in pdf["url"][m]]
    assert sorted((r["url"], r["admin_id"]) for r in got) == sorted(exp)


def test_knn_matches_bruteforce(spark, geo):
    data = geo.select(F.col("url").alias("data_id"), "lon", "lat").limit(1000).cache()
    queries = spark.createDataFrame(
        [(1, -74.0, 40.7), (2, 2.3, 48.8), (3, 139.7, 35.7), (4, 0.0, 0.0)],
        ["query_id", "lon", "lat"])
    k = 5
    got = knn_join(queries, data, k=k, z=9).orderBy("query_id", "rank").collect()
    pdf = data.toPandas()
    dl = np.radians(pdf["lat"].to_numpy())
    dn = np.radians(pdf["lon"].to_numpy())
    for q in queries.collect():
        ql, qn = math.radians(q["lat"]), math.radians(q["lon"])
        h = (np.sin((dl - ql) / 2) ** 2
             + np.cos(ql) * np.cos(dl) * np.sin((dn - qn) / 2) ** 2)
        dist = 2 * EARTH_R * np.arcsin(np.sqrt(h))
        order = sorted(zip(dist, pdf["data_id"]))[:k]
        mine = [(r["dist_m"], r["data_id"]) for r in got if r["query_id"] == q["query_id"]]
        assert len(mine) == k, f"query {q['query_id']} got {len(mine)}"
        for (ed, eid), (gd, gid) in zip(order, mine):
            assert eid == gid and abs(ed - gd) < 1e-6, (q["query_id"], eid, gid)


def test_dedup_and_stats(spark):
    from proj_spark.text.dedup import exact_dedup, minhash_lsh_candidates, ngram_jaccard_udf
    from proj_spark.text.analysis import doc_stats, lang_guess
    rows = [
        (1, "the cat sat on the mat and it was happy for a while"),
        (2, "the cat sat on the mat and it was happy for a while"),   # exact dup of 1
        (3, "the cat sat on the mat and it was happy for a whilee"),  # near dup
        (4, "der hund ist nicht mit der katze und das ist gut so"),
        (5, "completely different content about solar panels efficiency"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    d = exact_dedup(docs).collect()
    groups = {r["keep_id"]: r["dup_count"] for r in d}
    assert groups[1] == 2 and groups[3] == 1
    cands = minhash_lsh_candidates(docs, num_hashes=32, bands=16).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in cands}
    assert (1, 2) in pairs and (1, 3) in pairs  # dup + near-dup found
    jac = ngram_jaccard_udf()
    verified = (docs.alias("a").join(docs.alias("b"),
                F.col("a.doc_id") < F.col("b.doc_id"))
                .select(F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib"),
                        jac(F.col("a.text"), F.col("b.text")).alias("j")))
    jmap = {(r["ia"], r["ib"]): r["j"] for r in verified.collect()}
    assert jmap[(1, 2)] == 1.0
    assert 0.7 < jmap[(1, 3)] < 1.0
    assert jmap[(1, 5)] < 0.2
    s = doc_stats(docs).orderBy("doc_id").collect()
    assert s[0]["n_tokens"] == 13
    lg = docs.select("doc_id", lang_guess(F.col("text")).alias("lg")).collect()
    m = {r["doc_id"]: r["lg"] for r in lg}
    assert m[1] == "en" and m[4] == "de"


def test_simhash_near_dups(spark):
    from proj_spark.text.dedup import simhash_near_dups
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank todaz"),
        (3, "totally unrelated text about databases and distributed query engines"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_near_dups(docs, max_hamming=8).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_simhash_block_scheme_output_invariant(spark):
    """The WWW'07 block-triple candidate index (the density-matched
    scheme for large corpora) must produce byte-identical verified
    output to the 4x16 banding at max_hamming <= 3, where both carry
    the exact pigeonhole recall guarantee."""
    from proj_spark.text.dedup import simhash_near_dups
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    bands = {tuple(r) for r in
             simhash_near_dups(docs, scheme="bands").collect()}
    blocks = {tuple(r) for r in
              simhash_near_dups(docs, scheme="blocks").collect()}
    assert bands == blocks and len(bands) > 0


def test_hausdorff_grid_exact_equivalence(spark):
    """The r5 grid-pruned Hausdorff plan (near points via the provably
    complete 7x7 cell-cover join, far fringe via the partner-wide
    join) must be row-identical to the all-pairs baseline."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F
    pts = em._points(spark, "/root/testdata/sf0.001")
    t = (pts.select(F.col("domain").cast("long").alias("dom"),
                    F.regexp_extract("url", r"/page/(\d+)$", 1)
                    .cast("long").alias("pid"),
                    F.round(F.col("lon") * 1e6, 0).cast("long").alias("x"),
                    F.round(F.col("lat") * 1e6, 0).cast("long").alias("y"))
         .where((F.col("dom") >= em.HAUS_DOM_LO)
                & (F.col("dom") <= em.HAUS_DOM_HI)))
    grid = sorted(map(tuple, em._hausdorff_grid(t).collect()))
    allp = sorted(map(tuple, em._hausdorff_allpairs(t).collect()))
    assert grid == allp and len(grid) > 0
    # a finer cell stresses the far-fringe path too: still exact
    fine = sorted(map(tuple, em._hausdorff_grid(t, cell=1 << 16).collect()))
    assert fine == allp


def test_mh_params_density_knob():
    import __spark_entry__ as em
    assert em.mh_params(500) == (64, 4)        # sf0.001/sf0.01 (oracle)
    assert em.mh_params(5000) == (64, 4)       # sf0.1 (bench history)
    assert em.mh_params(50_000) == (128, 8)    # sf1 certification
    assert em._n_docs("/root/testdata/sf0.01") == 500
    assert em._n_docs("x/sf1") == 50_000


def test_cosine_topk(spark):
    from proj_spark.text.similarity import brute_force_topk, lsh_topk
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(300, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(300)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = [float(x) for x in vecs[7]]
    got = brute_force_topk(emb, q, 5).collect()
    qv = np.asarray(q)
    cos = (vecs @ qv) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(qv))
    exp = list(np.argsort(-cos)[:5])
    assert [r["vec_id"] for r in got] == exp
    assert got[0]["vec_id"] == 7 and abs(got[0]["cosine"] - 1.0) < 1e-6
    approx = lsh_topk(emb, q, 5, n_planes=8, probe_hamming=3).collect()
    assert approx[0]["vec_id"] == 7  # LSH must at least find the point itself


def test_ivf_topk(spark):
    """IVF ANN: the deterministic one-pass quantizer prunes the scan to
    nprobe/n_cells of the data while keeping useful top-k recall, and
    the query point itself is always found (its own list is probed)."""
    from proj_spark.text.similarity import ivf_centroids, ivf_topk
    rng = np.random.default_rng(23)
    # clustered data so the quantizer has structure to find
    centers = rng.normal(size=(8, 16)) * 3.0
    vecs = np.concatenate([
        centers[i % 8] + rng.normal(size=(1, 16)) for i in range(400)
    ]).astype(np.float64)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(400)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = [float(x) for x in vecs[7]]

    cent = ivf_centroids(emb, n_cells=8, dim=16).collect()
    assert sorted(r["cell"] for r in cent) == list(range(8))
    assert all(len(r["centroid"]) == 16 for r in cent)

    k = 10
    got = ivf_topk(emb, q, k, dim=16, n_cells=8, nprobe=3).collect()
    assert len(got) == k
    assert got[0]["vec_id"] == 7 and abs(got[0]["cosine"] - 1.0) < 1e-6
    # recall vs exact brute force: with 3/8 lists probed on clustered
    # data the true top-k should be mostly recovered
    cos = (vecs @ np.asarray(q)) / (
        np.linalg.norm(vecs, axis=1) * np.linalg.norm(np.asarray(q)))
    exact = set(np.argsort(-cos)[:k].tolist())
    recall = len(exact & {r["vec_id"] for r in got}) / k
    assert recall >= 0.6, recall
    # pruning: deterministic (same result twice) and strictly fewer
    # candidates than the full table reach the re-rank stage
    again = ivf_topk(emb, q, k, dim=16, n_cells=8, nprobe=3).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got] == \
        [(r["vec_id"], r["cosine"]) for r in again]


def test_pq_topk(spark):
    """PQ ADC top-k: the m-byte codes rank by LUT-sum close enough to
    recover most of the exact top-k on clustered data, the query point
    itself lands in the result, and the integer-quantized ADC sum is
    deterministic across runs."""
    from proj_spark.text.similarity import pq_topk
    rng = np.random.default_rng(41)
    centers = rng.normal(size=(8, 16)) * 3.0
    vecs = np.concatenate([
        centers[i % 8] + rng.normal(size=(1, 16)) * 0.5 for i in range(300)
    ]).astype(np.float64)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(300)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = [float(x) for x in vecs[7]]

    k = 10
    got = pq_topk(emb, q, k, dim=16, m=4, n_codes=8).collect()
    assert len(got) == k
    assert {r["vec_id"] for r in got} >= {7}  # query point found
    # ADC sums are non-negative integers, non-decreasing in rank order
    adcs = [r["adc_q"] for r in got]
    assert all(isinstance(a, int) and a >= 0 for a in adcs)
    assert adcs == sorted(adcs)
    # PQ at 8 codes/subspace cannot rank WITHIN a cluster (every member
    # of the query's cluster shares one code per subspace, so adc_q
    # ties) — the property it does promise is cluster-level recall:
    # everything returned sits in the query's true cluster, like the
    # exact L2 top-k does.
    d2 = np.sum((vecs - np.asarray(q)) ** 2, axis=1)
    exact = set(np.argsort(d2)[:k].tolist())
    assert all(i % 8 == 7 for i in exact)  # sanity: exact top-k is cluster 7
    assert all(r["vec_id"] % 8 == 7 for r in got), got
    again = pq_topk(emb, q, k, dim=16, m=4, n_codes=8).collect()
    assert [(r["vec_id"], r["adc_q"]) for r in got] == \
        [(r["vec_id"], r["adc_q"]) for r in again]


def test_ivf_persisted_index(spark, tmp_path):
    """The at-rest IVF shape: lists written partitioned by cell, probe
    queries prune to nprobe partitions AT THE SOURCE (PartitionFilters
    in the scan), and results equal the recompute-everything path."""
    from proj_spark.text.similarity import (ivf_query_index, ivf_topk,
                                            ivf_write_index)
    rng = np.random.default_rng(31)
    vecs = rng.normal(size=(300, 16)).astype(np.float64)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(300)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    path = str(tmp_path / "ivf")
    ivf_write_index(emb, path, dim=16, n_cells=8)
    import os
    cell_dirs = [d for d in os.listdir(f"{path}/lists")
                 if d.startswith("cell=")]
    assert len(cell_dirs) == 8
    q = [float(x) for x in vecs[5]]
    got = ivf_query_index(spark, path, q, k=10, nprobe=3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    import re
    assert re.search(r"PartitionFilters: \[cell#\d+ IN \(", plan), plan
    res = got.collect()
    ref = ivf_topk(emb, q, 10, dim=16, n_cells=8, nprobe=3).collect()
    assert [(r["vec_id"], r["cosine"]) for r in res] == \
        [(r["vec_id"], r["cosine"]) for r in ref]


def test_knn_many_queries_distributed(spark, geo):
    """10^4 queries through the distributed ring loop: no per-row driver
    collects (the only driver materializations are the query coordinates
    and per-round stats), every query completes, and a sampled subset
    matches brute force."""
    data = geo.select(F.col("url").alias("data_id"), "lon", "lat").cache()
    n_q = 10_000
    queries = spark.range(n_q).select(
        F.col("id").alias("query_id"),
        (F.pmod(F.col("id") * 7919, F.lit(36000)) / 100.0 - 180.0).alias("lon"),
        (F.pmod(F.col("id") * 104729, F.lit(17000)) / 100.0 - 85.0).alias("lat"))
    k = 3
    got = knn_join(queries, data, k=k, z=6, max_ring=8)
    counts = got.groupBy("query_id").count().collect()
    assert len(counts) == n_q
    assert all(r["count"] == k for r in counts)
    # spot-check 5 queries against brute force
    pdf = data.toPandas()
    dl = np.radians(pdf["lat"].to_numpy())
    dn = np.radians(pdf["lon"].to_numpy())
    sample_ids = [0, 1234, 5000, 7919, 9999]
    sample = {r["query_id"]: (r["lon"], r["lat"]) for r in
              queries.where(F.col("query_id").isin(sample_ids)).collect()}
    mine = {(r["query_id"], r["rank"]): (r["data_id"], r["dist_m"]) for r in
            got.where(F.col("query_id").isin(sample_ids)).collect()}
    for qid, (qlon, qlat) in sample.items():
        ql, qn = math.radians(qlat), math.radians(qlon)
        h = (np.sin((dl - ql) / 2) ** 2
             + np.cos(ql) * np.cos(dl) * np.sin((dn - qn) / 2) ** 2)
        dist = 2 * EARTH_R * np.arcsin(np.sqrt(h))
        order = sorted(zip(dist, pdf["data_id"]))[:k]
        for rank, (ed, eid) in enumerate(order, start=1):
            gid, gd = mine[(qid, rank)]
            assert gid == eid and abs(gd - ed) < 1e-6, (qid, rank, eid, gid)


def test_pip_interior_cell_split(spark):
    """Interior/boundary cover split: at a zoom fine enough that big
    polygons contain fully-interior cells, results must equal brute
    force exactly, and interior cells must actually be detected."""
    import pyspark.sql.functions as F2
    from proj_spark.spatial.pip import cover_cells, pip_join

    ring = [{"lon": v[0], "lat": v[1]} for v in
            [(-5.0, 40.0), (5.0, 40.0), (5.0, 50.0), (-5.0, 50.0),
             (-5.0, 40.0)]]
    polys = spark.createDataFrame(
        [(1, ring)],
        "admin_id int, ring array<struct<lon:double,lat:double>>")
    cov = cover_cells(polys, z=7).collect()
    interior = [r for r in cov if r["interior"]]
    assert interior, "a 10x10 degree box at z=7 must have interior cells"
    assert len(interior) < len(cov)
    rng = np.random.default_rng(3)
    pts = spark.createDataFrame(
        [(int(i), float(lo), float(la)) for i, (lo, la) in enumerate(
            zip(rng.uniform(-8, 8, 4000), rng.uniform(37, 53, 4000)))],
        "pid long, lon double, lat double")
    got = sorted(r["pid"] for r in pip_join(pts, polys, z=7).collect())
    pdf = pts.toPandas()
    exp = sorted(pdf["pid"][(pdf["lon"] > -5) & (pdf["lon"] < 5)
                            & (pdf["lat"] > 40) & (pdf["lat"] < 50)])
    assert got == list(exp)


def test_knn_antimeridian_wrap(spark):
    """Queries near +/-180 must find neighbors across the dateline."""
    data = spark.createDataFrame(
        [(1, -179.98, 10.0), (2, -179.5, 10.0), (3, 179.2, 10.0),
         (4, 150.0, 10.0), (5, -150.0, 10.0)],
        ["data_id", "lon", "lat"])
    queries = spark.createDataFrame([(1, 179.95, 10.0)],
                                    ["query_id", "lon", "lat"])
    got = knn_join(queries, data, k=3, z=9).orderBy("rank").collect()
    # true nearest by great circle: -179.98 (0.07 deg away), -179.5
    # (0.55 deg), 179.2 (0.75 deg) — the two nearest are across the line
    assert [r["data_id"] for r in got] == [1, 2, 3]
    assert got[0]["dist_m"] < 10000


def test_pip_polygon_with_holes(spark):
    """Even-odd multi-ring PIP: points in the hole are excluded."""
    from proj_spark.spatial.pip import pip_join_multi
    outer = [{"lon": v[0], "lat": v[1]} for v in
             [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)]]
    hole = [{"lon": v[0], "lat": v[1]} for v in
            [(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0), (4.0, 4.0)]]
    polys = spark.createDataFrame(
        [(1, [outer, hole])],
        "admin_id int, rings array<array<struct<lon:double,lat:double>>>")
    rng = np.random.default_rng(5)
    lons = rng.uniform(-2, 12, 3000)
    lats = rng.uniform(-2, 12, 3000)
    pts = spark.createDataFrame(
        [(int(i), float(lo), float(la))
         for i, (lo, la) in enumerate(zip(lons, lats))],
        "pid long, lon double, lat double")
    got = sorted(r["pid"] for r in pip_join_multi(pts, polys, z=6).collect())
    inside_outer = (lons > 0) & (lons < 10) & (lats > 0) & (lats < 10)
    in_hole = (lons > 4) & (lons < 6) & (lats > 4) & (lats < 6)
    exp = sorted(np.flatnonzero(inside_outer & ~in_hole).tolist())
    assert got == exp


def test_transform_crs_dataframe_api(spark):
    """DataFrame-level CRS->CRS convenience: EPSG/WKT in, columns out."""
    from proj_spark.spark.udf import transform_crs
    df = spark.createDataFrame([(12.0, 56.0), (9.0, 48.0)], ["lon", "lat"])
    out = transform_crs(df, "EPSG:4326", "EPSG:32632").collect()
    import numpy as np2
    from proj_spark import create
    ref = create("EPSG:32632")
    for r in out:
        ex, ey = ref.fwd_deg(np2.array([r["lon"]]), np2.array([r["lat"]]))
        assert abs(r["t_x"] - ex[0]) < 1e-6 and abs(r["t_y"] - ey[0]) < 1e-6
    # datum-shifting pair through the planner
    out2 = transform_crs(df, "EPSG:4314", "EPSG:4326").collect()
    assert all(abs(r["t_x"] - r["lon"]) < 0.01 for r in out2)
    assert all(r["t_x"] != r["lon"] for r in out2)  # shift applied


def test_knn_self_join_matches_bruteforce(spark, geo):
    """Bounded-radius kNN self-join == NumPy brute force under the same
    cell-ring candidate bound (every point is a query; no driver loop)."""
    from proj_spark.spatial.knn import knn_self_join, _tile_x, _tile_y
    z, k = 7, 3
    pts = geo.select("url", "lon", "lat").limit(400).cache()
    got = knn_self_join(pts, k=k, z=z, ring=1, id_col="url").collect()
    got_by_q = {}
    for r in sorted(got, key=lambda r: (r["url"], r["rank"])):
        got_by_q.setdefault(r["url"], []).append((r["nbr_id"], r["dist_m"]))
    pdf = pts.toPandas()
    urls = pdf["url"].to_numpy()
    lon = pdf["lon"].to_numpy()
    lat = pdf["lat"].to_numpy()
    cx = np.array([_tile_x(v, z) for v in lon])
    cy = np.array([_tile_y(v, z) for v in lat])
    nmax = (1 << z) - 1
    rl, rn = np.radians(lat), np.radians(lon)
    for i in range(len(urls)):
        ring_x = {min(max(cx[i] + d, 0), nmax) for d in (-1, 0, 1)}
        ring_y = {min(max(cy[i] + d, 0), nmax) for d in (-1, 0, 1)}
        m = (np.isin(cx, list(ring_x)) & np.isin(cy, list(ring_y))
             & (urls != urls[i]))
        h = (np.sin((rl[m] - rl[i]) / 2) ** 2
             + np.cos(rl[i]) * np.cos(rl[m]) * np.sin((rn[m] - rn[i]) / 2) ** 2)
        dist = 2 * EARTH_R * np.arcsin(np.sqrt(h))
        exp = sorted(zip(dist, urls[m]), key=lambda t: (t[0], t[1]))[:k]
        mine = got_by_q.get(urls[i], [])
        assert len(mine) == len(exp), (urls[i], len(mine), len(exp))
        for (ed, eid), (gid, gd) in zip(exp, mine):
            assert eid == gid and abs(ed - gd) < 2e-3, (urls[i], eid, gid)


def test_half_pairs_matches_nested_loop(spark):
    """cells.half_pairs on a floor grid of width W yields every unordered
    pair of points in the same or an adjacent cell exactly once, and
    with the Chebyshev predicate d <= W exactly the nested-loop pairs
    within W."""
    W = 10
    pts = [(1, 1, 1), (2, 3, 4),            # two points in one cell
           (3, 9, 5), (4, 11, 5),           # a pair across a cell border
           (5, -3, -7), (6, -12, -2),       # negative coordinates
           (7, 30, 30), (8, 40, 30),        # exactly one cell width apart
           (9, 30, 40), (10, 30, 20),       # diagonal and vertical cells
           (11, 55, 55)]                    # no neighbour
    df = (spark.createDataFrame(pts, "id long, x long, y long")
          .withColumn("cx", F.floor(F.col("x") / W))
          .withColumn("cy", F.floor(F.col("y") / W)))
    half = F.array(*[F.struct((F.col("cx") + dx).alias("cx"),
                              (F.col("cy") + dy).alias("cy"),
                              F.lit(dx == 0 and dy == 0).alias("home"))
                     for dx, dy in cells.half_offsets()])
    got = [(r["a_id"], r["b_id"], r["a_x"], r["a_y"], r["b_x"], r["b_y"])
           for r in cells.half_pairs(df, ["cx", "cy"], half, "id").collect()]
    keys = [tuple(sorted(g[:2])) for g in got]
    assert len(keys) == len(set(keys))

    def cell(p):
        return p[1] // W, p[2] // W

    near, within = set(), set()
    for i, p in enumerate(pts):
        for q in pts[i + 1:]:
            (pcx, pcy), (qcx, qcy) = cell(p), cell(q)
            if abs(pcx - qcx) <= 1 and abs(pcy - qcy) <= 1:
                near.add((p[0], q[0]))
            if max(abs(p[1] - q[1]), abs(p[2] - q[2])) <= W:
                within.add((p[0], q[0]))
    assert set(keys) == near
    got_within = {k for k, g in zip(keys, got)
                  if max(abs(g[2] - g[4]), abs(g[3] - g[5])) <= W}
    assert got_within == within
    assert {(1, 2), (3, 4), (5, 6), (7, 8), (8, 9), (7, 10)} <= within


def test_default_cpus_follow_the_affinity_mask(monkeypatch):
    """get_spark's local[N] default is the CPUs this process may use,
    not a fixed count: a 3-CPU affinity mask gives 3."""
    from proj_spark.spark import session
    monkeypatch.setattr(session.os, "sched_getaffinity",
                        lambda pid: {0, 2, 5})
    assert session._default_cpus() == 3
