"""Embedding similarity search: brute-force cosine top-k + LSH-bucketed
approximate variant.

Brute force is the exactness baseline: a single scan with a JVM-side
dot product (F.aggregate over zip_with) — no UDF, no shuffle except the
final top-k.  The scale path buckets vectors by random-hyperplane LSH
(deterministic planes) so queries only scan matching buckets.

The all-pairs LSH queries (knn_pairs_topk, neardup_pairs) share one
candidate-and-verify kernel, `_lsh_scored_pairs`: a band self-join on
(table, bucket) with id_a < id_b, so each unordered pair is verified
once by exact cosine.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot_expr(vec_col: Column, query: list[float]) -> Column:
    """JVM-side dot product of array<float> column with a literal vector."""
    q = F.array(*[F.lit(float(v)) for v in query])
    return F.aggregate(
        F.zip_with(vec_col, q, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(vec_col: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(vec_col, lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x))


def cosine_expr(vec_col: Column, query: list[float]) -> Column:
    qn = math.sqrt(sum(v * v for v in query)) or 1.0
    return dot_expr(vec_col, query) / (norm_expr(vec_col) * F.lit(qn))


def brute_force_topk(embeddings: DataFrame, query: list[float], k: int,
                     vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k: one scan + global top-k (TreeAggregate-style
    orderBy().limit() — Spark turns this into per-partition top-k + merge)."""
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine_expr(F.col(vec_col), query), 8).alias("cosine"))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def _hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic pseudo-random unit hyperplanes (no RNG: hash mix)."""
    idx = np.arange(dim * n_planes, dtype=np.uint64)
    v = (idx * np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    v = (v ^ (v >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    v = v ^ (v >> np.uint64(31))
    g = (v.astype(np.float64) / 2**64) * 2.0 - 1.0
    return g.reshape(n_planes, dim)


def lsh_bucket_expr(vec_col: Column, dim: int, n_planes: int = 12) -> Column:
    """Sign-LSH bucket id: bit b set iff vec . plane_b > 0 (pure SQL)."""
    planes = _hyperplanes(dim, n_planes)
    bucket = F.lit(0).cast("long")
    for b in range(n_planes):
        q = F.array(*[F.lit(float(x)) for x in planes[b]])
        d = F.aggregate(F.zip_with(vec_col, q, lambda a, bb: a * bb),
                        F.lit(0.0), lambda acc, x: acc + x)
        bucket = bucket + F.when(d > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_topk(embeddings: DataFrame, query: list[float], k: int,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_planes: int = 12, probe_hamming: int = 2) -> DataFrame:
    """Approximate cosine top-k: scan only buckets within `probe_hamming`
    bits of the query's bucket (multi-probe sign-LSH)."""
    dim = len(query)
    planes = _hyperplanes(dim, n_planes)
    qv = np.asarray(query)
    qbucket = 0
    for b in range(n_planes):
        if float(planes[b] @ qv) > 0:
            qbucket |= 1 << b
    bucketed = embeddings.withColumn("_bucket", lsh_bucket_expr(F.col(vec_col), dim, n_planes))
    near = F.bit_count(F.col("_bucket").bitwiseXOR(F.lit(qbucket))) <= probe_hamming
    scored = (bucketed.where(near)
              .select(F.col(id_col),
                      F.round(cosine_expr(F.col(vec_col), query), 8).alias("cosine")))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def ivf_centroids(embeddings: DataFrame, n_cells: int, dim: int,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Coarse quantizer for IVF: centroid j is the element-wise mean of
    the vectors in deterministic partition j = pmod(id, n_cells) —
    k-means with random-partition init and one Lloyd half-step, the
    classic data-dependent seeding that needs exactly ONE aggregation
    pass (map-side partial means, one tiny shuffle of n_cells rows).

    Component sums run in DECIMAL so the result is order-independent
    (double sums would vary with partition merge order and could flip
    the rounded value); means are rounded to 6 dp so the DuckDB oracle
    reproduces them bit-for-bit.  Returns (cell, centroid array<double>).
    """
    v = F.col(vec_col).cast("array<double>")
    parts = embeddings.select(
        F.pmod(F.col(id_col), F.lit(n_cells)).alias("cell"), v.alias("_v"))
    aggs = [
        F.round(
            F.sum(F.element_at("_v", i + 1).cast("decimal(27,12)"))
            .cast("double") / F.count(F.lit(1)), 6).alias(f"_c{i}")
        for i in range(dim)
    ]
    return (parts.groupBy("cell").agg(*aggs)
            .select("cell", F.array(*[F.col(f"_c{i}") for i in range(dim)])
                    .alias("centroid")))


def ivf_topk(embeddings: DataFrame, query: list[float], k: int, dim: int,
             n_cells: int = 16, nprobe: int = 4,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """IVF approximate top-k: train the coarse quantizer, assign every
    vector to its nearest centroid (inverted lists), then scan only the
    `nprobe` lists nearest the query and exact-cosine rank the survivors.

    Scale shape: training is one aggregation pass; assignment is a
    zero-shuffle Arrow-batched matmul against the broadcast
    (n_cells x dim) centroid matrix with rounded-cosine argmax; the
    probe prunes the scan to ~nprobe/n_cells of the data (in a real
    deployment the table is written partitioned by `cell`, so the probe
    becomes partition pruning at the source).  Only the n_cells-row
    centroid relation and the query vector ever reach the driver.
    Returns (cell, vec_id, cosine) — the probed list id kept for
    provenance."""
    cent = ivf_centroids(embeddings, n_cells, dim, vec_col, id_col)
    C, cell_ids, Cn = _centroid_matrix(cent.collect())
    # argmax in _assign_udf ties to the LOWEST cell id (rows of C are
    # sorted by cell), matching the oracle's ORDER BY cd DESC, cell ASC
    _assign = _assign_udf(C, cell_ids, embeddings.sparkSession)
    probed = _probe_cells(C, cell_ids, Cn, query, nprobe)

    v = F.col(vec_col).cast("array<double>")
    assigned = embeddings.select(
        F.col(id_col), v.alias("_v"), _assign(v).alias("cell"))
    cand = assigned.where(F.col("cell").isin(probed))
    scored = cand.select(
        "cell", F.col(id_col),
        F.round(cosine_expr(F.col("_v"), query), 8).alias("cosine"))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def _centroid_matrix(rows) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Collected (cell, centroid) rows -> (C matrix sorted by cell,
    cell ids, centroid norms) — shared by the recompute and
    persisted-index paths so their tie-breaking can never diverge."""
    crows = sorted(rows, key=lambda r: r["cell"])
    C = np.stack([np.asarray(r["centroid"], dtype=np.float64)
                  for r in crows])
    cell_ids = np.array([int(r["cell"]) for r in crows])
    Cn = np.maximum(np.linalg.norm(C, axis=1), 1e-300)
    return C, cell_ids, Cn


def _probe_cells(C: np.ndarray, cell_ids: np.ndarray, Cn: np.ndarray,
                 query: list[float], nprobe: int) -> list[int]:
    """The nprobe cells nearest the query by rounded cosine, ties to the
    lowest cell id."""
    qv = np.asarray(query, dtype=np.float64)
    qn = max(float(np.linalg.norm(qv)), 1e-300)
    qcd = np.round((C @ qv) / (Cn * qn), 8)
    order = np.lexsort((cell_ids, -qcd))
    return [int(cell_ids[i]) for i in order[:nprobe]]


def _assign_udf(C: np.ndarray, cell_ids: np.ndarray, spark_session):
    """Arrow-batched nearest-centroid assignment against a broadcast
    (n_cells x dim) matrix; rounded-cosine argmax, ties to lowest cell."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import LongType

    Cn = np.maximum(np.linalg.norm(C, axis=1), 1e-300)
    bc = spark_session.sparkContext.broadcast((C, Cn, cell_ids))

    def _fn(vs):
        Cm, Cnorm, ids = bc.value
        m = np.stack([np.asarray(x, dtype=np.float64) for x in vs])
        vn = np.maximum(np.linalg.norm(m, axis=1), 1e-300)
        cd = np.round((m @ Cm.T) / np.outer(vn, Cnorm), 8)
        return pd.Series(ids[np.argmax(cd, axis=1)])

    return pandas_udf(_fn, LongType())


def ivf_write_index(embeddings: DataFrame, path: str, dim: int,
                    n_cells: int = 16, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> None:
    """Persist an IVF index: the inverted lists land under
    ``{path}/lists`` PARTITIONED BY cell (one directory per list), the
    trained centroids under ``{path}/centroids``.

    This is the at-rest shape for corpus-scale ANN: queries read the
    centroid relation (n_cells rows), pick nprobe lists, and the
    ``cell IN (...)`` predicate becomes PARTITION PRUNING at the file
    source — a 10^12-vector index scans nprobe/n_cells of its files,
    no per-query assignment pass."""
    cent = ivf_centroids(embeddings, n_cells, dim, vec_col, id_col)
    C, cell_ids, _ = _centroid_matrix(cent.collect())
    _assign = _assign_udf(C, cell_ids, embeddings.sparkSession)
    v = F.col(vec_col).cast("array<double>")
    (embeddings.select(F.col(id_col), v.alias("vec"),
                       _assign(v).alias("cell"))
     .write.mode("overwrite").partitionBy("cell")
     .parquet(f"{path}/lists"))
    cent.write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_query_index(spark, path: str, query: list[float], k: int,
                    nprobe: int = 4, id_col: str = "vec_id") -> DataFrame:
    """Probe a persisted IVF index: rank centroids against the query,
    scan only the nprobe nearest lists (partition-pruned at the parquet
    source — .explain shows ``PartitionFilters: [cell IN (...)]``),
    exact-cosine re-rank the survivors."""
    C, cell_ids, Cn = _centroid_matrix(
        spark.read.parquet(f"{path}/centroids").collect())
    probed = _probe_cells(C, cell_ids, Cn, query, nprobe)
    lists = spark.read.parquet(f"{path}/lists").where(
        F.col("cell").isin(probed))
    scored = lists.select(
        F.col("cell").cast("long").alias("cell"), F.col(id_col),
        F.round(cosine_expr(F.col("vec"), query), 8).alias("cosine"))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def cosine_pair_expr(a: Column, b: Column) -> Column:
    """JVM-side cosine between two array<double> columns."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    return dot / (norm_expr(a) * norm_expr(b))


def knn_pairs_topk(embeddings: DataFrame, k: int, dim: int,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   n_planes: int = 6, n_tables: int = 8) -> DataFrame:
    """All-pairs approximate nearest neighbors: MULTI-TABLE sign-LSH
    bucket self-join + per-id cosine top-k window.

    Candidate pairs form when two vectors share a bucket in ANY of
    `n_tables` independent hash tables of `n_planes` hyperplanes each
    (the banding trick: one table of m planes has recall
    (1 - theta/pi)^m, L tables lift it to 1 - (1 - p)^L).  The join
    shuffles on (table, bucket) keys, so work is sum of squared bucket
    sizes — never n^2.  Exact cosine verifies every unordered candidate
    pair once; each verified pair is then mirrored into both directions
    for the per-id ranking.
    Returns (vec_id, nbr_id, cosine, rank) with rank <= k."""
    pairs = _lsh_scored_pairs(embeddings, dim, vec_col, id_col,
                              n_planes, n_tables)
    scored = pairs.select(F.explode(F.array(
        F.struct(F.col("id_a").alias(id_col), F.col("id_b").alias("nbr_id")),
        F.struct(F.col("id_b").alias(id_col), F.col("id_a").alias("nbr_id"))
    )).alias("_p"), "cosine").select("_p.*", "cosine")
    w = Window.partitionBy(id_col).orderBy(F.col("cosine").desc(),
                                           F.col("nbr_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def neardup_pairs(embeddings: DataFrame, tau: float, dim: int,
                  vec_col: str = "embedding", id_col: str = "vec_id",
                  n_planes: int = 6, n_tables: int = 8) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: every unordered candidate
    pair sharing a sign-LSH bucket in any table whose EXACT cosine
    (rounded to 8 dp first, so a boundary value classifies identically
    in every engine) reaches `tau`.  Returns (id_a, id_b, cosine) with
    id_a < id_b — the edge list a dedup group-assignment consumes
    (see text/components.py).  Same scale shape as knn_pairs_topk:
    bucket-join candidates (work = sum of squared bucket sizes, never
    n^2), distributed join-back-by-id exact verify."""
    scored = _lsh_scored_pairs(embeddings, dim, vec_col, id_col,
                               n_planes, n_tables)
    return scored.where(F.col("cosine") >= tau)


def _lsh_scored_pairs(embeddings: DataFrame, dim: int, vec_col: str,
                      id_col: str, n_planes: int, n_tables: int
                      ) -> DataFrame:
    """Shared candidate generation + exact-cosine verify for the
    all-pairs LSH queries: (id_a, id_b, cosine) for every unordered
    pair, id_a < id_b, that shares a bucket in any table, so each pair
    is verified once.

    The bucket rows are persisted (the band self-join reads them
    twice); the cache fills inside the first action on the result and
    outlives the call: nothing here unpersists it, so the caller clears
    it (`spark.catalog.clearCache()`) once it is done with the result."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    vec = F.col(vec_col).cast("array<double>")
    planes = _hyperplanes(dim, n_planes * n_tables)
    # One (batch, dim) @ (dim, tables*planes) matmul yields every
    # hyperplane sign at once.  The previous formulation spelled each of
    # the n_tables*n_planes dot products as a Catalyst aggregate/zip_with
    # lambda over literal arrays — a ~6k-node expression tree whose
    # ANALYSIS dominated the query (12+ s at 1.5k vectors); the UDF
    # keeps the plan tiny and the math one BLAS call per Arrow batch.
    P = np.asarray(planes, dtype=np.float64).T          # (dim, T*m)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    def _buckets_fn(v):
        m = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        signs = (m @ P) > 0                              # (batch, T*m)
        bits = signs.reshape(len(m), n_tables, n_planes)
        out = (bits * weights).sum(axis=2)               # (batch, T)
        return pd.Series(list(out))

    _buckets = pandas_udf(_buckets_fn, ArrayType(LongType()))

    b = (embeddings.select(F.col(id_col),
                           F.posexplode(_buckets(vec)).alias("_t", "_b"))
         .persist())
    # dedup.band_pairs' self-join without its probe-side repartition
    # by id: with that extra shuffle embed_neardup read slower at sf0.1
    # in each of three alternating sessions (local[4], build+collect)
    cand = (b.alias("l").join(b.alias("r"),
                              (F.col("l._t") == F.col("r._t"))
                              & (F.col("l._b") == F.col("r._b"))
                              & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .select(F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"))
            .distinct())
    # Exact-cosine verify, fully distributed: join UNIT vectors back
    # onto the candidate pairs by id (the same join-back pattern as the
    # minhash shingle-set verify, __spark_entry__.q_minhash_neardup).
    # No collect, no driver dictionary: at corpus scale the two verify
    # joins shuffle on id like any other join, and candidate volume
    # (sum of squared bucket sizes) is the only thing that ships
    # vectors — never the full relation.  Normalization happens ONCE on
    # the tiny embeddings relation and the per-pair dot product is a
    # JVM zip_with/aggregate fold — no Arrow transfer of pair vectors
    # (measured 8.8 s -> ~4 s at sf0.1: shipping 1.6M pairs x 2 x 64
    # doubles through Python dominated).  The reference's analogue is
    # keeping data in the pipeline end-to-end
    # (/root/reference/src/4D_api.cpp:353-460, columnar coord contract).
    norm = F.sqrt(F.aggregate(F.transform(F.col("_v"), lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))
    unit = (embeddings.select(F.col(id_col), vec.alias("_v"))
            .withColumn("_n", F.greatest(norm, F.lit(1e-300)))
            .select(F.col(id_col),
                    F.transform(F.col("_v"),
                                lambda x: x / F.col("_n")).alias("_u")))
    ea = unit.select(F.col(id_col).alias("id_a"), F.col("_u").alias("_ua"))
    eb = unit.select(F.col(id_col).alias("id_b"), F.col("_u").alias("_ub"))
    dot = F.aggregate(F.zip_with("_ua", "_ub", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    return (cand.join(ea, "id_a").join(eb, "id_b")
            .select("id_a", "id_b", F.round(dot, 8).alias("cosine")))


def pq_topk(embeddings: DataFrame, query: list[float], k: int,
            dim: int = 64, m: int = 8, n_codes: int = 16,
            vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Product-quantization ADC top-k (Jegou et al. 2011): split each
    vector into `m` subspaces, learn a tiny per-subspace codebook, code
    every vector as m small ints, and rank candidates by the
    asymmetric-distance LUT sum — THE memory-compression trick that
    makes billion-vector search fit RAM (64 floats -> m bytes here).

    Deterministic-trainer discipline (the ivf_topk precedent): the
    codebooks are the SAME one-pass random-partition + single-Lloyd-
    half-step means as IVF (DECIMAL sums, 6 dp rounds), so every stage
    stays SQL-expressible and the whole query gets a full value
    oracle.  Assignment argmin uses 8 dp-rounded squared distances
    with code-id tie-break; the ADC sum is EXACT — each LUT entry is
    quantized to an integer 1e-8 unit before summing, so the top-k cut
    (adc_q asc, id) is engine-independent integer ordering.

    Scale shape: codebook training is one tiny shuffle; assignment
    here is the expression form (emb x n_codes broadcast) for oracle
    parity — the production path is the same Arrow-batched matmul as
    ivf_topk's _assign_udf, per subspace; the ADC scan reads only the
    (id, m-byte code) relation, never the raw vectors, and the final
    cosine join touches k rows.
    """
    w = dim // m
    spark = embeddings.sparkSession
    emb = embeddings.select(F.col(id_col),
                            F.col(vec_col).cast("array<double>").alias("_v"))
    cent = ivf_centroids(embeddings, n_codes, dim, vec_col, id_col)

    cross = emb.crossJoin(F.broadcast(cent))
    aggs = [F.min(F.struct(
                F.round(sqd_q("_v", "centroid", s, w), 8).alias("d"),
                F.col("cell").alias("cell"))).alias(f"_b{s}")
            for s in range(m)]
    codes = cross.groupBy(id_col).agg(*aggs)
    code_long = codes.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("m"),
                     F.col(f"_b{s}.cell").alias("cell"))
            for s in range(m)])).alias("_c")
    ).select(id_col, "_c.m", "_c.cell")

    qlit = F.array(*[F.lit(float(x)) for x in query])
    lut = cent.select(
        "cell",
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("m"),
                     F.round(sqd_q(qlit, "centroid", s, w) * 1e8, 0)
                     .cast("long").alias("lut_q"))
            for s in range(m)])).alias("_l")
    ).select("cell", "_l.m", "_l.lut_q")

    adc = (code_long.join(F.broadcast(lut), ["m", "cell"])
           .groupBy(id_col).agg(F.sum("lut_q").alias("adc_q")))
    top = adc.orderBy("adc_q", id_col).limit(k)
    return (emb.join(F.broadcast(top), id_col)
            .select(F.col(id_col), "adc_q",
                    F.round(cosine_expr(F.col("_v"), query), 8)
                    .alias("cosine"))
            .orderBy("adc_q", id_col))


def sqd_q(qlit, cc, sub: int, w: int):
    """Chained (q_i - c_i)^2 sum over subspace `sub` of width `w`
    between array columns `qlit` and `cc` — same left-to-right + order
    as the oracle's textual expression."""
    terms = None
    for i in range(sub * w + 1, sub * w + w + 1):
        t = ((F.element_at(qlit, i) - F.element_at(cc, i))
             * (F.element_at(qlit, i) - F.element_at(cc, i)))
        terms = t if terms is None else terms + t
    return terms
