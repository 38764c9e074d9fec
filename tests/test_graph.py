"""Tests for proj_spark.graph (quantized PageRank)."""
import duckdb
import pytest
from pyspark.sql import functions as F

from proj_spark.graph import PR_INIT, pagerank, pagerank_sql


def _edges(spark, triples):
    return spark.createDataFrame(triples, "src long, dst long, w long")


def _nodes(spark, n):
    return spark.range(n).select(F.col("id").alias("node"))


def test_pagerank_cycle_symmetric(spark):
    """A 3-cycle is vertex-transitive: all scores equal, mass conserved
    to within the integer-division truncation per node per round."""
    pr = pagerank(_edges(spark, [(0, 1, 1), (1, 2, 1), (2, 0, 1)]),
                  _nodes(spark, 3), iters=4)
    scores = {r.node: r.score for r in pr.collect()}
    assert len(set(scores.values())) == 1
    assert abs(scores[0] - PR_INIT) <= 4  # truncation only


def test_pagerank_star_center_dominates(spark):
    """Leaves 1..4 all link to 0; 0 links back to 1.  Node 0 ends far
    above the teleport base, node 1 above leaves 2..4."""
    edges = [(i, 0, 1) for i in range(1, 5)] + [(0, 1, 1)]
    pr = pagerank(_edges(spark, edges), _nodes(spark, 5), iters=5)
    s = {r.node: r.score for r in pr.collect()}
    assert s[0] > 2 * PR_INIT
    assert s[1] > s[2] == s[3] == s[4]


def test_pagerank_dangling_mass_drops(spark):
    """0 -> 1 with 1 dangling: total mass strictly shrinks (no
    redistribution), and node 1 still receives 0's contribution."""
    pr = pagerank(_edges(spark, [(0, 1, 1)]), _nodes(spark, 2), iters=3)
    s = {r.node: r.score for r in pr.collect()}
    assert s[0] + s[1] < 2 * PR_INIT
    assert s[1] > s[0]


def _twin_graph():
    """A deterministic pseudo-random weighted multigraph on 40 nodes,
    aggregated to (src, dst, w)."""
    n = 40
    agg = {}
    for i in range(400):
        h = (i * 2654435761) % 2147483648
        s, d, w = h % n, (h // 7) % n, 1 + h % 3
        if s != d:
            agg[(s, d)] = agg.get((s, d), 0) + w
    return n, [(s, d, w) for (s, d), w in sorted(agg.items())]


def _assert_matches_sql_twin(spark, triples, n_teleport, iters):
    got = {r.node: r.score for r in
           pagerank(_edges(spark, triples), _nodes(spark, n_teleport),
                    iters=iters).collect()}
    vals = ", ".join(f"({s}, {d}, {w})" for s, d, w in triples)
    sql = pagerank_sql(
        f"e(src, dst, w) AS (SELECT * FROM (VALUES {vals}))",
        f"teleport AS (SELECT range AS node FROM range(0, {n_teleport}))",
        iters=iters)
    want = dict(duckdb.connect().execute(sql).fetchall())
    assert got == want


@pytest.mark.parametrize("iters", [1, 5])
def test_pagerank_matches_sql_twin(spark, iters):
    """Spark pagerank == DuckDB pagerank_sql to the last micro-unit on
    a deterministic pseudo-random weighted multigraph."""
    n, triples = _twin_graph()
    _assert_matches_sql_twin(spark, triples, n, iters)


def test_personalized_pagerank_matches_sql_twin(spark):
    """The same on a 3-node teleport set: the rank relation is the
    seeds plus the nodes their mass reaches, in both engines."""
    _, triples = _twin_graph()
    _assert_matches_sql_twin(spark, triples, 3, 5)


def test_bfs_hops_small_graph(spark):
    from proj_spark.graph import bfs_hops
    # 0->1->2->3->4 chain, plus island 9; direction matters (5->0 does
    # not make 5 reachable)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (5, 0), (2, 1)],
        "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.hops for r in bfs_hops(edges, seeds, 3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}  # 4 beyond depth, 5/9 unreachable


def test_bfs_hops_early_stop_and_min(spark):
    from proj_spark.graph import bfs_hops
    # two paths to node 3: length 1 and length 2 -> hops must be 1
    edges = spark.createDataFrame(
        [(0, 3), (0, 1), (1, 3)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.hops for r in bfs_hops(edges, seeds, 10).collect()}
    assert got == {0: 0, 1: 1, 3: 1}


def test_labeled_bfs_hops_equals_one_run_per_seed(spark):
    """Seeds (seed, node): each label's hops equal a single-label
    bfs_hops from that label's seed nodes alone, though the labels'
    trees overlap and one label has two seed nodes."""
    from proj_spark.graph import bfs_hops
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (1, 4), (4, 5), (5, 2), (6, 3)],
        "src long, dst long")
    seeds = spark.createDataFrame([(10, 0), (20, 4), (30, 6), (30, 5)],
                                  "seed long, node long")
    got = {(r.seed, r.node): r.hops
           for r in bfs_hops(edges, seeds, 3).collect()}
    want = {}
    for label in (10, 20, 30):
        one = seeds.where(F.col("seed") == label).select("node")
        want.update({(label, r.node): r.hops
                     for r in bfs_hops(edges, one, 3).collect()})
    assert got == want
    assert got[(10, 3)] == 3 and got[(30, 3)] == 1


def test_triangle_counts_known(spark):
    from proj_spark.graph import triangle_counts
    # K4 on {0,1,2,3}: each node is in C(3,2)=3 triangles; plus a
    # pendant edge (3,4) and a disconnected edge (7,8): no triangles.
    # Edge list includes duplicates, reversals, and a self-loop.
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
         (3, 4), (7, 8), (5, 5), (2, 3)],
        "src long, dst long")
    got = {r.node: r.n_tri for r in triangle_counts(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_star_has_none(spark):
    from proj_spark.graph import triangle_counts
    edges = spark.createDataFrame([(0, i) for i in range(1, 30)],
                                  "src long, dst long")
    assert triangle_counts(edges).count() == 0


def test_triangle_counts_doulion_sampling(spark):
    from proj_spark.graph import triangle_counts
    import itertools, random
    rng = random.Random(3)
    nodes = list(range(24))
    edges = [(a, b) for a, b in itertools.combinations(nodes, 2)
             if rng.random() < 0.5]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_tri
           for r in triangle_counts(df, sample_mod=3).collect()}
    kept = {(a, b) for a, b in edges if (a * 1000003 + b) % 3 == 0}
    want = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if {(a, b), (a, c), (b, c)} <= kept:
            for v in (a, b, c):
                want[v] = want.get(v, 0) + 1
    assert got == want


def test_betweenness_bounded_rejects_depth_lt_2(spark):
    """depth < 2 has no interior level for the backward pass; the
    public API must fail loudly, not with IndexError (round-2 advice)."""
    import pytest as _pytest

    from proj_spark.graph import betweenness_bounded
    e = spark.createDataFrame([(1, 2)], "u long, v long")
    s = spark.createDataFrame([(1,)], "s long")
    with _pytest.raises(ValueError, match="depth >= 2"):
        betweenness_bounded(e, s, depth=1)


def test_iterative_operators_leave_the_cache_empty(spark):
    """Each loop cuts its lineage with localCheckpoint, which the
    session's cache manager never sees: once an operator's result is
    collected, nothing is left registered for the caller to clear."""
    import __spark_entry__ as entry
    from proj_spark.graph import bfs_hops, weighted_hops
    from proj_spark.spatial.knn import knn_join
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    edges = _edges(spark, [(0, 1, 2), (1, 2, 1), (2, 0, 3), (2, 3, 1)])
    seeds = spark.createDataFrame([(0,)], "node long")
    pts = spark.createDataFrame(
        [(i, 0.01 * i, 0.02 * i) for i in range(20)],
        "id long, lon double, lat double")
    queries = spark.createDataFrame(
        [(1, 0.05, 0.1)], "query_id long, lon double, lat double")
    runs = {
        "pagerank": lambda: pagerank(edges, _nodes(spark, 4)),
        "personalized pagerank": lambda: pagerank(edges, seeds),
        "bfs_hops": lambda: bfs_hops(edges, seeds),
        "labeled bfs_hops": lambda: bfs_hops(
            edges, seeds.select(F.col("node").alias("seed"), "node")),
        "weighted_hops": lambda: weighted_hops(edges, seeds),
        "knn_join": lambda: knn_join(queries, pts, k=3, data_id="id"),
        "q_kmeans": lambda: entry.q_kmeans(spark, "/root/testdata/sf0.001"),
    }
    for name, run in runs.items():
        assert run().collect(), name
        assert cache.isEmpty(), name
