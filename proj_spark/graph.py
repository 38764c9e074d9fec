"""Iterative graph analytics over Spark DataFrames (PageRank, BFS).

Web-curation pipelines rank domains by link authority before sampling
training data; this module provides one rank iteration, `pagerank`,
global or personalized by its teleport set, whose arithmetic is
*integer-quantized* so that a SQL oracle (`pagerank_sql`) can replay it
bit-exactly:

  - ranks are BIGINT micro-units (init `I` per teleport node);
  - an edge (src -> dst, weight w) carries `(rank[src] * w) div W[src]`
    where W[src] is src's total out-weight (integer floor division);
  - the update is `base + (85 * incoming) div 100` with
    `base = (15 * I) div 100` on the teleport set (0 elsewhere) — every
    step is exact 64-bit integer math, identical under any evaluation
    order, so Spark and DuckDB agree to the last unit no matter how
    partial aggregation reorders the sums.

The one BFS, `bfs_hops`, is likewise single-source or labeled
(one BFS per label, all in one pass) by the columns of its seed set.

Dangling mass (nodes with no out-edges) is dropped, not redistributed —
a standard variant; both engines implement the same rule.

Scale plan (100 TB / 1e8-domain graph): the edge relation is the big
side — it is shuffled ONCE onto `src` when the out-weight totals are
computed, then checkpointed; each of the `iters` rounds is one join
(broadcast while the rank relation fits, a sort-merge join against the
checkpointed edges otherwise) plus one map-side-combined hash
aggregation on `dst`.

Lineage rule for the loops here and in text/components.py: a loop that
replaces a relation each round ends the round in `.localCheckpoint()`,
and a stop on an empty frontier asks `.isEmpty()` of that checkpoint
(kcore_peel is the one exception on purpose: its rounds are narrow
broadcast semi-joins, so it stays one lazy plan).  The checkpoint is a
TRUE lineage cut — the next round's plan starts from the stored rows,
so neither Catalyst's plan tree nor the recomputation grows with the
round count.  `persist()` is not: a cached relation keeps its whole
logical plan, and whatever a loop persists stays in the session cache
until someone unpersists it.
A relation every round re-reads without replacing it (an edge set, the
k-means lattice) is materialized once before the loop: checkpointed here
and in q_kmeans, or persisted and then unpersisted by the same function
(components.py's edge set).

Reference analogue: this is the engine's second iterative-dataflow
operator next to connected_components; the reference's own iterative
kernels are the Newton loops inside projection inverses
(e.g. src/projections/aea.cpp msfn/qsfn iterations).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PR_INIT = 1_000_000_000          # micro-units per node at iteration 0
PR_NUM, PR_DEN = 85, 100         # damping 0.85 as an exact rational
PR_BASE = (PR_DEN - PR_NUM) * PR_INIT // PR_DEN   # teleport base per round


def pagerank(edges: DataFrame, teleport: DataFrame,
             iters: int = 5) -> DataFrame:
    """Quantized PageRank with teleport set `teleport`.

    edges: (src long, dst long, w long) — aggregated multigraph weights.
    teleport: (node) — where the random surfer restarts.  Each round
    gives a node the damped incoming mass, plus the teleport base when
    it is in `teleport`; rank starts at `PR_INIT` on `teleport` only.
    Returns (node, score) in integer micro-units for every teleport
    node and every node reached by rank mass.

    Passing the whole node universe (whose edges never leave it) is
    global PageRank: isolated nodes keep the teleport base.  Passing a
    seed set is personalized PageRank (the "random surfer restarts at
    the seeds" variant behind related-page / topic-sensitive ranking,
    Haveliwala WWW 2002): the rank relation stays SPARSE, seeds plus the
    nodes their mass reaches, which at web scale is orders of magnitude
    smaller than the graph.  A round is ONE aggregate over the edge
    contributions and the teleport set (unioned, grouped by node), so
    no round ever touches the node universe unless the caller passes
    it, and none joins the rank relation back onto it.
    """
    w_tot = edges.groupBy("src").agg(F.sum("w").alias("w_tot"))
    e = edges.join(w_tot, "src").localCheckpoint()
    rank = teleport.select("node", F.lit(PR_INIT).cast("long").alias("score"))
    # a teleport row adds no mass and carries the base; max(t) is the
    # base exactly on the teleport set
    restart = teleport.select("node", F.lit(0).cast("long").alias("c"),
                              F.lit(PR_BASE).cast("long").alias("t"))
    for _ in range(iters):
        contrib = (e.join(F.broadcast(rank.withColumnRenamed("node", "src")),
                          "src")
                   .select(F.col("dst").alias("node"),
                           F.expr("(score * w) div w_tot").alias("c"),
                           F.lit(0).cast("long").alias("t")))
        rank = (contrib.unionByName(restart).groupBy("node")
                .agg((F.max("t")
                      + F.expr(f"({PR_NUM} * sum(c)) div {PR_DEN}")
                      ).cast("long").alias("score"))
                .localCheckpoint())
    return rank


def pagerank_sql(edges_cte: str, teleport_cte: str, iters: int = 5) -> str:
    """DuckDB twin of `pagerank`: unrolled per-iteration CTEs.

    `edges_cte` must define `e(src, dst, w)`; `teleport_cte` must define
    `teleport(node)`.  Each round FULL OUTER joins the incoming mass
    with the teleport set, the same rows as `pagerank`'s grouped union.
    Returns the full `WITH ... SELECT node, score` text (no trailing
    ORDER BY — the caller appends its own).
    """
    parts = [edges_cte, teleport_cte,
             "wt AS (SELECT src, SUM(w) AS w_tot FROM e GROUP BY 1)",
             "ew AS (SELECT e.src, e.dst, e.w, wt.w_tot FROM e JOIN wt USING (src))",
             f"pr0 AS (SELECT node, CAST({PR_INIT} AS BIGINT) AS score "
             f"FROM teleport)"]
    for k in range(1, iters + 1):
        parts.append(
            f"in{k} AS (SELECT ew.dst AS node, "
            f"SUM((p.score * ew.w) // ew.w_tot) AS m "
            f"FROM ew JOIN pr{k - 1} p ON p.node = ew.src GROUP BY 1)")
        parts.append(
            f"pr{k} AS (SELECT COALESCE(i.node, t.node) AS node, "
            f"CAST(CASE WHEN t.node IS NOT NULL THEN {PR_BASE} ELSE 0 END + "
            f"({PR_NUM} * COALESCE(i.m, 0)) // {PR_DEN} AS BIGINT) AS score "
            f"FROM in{k} i FULL OUTER JOIN teleport t ON t.node = i.node)")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT node, score FROM pr{iters}")


def bfs_hops(edges: DataFrame, seeds: DataFrame,
             max_depth: int = 4) -> DataFrame:
    """Exact minimum hop count from a seed set, depth-bounded BFS.

    edges: (src long, dst long) — direction respected; seeds: (node),
    plus any number of label columns.  Each distinct label runs its own
    BFS from its seed nodes, all in one pass.  Returns (labels..., node,
    hops) for every (labels, node) with node reachable from that label's
    seeds within `max_depth` (hops 0 = the seeds themselves).

    Scale plan: level-synchronous frontier expansion — each round is
    ONE equi-join of the (small, shrinking) frontier against the edge
    relation plus a distinct and an anti-join against the visited set,
    both keyed on (labels, node); the edge relation is checkpointed once
    and reused every round (on a cluster, pre-partitioned by src so the
    frontier join is co-located).  With labels the frontier join fans
    out each edge to at most |labels| copies (the centrality use case
    keeps the labels few, and the per-round distinct bounds the frontier
    by |labels| x |nodes|).  Each round checkpoints its (tiny) frontier
    and the loop early-stops when a frontier is empty.  The visited set
    is the union of the checkpointed levels, so its plan is a flat union
    of cut leaves — the lineage rule of the module docstring.
    """
    labels = [c for c in seeds.columns if c != "node"]
    key = labels + ["node"]
    e = edges.select("src", "dst").distinct().localCheckpoint()
    visited = (seeds.select(*key, F.lit(0).cast("long").alias("hops"))
               .localCheckpoint())
    frontier = visited.select(*key)
    for h in range(1, max_depth + 1):
        nxt = (frontier.join(e, frontier["node"] == e["src"])
               .select(*labels, F.col("dst").alias("node")).distinct()
               .join(visited.select(*key), key, "left_anti")
               .select(*key, F.lit(h).cast("long").alias("hops"))
               .localCheckpoint())
        if nxt.isEmpty():
            break
        visited = visited.union(nxt)
        frontier = nxt.select(*key)
    return visited


def edge_sample(a: str, b: str, sample_mod: int) -> Column:
    """DOULION-style deterministic-hash edge sample (Tsourakakis et al.,
    KDD'09): keep edge (a, b) iff (a * 1000003 + b) % sample_mod == 0,
    a rate-1/sample_mod sample that every engine reproduces exactly."""
    return (F.col(a) * 1000003 + F.col(b)) % sample_mod == 0


def undirected(edges: DataFrame,
               sample_mod: int | None = None) -> DataFrame:
    """The undirected simple graph (a, b), a < b, underlying directed
    `edges` (src, dst): direction, self-loops and duplicates dropped;
    with `sample_mod`, only the `edge_sample` of it."""
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
           .where(F.col("a") != F.col("b")).distinct())
    if sample_mod is None:
        return und
    return und.where(edge_sample("a", "b", sample_mod))


def triangle_counts(edges: DataFrame,
                    sample_mod: int | None = None) -> DataFrame:
    """Exact per-node triangle counts of the UNDIRECTED simple graph
    underlying `edges` (direction/self-loops/duplicates dropped).

    ``sample_mod``: optional edge sparsification by `edge_sample`, a
    DETERMINISTIC hash sample at rate p = 1/sample_mod of the canonical
    edges (a, b).  Counts on the sampled graph are exact and
    engine-reproducible; the unbiased whole-graph estimate is
    count / p^3.  This is the standard lever when the graph is
    dense (the synthetic domain graph approaches completeness as the
    corpus grows — wedge work is Σ deg², and sampling cuts it by p²).

    Scale plan — degree orientation (the classic MapReduce trick):
    orient every edge from its (degree, id)-smaller endpoint to the
    larger, so every wedge is generated at its LOWEST-degree corner;
    a hub of degree d generates O(sum of its neighbors' wedges), not
    O(d^2) — the quadratic hot-key blowup of naive wedge joins never
    materializes.  Each triangle is generated exactly once (at its
    minimum-rank corner) and closed by one equi-join back against the
    oriented edge list.  Three shuffles total, all on edge keys.

    Returns (node, n_tri) for nodes in >= 1 triangle.
    """
    und = undirected(edges, sample_mod)
    deg = (und.select(F.col("a").alias("node"))
           .union(und.select("b"))
           .groupBy("node").agg(F.count("*").alias("d")))
    withdeg = (und
               .join(deg.withColumnRenamed("node", "a")
                        .withColumnRenamed("d", "da"), "a")
               .join(deg.withColumnRenamed("node", "b")
                        .withColumnRenamed("d", "db"), "b"))
    lo_is_a = ((F.col("da") < F.col("db"))
               | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))))
    oriented = withdeg.select(
        F.when(lo_is_a, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_is_a, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lo_is_a, F.col("db")).otherwise(F.col("da")).alias("dv"))
    e1 = oriented.select(F.col("u"), F.col("v").alias("x"),
                         F.col("dv").alias("dx"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("y"),
                         F.col("dv").alias("dy"))
    wedges = (e1.join(e2, "u")
              .where((F.col("dx") < F.col("dy"))
                     | ((F.col("dx") == F.col("dy"))
                        & (F.col("x") < F.col("y")))))
    closer = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tris = wedges.join(closer, ["x", "y"]).select("u", "x", "y")
    return (tris.select(F.col("u").alias("node"))
            .union(tris.select("x"))
            .union(tris.select("y"))
            .groupBy("node").agg(F.count("*").alias("n_tri")))


def weighted_hops(edges: DataFrame, seeds: DataFrame,
                  rounds: int = 4) -> DataFrame:
    """Exact minimum-COST distance from a seed set over integer-weighted
    edges, bounded to paths of <= `rounds` edges (bounded Bellman-Ford,
    i.e. delta-stepping with delta = infinity).

    edges: (src long, dst long, w long >= 0) — direction respected;
    parallel edges collapse to their minimum weight.  seeds: (node).
    Returns (node, dist) = min total weight over any path of <= rounds
    edges from a seed; exact integers, so the result is reproducible
    under any partial-agg reorder and by an independent SQL engine.

    Scale plan: level-synchronous label correction — each round joins
    only the IMPROVED frontier (nodes whose best label changed last
    round) against the edge relation, takes a per-node MIN of the
    candidate labels, and merges with the running best via one
    groupBy-min.  The frontier shrinks as labels converge, the edge
    relation is checkpointed once (on a cluster, pre-partitioned by src
    so the frontier join co-locates), each round checkpoints the
    improved frontier and the running best, and the loop early-stops on
    an empty frontier — the same discipline as bfs_hops().
    Work per round is O(|frontier| x avg-degree), never |V| x |E|.
    """
    e = (edges.groupBy("src", "dst").agg(F.min("w").alias("w"))
         .localCheckpoint())
    best = (seeds.select(F.col("node"), F.lit(0).cast("long").alias("dist"))
            .localCheckpoint())
    frontier = best
    for _ in range(rounds):
        cand = (frontier.join(e, frontier["node"] == e["src"])
                .select(F.col("dst").alias("node"),
                        (F.col("dist") + F.col("w")).alias("d"))
                .groupBy("node").agg(F.min("d").alias("d")))
        old = best.select(F.col("node"), F.col("dist").alias("old"))
        improved = (cand.join(old, "node", "left")
                    .where(F.col("old").isNull()
                           | (F.col("d") < F.col("old")))
                    .select("node", F.col("d").alias("dist"))
                    .localCheckpoint())
        if improved.isEmpty():
            break
        best = (best.union(improved)
                .groupBy("node").agg(F.min("dist").alias("dist"))
                .localCheckpoint())
        frontier = improved
    return best


def kcore_peel(und: DataFrame, k: DataFrame, rounds: int = 4) -> DataFrame:
    """Bounded k-core peeling of an undirected simple graph.

    und: canonical distinct edges (a long, b long) with a < b.
    k: a ONE-ROW DataFrame (kval long) — the degree threshold, kept as
    a relation (broadcast into the degree filter) so no scalar ever
    crosses to the driver.  Returns (node, deg): the nodes surviving
    `rounds` peel rounds with their degree in the surviving subgraph.

    Semantics (exactly what the unrolled SQL oracle replays): with
    E_0 the input edges, round r computes deg_r over E_{r-1}, keeps
    V_r = {u : deg_r(u) >= k}, and E_r = E_{r-1} restricted to V_r x
    V_r; the output is every endpoint of E_r with its E_r degree.
    Peeling a node can drag neighbors below k, which is why the filter
    iterates; after enough rounds this converges to the true k-core,
    and a fixed bound keeps the result deterministic and SQL-unrollable
    (same discipline as pagerank's fixed iters).

    Scale plan: the symmetrized edge relation is materialized ONCE
    (localCheckpoint — on a cluster, a persisted/checkpointed table);
    every round is then ONE map-side-combined degree aggregation plus
    two BROADCAST semi joins of the live edges against the (small)
    survivor set.  The semi joins are narrow, so the only per-round
    exchange is the degree agg, and the whole peel is ONE lazy plan —
    no per-round persist/count actions serializing the rounds (that
    round-loop version measured ~3x slower on the sf0.1 graph: each
    round paid a job launch + materialization for relations the
    broadcast builds re-derive cheaply from the checkpoint).
    """
    sym = (und.select(F.col("a").alias("u"), F.col("b").alias("v"))
           .union(und.select(F.col("b").alias("u"),
                             F.col("a").alias("v"))))
    alive = sym.localCheckpoint(eager=True)
    for _ in range(rounds):
        deg = alive.groupBy("u").agg(F.count("*").alias("deg"))
        keep = (deg.crossJoin(F.broadcast(k))
                .where(F.col("deg") >= F.col("kval"))
                .select("u"))
        alive = (alive.join(F.broadcast(keep), "u", "semi")
                 .join(F.broadcast(keep.select(F.col("u").alias("v"))),
                       "v", "semi"))
    return alive.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("deg"))


def modularity(und: DataFrame, lab: DataFrame) -> DataFrame:
    """Newman modularity of a node partition over an undirected simple
    graph — the standard quality score for community detections such as
    label propagation (Newman & Girvan 2004).

    ``und``: canonical undirected edges (a, b) with a < b, no dups.
    ``lab``: node partition (u, lab); must cover every edge endpoint.

    Exact arithmetic: with m = |edges|, e_c = in-community edges and
    d_c = total degree of community c, each community's contribution is

        Q_c = e_c/m - (d_c / 2m)^2  =  (4*m*e_c - d_c^2) / (4*m^2)

    so the numerator `q_num` is an exact BIGINT per community and the
    single float division happens once per output row with a fixed
    parenthesization — a SQL oracle replays it bit-for-bit.

    Scale plan: degrees come from one hash-agg over the symmetric edge
    relation; e_c is one edge join against the (broadcast) label
    relation; d_c/n_nodes one agg over labels.  The per-community
    relation is tiny, so the final assembly (left join + one-row m
    broadcast) never moves the corpus.
    """
    # the label relation is referenced three times (two e_in sides +
    # the d_tot/n_nodes agg); when it is itself the product of an
    # iterative computation (LPA rounds), each reference would re-run
    # the whole chain — persist the small (node, label) relation once.
    lab = lab.persist()
    sym = (und.select(F.col("a").alias("u"))
           .union(und.select(F.col("b").alias("u"))))
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    m = und.agg(F.count("*").alias("m_e"))
    la = lab.select(F.col("u").alias("a"), F.col("lab").alias("lab_a"))
    lb = lab.select(F.col("u").alias("b"), F.col("lab").alias("lab_b"))
    ein = (und.join(F.broadcast(la), "a").join(F.broadcast(lb), "b")
           .where(F.col("lab_a") == F.col("lab_b"))
           .groupBy(F.col("lab_a").alias("community"))
           .agg(F.count("*").alias("e_in")))
    dc = (lab.join(deg, "u")
          .groupBy(F.col("lab").alias("community"))
          .agg(F.sum("d").alias("d_tot"), F.count("*").alias("n_nodes")))
    out = (dc.join(ein, "community", "left")
           .fillna(0, subset=["e_in"])
           .crossJoin(F.broadcast(m)))
    qn = (F.lit(4) * F.col("m_e") * F.col("e_in")
          - F.col("d_tot") * F.col("d_tot"))
    md = F.col("m_e").cast("double")
    return out.select(
        F.col("community").cast("long").alias("community"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("e_in").cast("long").alias("e_in"),
        F.col("d_tot").cast("long").alias("d_tot"),
        F.col("m_e").cast("long").alias("m_e"),
        qn.cast("long").alias("q_num"),
        F.round(qn.cast("double") / (F.lit(4.0) * md * md), 6)
        .alias("q_part"))


def truss_support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle support |N(a) cap N(b)| of an undirected simple
    graph given as canonical edges (a < b): one self-join pair — edges
    join the symmetrized adjacency on each endpoint with a common third
    vertex (the same wedge shape as triangle_counts)."""
    sym = (edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
           .union(edges.select(F.col("b").alias("u"),
                               F.col("a").alias("v"))))
    na = sym.select(F.col("u").alias("a"), F.col("v").alias("c"))
    nb = sym.select(F.col("u").alias("b"), F.col("v").alias("c"))
    return (edges.join(na, "a").join(nb, ["b", "c"])
            .groupBy("a", "b").agg(F.count("*").alias("support")))


def truss_peel(und: DataFrame, k: DataFrame, rounds: int = 3,
               first_support: DataFrame | None = None) -> DataFrame:
    """Bounded truss peeling: keep edges whose triangle support meets a
    threshold, iterated (removing an edge can drop a neighbor edge's
    support below threshold), with a fixed round bound for determinism —
    the edge-centric sibling of `kcore_peel` (Cohen 2008; trusses are
    the standard dense-subgraph primitive one notch stronger than cores).

    und: canonical distinct edges (a long, b long) with a < b.
    k: a ONE-ROW DataFrame (kval long) — the required support, kept as
    a relation (broadcast into each round's filter) so no scalar ever
    crosses to the driver; callers typically derive it from the data
    (q_truss: mean round-1 support + 1, which peels every edge of the
    sf0.1 link graph).
    Returns the surviving edges with a final support recount
    (a, b, support) — i.e. E_R plus one more support pass over it.

    Scale plan: each round is one wedge self-join + one hash agg +
    one broadcast threshold filter, with the survivor set
    localCheckpoint'ed per round — a TRUE lineage cut, same discipline
    as bfs_hops' per-level truncation.  A merely-lazy chain recomputes
    round r's wedge join rounds-r more times, and persist() alone
    keeps the logical plan: the wedge shape references `alive` three
    times, so the un-cut plan TREE doubles per round and Catalyst
    re-analysis dominates (measured: round-3 support over 321 cached
    rows took 115 s driver-side; with the checkpoint cut the whole
    peel is seconds).  The survivor relations are tiny (they shrink
    monotonically), so the checkpoint cost is noise.
    """
    alive = und.localCheckpoint(eager=True)
    for i in range(rounds):
        # callers that already materialized round-1 support (e.g. to
        # derive k from it) pass it in so the most expensive wedge
        # join — the one over the full input — runs once, not twice
        sup = (first_support if i == 0 and first_support is not None
               else truss_support(alive))
        alive = (sup.crossJoin(F.broadcast(k))
                 .where(F.col("support") >= F.col("kval"))
                 .select("a", "b").localCheckpoint(eager=True))
    return truss_support(alive)


def truss_sql(und_cte: str, kv_cte: str, rounds: int = 3) -> str:
    """DuckDB twin of `truss_peel`: unrolled per-round CTE triples
    (symmetrize -> support -> survivors), each MATERIALIZED: a round
    reads its predecessor three times, and DuckDB would otherwise
    inline and recompute the whole chain.  `und_cte` must define
    `e0(a, b)` with a < b; `kv_cte` must define `kv(kval)` and may
    reference `sup1` (the round-1 support relation).  Returns
    `WITH ... SELECT a, b, support`."""
    parts = [und_cte]
    for r in range(1, rounds + 1):
        parts.append(
            f"s{r - 1} AS MATERIALIZED (SELECT a AS u, b AS v FROM e{r - 1} "
            f"UNION ALL SELECT b, a FROM e{r - 1})")
        parts.append(
            f"sup{r} AS MATERIALIZED (SELECT e.a, e.b, COUNT(*) AS support "
            f"FROM e{r - 1} e JOIN s{r - 1} x ON x.u = e.a "
            f"JOIN s{r - 1} y ON y.u = e.b AND y.v = x.v GROUP BY 1, 2)")
        if r == 1:
            parts.append(kv_cte)
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT a, b FROM sup{r}, kv "
            f"WHERE support >= kval)")
    parts.append(
        f"sf AS (SELECT a AS u, b AS v FROM e{rounds} "
        f"UNION ALL SELECT b, a FROM e{rounds})")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT e.a, e.b, COUNT(*) AS support "
            f"FROM e{rounds} e JOIN sf x ON x.u = e.a "
            f"JOIN sf y ON y.u = e.b AND y.v = x.v GROUP BY 1, 2")


def betweenness_bounded(edges: DataFrame, sources: DataFrame,
                        depth: int = 3) -> DataFrame:
    """Depth-bounded sampled-source betweenness centrality (Brandes
    2001, truncated at `depth` — the k-bounded variant used when exact
    all-pairs is infeasible; sampling sources is the standard estimator,
    Brandes-Pich 2007).

    edges: DISTINCT directed edges (u long, v long).  sources: (s long)
    the sampled source set.  Returns (node, bc_q): every node with a
    positive summed dependency delta, in exact micro-units.

    Exactness: path counts sigma are exact BIGINTs (level-synchronous
    sums over predecessors); the backward dependency
    delta(v) = sum_w (sigma_v * (1e6 + delta_w)) div sigma_w over
    successors w one level deeper is a sum of per-edge floored
    integers — engine-order-independent, so the unrolled SQL oracle
    (betweenness_sql) replays it bit-for-bit.

    Scale plan: each forward level is one equi-join of the labeled
    frontier into the edge list + one (s, v) hash agg + one anti-join
    against the accumulated reach; each backward level one equi-join
    into the edge list + one (s, w) join + hash agg.  Per-level
    relations are localCheckpoint'ed — the same lineage-cut discipline
    as bfs_hops/truss_peel (level plans reference each other multiply;
    an un-cut tree grows exponentially in `depth`).
    """
    if depth < 2:
        raise ValueError(
            "betweenness_bounded requires depth >= 2: at depth < 2 the "
            "backward dependency accumulation is empty (no interior "
            "level exists between a source and its frontier)")
    e = (edges.select(F.col("u"), F.col("v").alias("w"))
         .localCheckpoint(eager=True))
    lv = [sources.select(F.col("s"), F.col("s").alias("v"),
                         F.lit(1).cast("long").alias("sigma"))
          .localCheckpoint(eager=True)]
    reach = lv[0].select("s", "v")
    for _ in range(depth):
        cand = (lv[-1].join(e, lv[-1].v == e.u)
                .groupBy("s", "w").agg(F.sum("sigma").alias("sigma"))
                .withColumnRenamed("w", "v"))
        new = (cand.join(reach, ["s", "v"], "left_anti")
               .localCheckpoint(eager=True))
        lv.append(new)
        reach = reach.union(new.select("s", "v")).localCheckpoint(eager=True)
    delta = lv[depth].select(
        "s", F.col("v").alias("w"), F.col("sigma").alias("sigma_w"),
        F.lit(0).cast("long").alias("delta_w"))
    parts = []
    for l in range(depth - 1, 0, -1):
        contrib = (lv[l].join(e, lv[l].v == e.u)
                   .join(delta, ["s", "w"])
                   .select("s", "v",
                           F.expr("(sigma * (1000000 + delta_w)) "
                                  "div sigma_w").alias("term"))
                   .groupBy("s", "v").agg(F.sum("term").alias("dsum")))
        dl = (lv[l].join(contrib, ["s", "v"], "left")
              .select("s", "v", "sigma",
                      F.coalesce("dsum", F.lit(0)).cast("long")
                      .alias("delta"))
              .localCheckpoint(eager=True))
        parts.append(dl.select("s", "v", "delta"))
        delta = dl.select(
            "s", F.col("v").alias("w"), F.col("sigma").alias("sigma_w"),
            F.col("delta").alias("delta_w"))
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.union(p)
    return (allp.groupBy(F.col("v").alias("node"))
            .agg(F.sum("delta").alias("bc_q"))
            .where(F.col("bc_q") > 0))


def betweenness_sql(edges_cte: str, sources_cte: str,
                    depth: int = 3) -> str:
    """DuckDB twin of `betweenness_bounded`: forward levels as
    (candidate-agg -> anti-join -> reach-union) CTE triples, backward
    dependency levels as (contrib -> coalesce) pairs.  `edges_cte` must
    define `e(u, w)` (distinct directed edges with the head renamed to
    w); `sources_cte` must define `sources(s)`.  Returns
    `WITH ... SELECT node, bc_q`."""
    parts = [edges_cte, sources_cte,
             "lv0 AS (SELECT s, s AS v, CAST(1 AS BIGINT) AS sigma "
             "FROM sources)",
             "r0 AS (SELECT s, v FROM lv0)"]
    for l in range(1, depth + 1):
        parts.append(
            f"c{l} AS (SELECT p.s, e.w AS v, SUM(p.sigma) AS sigma "
            f"FROM lv{l - 1} p JOIN e ON e.u = p.v GROUP BY 1, 2)")
        parts.append(
            f"lv{l} AS (SELECT c.s, c.v, CAST(c.sigma AS BIGINT) AS sigma "
            f"FROM c{l} c WHERE NOT EXISTS "
            f"(SELECT 1 FROM r{l - 1} r WHERE r.s = c.s AND r.v = c.v))")
        parts.append(
            f"r{l} AS (SELECT * FROM r{l - 1} "
            f"UNION ALL SELECT s, v FROM lv{l})")
    parts.append(f"d{depth} AS (SELECT s, v, sigma, "
                 f"CAST(0 AS BIGINT) AS delta FROM lv{depth})")
    for l in range(depth - 1, 0, -1):
        parts.append(
            f"ct{l} AS (SELECT l.s, l.v, "
            f"SUM((l.sigma * (1000000 + d.delta)) // d.sigma) AS dsum "
            f"FROM lv{l} l JOIN e ON e.u = l.v "
            f"JOIN d{l + 1} d ON d.s = l.s AND d.v = e.w GROUP BY 1, 2)")
        parts.append(
            f"d{l} AS (SELECT l.s, l.v, l.sigma, "
            f"CAST(COALESCE(c.dsum, 0) AS BIGINT) AS delta "
            f"FROM lv{l} l LEFT JOIN ct{l} c ON c.s = l.s AND c.v = l.v)")
    un = " UNION ALL ".join(
        f"SELECT s, v, delta FROM d{l}" for l in range(1, depth))
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT v AS node, CAST(SUM(delta) AS BIGINT) AS bc_q "
            f"FROM ({un}) GROUP BY 1 HAVING SUM(delta) > 0")
