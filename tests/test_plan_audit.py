"""Physical-plan audits: lock in the plan shapes the 100 TB design
depends on, so a regression (lost broadcast, lost pruning, new shuffle
of a big side, UDF pushed below a dedup barrier) fails loudly.

These assert structural properties of `.explain` output, not timings —
they are cheap and deterministic.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e
    return e


def test_crs_dispatch_no_shuffle(spark, entry):
    """Per-point CRS dispatch is map-side only: scan -> UDFs -> project."""
    s = plan_of(entry.q_crs_dispatch(spark, SF))
    assert "Exchange" not in s
    assert "ArrowEvalPython" in s


def test_tile_density_prunes_text(spark, entry):
    """The pages scan must never read text/warc_ts for geo rollups."""
    s = plan_of(entry.q_tile_density(spark, SF))
    reads = [ln for ln in s.splitlines() if "ReadSchema" in ln]
    assert reads and all("text" not in ln and "warc_ts" not in ln
                         for ln in reads)


def test_pip_admin_broadcasts_cover(spark, entry):
    """PIP join broadcasts the polygon cover; the points side must not
    hash-shuffle before the join."""
    s = plan_of(entry.q_pip_admin(spark, SF))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_datum_shift_single_arrow_stage(spark, entry):
    """The fused cart->helmert->cart chain crosses the JVM/Python
    boundary exactly once before aggregation."""
    import re
    s = plan_of(entry.q_datum_shift(spark, SF))
    nodes = re.findall(r"^\(\d+\) ArrowEvalPython", s, re.M)
    assert len(nodes) == 1


def test_embed_topk_uses_take_ordered(spark, entry):
    s = plan_of(entry.q_embed_topk(spark, SF))
    assert "TakeOrderedAndProject" in s
    # the scan reads only the embedding/vec_id columns
    reads = [ln for ln in s.splitlines() if "ReadSchema" in ln]
    assert reads


def test_minhash_verify_not_pushed_below_distinct(spark, entry):
    """The jaccard verify must evaluate ABOVE the candidate distinct,
    never on the pre-distinct banded pairs."""
    try:
        s = plan_of(entry.q_minhash_neardup(spark, SF))
    finally:
        spark.catalog.clearCache()
    tree, details = s.split("\n\n", 1)
    # node ids whose details evaluate the array_intersect verify
    verify = [re.match(r"\((\d+)\)", b).group(1)
              for b in re.split(r"\n(?=\(\d+\) )", details.strip())
              if "array_intersect" in b]
    assert verify
    lines = tree.splitlines()
    first = min(i for i, ln in enumerate(lines)
                if any(f"({n})" in ln for n in verify))
    # the formatted tree lists a parent before its children
    agg = next(i for i, ln in enumerate(lines) if "HashAggregate" in ln)
    assert first < agg


def test_ngram_pairs_uses_broadcast_anti_join(spark, entry):
    s = plan_of(entry.q_ngram_pairs(spark, SF))
    assert "LeftAnti, BuildRight" in s or "BroadcastHashJoin" in s


def test_knn_join_partial_topk_single_window_exchange(spark, entry):
    """The kNN self-join must (a) prune text/warc_ts at the scan, (b)
    keep a map-side partial top-k (WindowGroupLimit below the window
    Exchange) so the shuffle carries <=k rows per (point, partition),
    and (c) never sort-merge the candidate join at test scale."""
    s = plan_of(entry.q_knn_join(spark, SF))
    reads = [ln for ln in s.splitlines() if "ReadSchema" in ln]
    assert reads and all("text" not in ln and "warc_ts" not in ln
                         for ln in reads)
    # two WindowGroupLimit nodes: the partial (pre-shuffle) + final
    assert s.count("WindowGroupLimit") >= 2
    lines = s.splitlines()
    wgl = [i for i, ln in enumerate(lines) if "WindowGroupLimit" in ln]
    exch = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    assert exch, "expected a window Exchange in the plan"
    # at least one WindowGroupLimit sits below (later tree line than)
    # the window's Exchange in the tree rendering
    assert any(w > min(exch) for w in wgl)


def test_factors_single_arrow_stage_map_side(spark, entry):
    """proj_factors crosses the JVM/Python boundary once, and the band
    aggregation is a partial->final hash agg (map-side combine) — the
    shape that scales: one Arrow pass + one tiny shuffle (~25 occupied
    5-degree bands for the |lat| <= ~62 fixture)."""
    import re
    s = plan_of(entry.q_factors(spark, SF))
    nodes = re.findall(r"^\(\d+\) ArrowEvalPython", s, re.M)
    assert len(nodes) == 1
    assert s.count("HashAggregate") >= 2       # partial + final


def test_geod_pairs_single_window_single_arrow(spark, entry):
    """The pair chaining shuffles once on the tile key; the Karney solve
    is one Arrow batch stage above the window."""
    import re
    s = plan_of(entry.q_geod_pairs(spark, SF))
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", s, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Window", s, re.M)) == 1
    assert len(re.findall(r"hashpartitioning", s)) >= 1


def test_aqe_splits_skewed_cell_join(spark):
    """The north rule's skew contract: a dense cell (urban hex / hot
    domain) on the big side of a cell equi-join is split by AQE's skew
    join, not serialized into one straggler task.  Salting (spatial/
    skew.py) covers aggregations; this locks the join-side handling.

    Thresholds are lowered to make the 300k-row fixture 'skewed' at
    test scale; production keeps the defaults (256 MB) where a 90%-hot
    cell at 100 TB trips the same rule."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        # 90% of points land in one hot cell, the rest scatter
        pts = spark.range(0, 300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
             .otherwise(F.col("id") % 1000).alias("cell"),
            F.col("id").alias("pid"))
        dim = spark.range(0, 1000).select(
            F.col("id").alias("cell"), (F.col("id") * 2).alias("v"))
        j = pts.join(dim, "cell").select(F.sum("pid").alias("s"))
        j.collect()                      # AQE decides at runtime
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_dggs_rollup_single_arrow_partial_agg(spark, entry):
    """The DGGS cell assignment is one Arrow pass; the per-cell count is
    a partial->final hash agg so only (cell, count) pairs shuffle."""
    import re
    s = plan_of(entry.q_dggs_rollup(spark, SF))
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", s, re.M)) == 1
    assert s.count("HashAggregate") >= 2


def test_radius_join_prunes_and_hash_joins(spark, entry):
    """The range join must (a) prune text/warc_ts at the scan, (b) run
    the cell candidate join as a hash join (never a nested-loop or
    cartesian — the n^2 shapes), and (c) apply the distance threshold
    as a codegen'd filter, not a UDF."""
    s = plan_of(entry.q_radius_join(spark, SF))
    reads = [ln for ln in s.splitlines() if "ReadSchema" in ln]
    assert reads and all("text" not in ln and "warc_ts" not in ln
                         for ln in reads)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "HashJoin" in s            # shuffled or broadcast hash join
    assert "ArrowEvalPython" not in s  # pure-expression distance filter


def test_admin_raster_broadcasts_both_joins(spark, entry):
    """Rasterize-and-zonal-count must never shuffle the pages relation:
    the raster is broadcast to the pages side and the per-cell counts
    are broadcast back to the raster — no sort-merge join, and the only
    exchange is the tiny partial-agg one."""
    import re
    s = plan_of(entry.q_admin_raster(spark, SF))
    assert "SortMergeJoin" not in s
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", s, re.M)) == 2
    assert len(re.findall(r"^\(\d+\) Exchange", s, re.M)) <= 1
    assert "ArrowEvalPython" not in s and "BatchEvalPython" not in s


def test_geod_area_single_arrow_stage_after_agg(spark, entry):
    """geod_area's Karney edge kernel must run ONCE (a single
    ArrowEvalPython stage over the exploded edges) and sit ABOVE the
    cell aggregation, so the Python boundary sees O(cells), not
    O(pages)."""
    import re
    s = plan_of(entry.q_geod_area(spark, SF))
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", s, re.M)) == 1
    lines = s.splitlines()
    arrow = [i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln]
    aggs = [i for i, ln in enumerate(lines) if "HashAggregate" in ln]
    # the page-count agg renders BELOW (later tree line than) the kernel
    assert any(a > arrow[0] for a in aggs)


def test_coverage_gap_points_never_shuffle_before_joins(spark, entry):
    """Both spatial tests are broadcast NLJs over the 12-row admin list;
    the only Exchange is the final cell rollup."""
    import re
    s = plan_of(entry.q_coverage_gap(spark, SF))
    assert len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", s, re.M)) == 2
    assert "LeftSemi" in s and "LeftAnti" in s
    assert "SortMergeJoin" not in s
    # exchanges: 2 broadcasts + exactly one hash partitioning (cell agg)
    assert len(re.findall(r"hashpartitioning\(cell7", s)) == 1


def test_hll_registers_partial_aggregate_map_side(spark, entry):
    """The HLL register build must partial-aggregate (map-side max)
    before its exchange — that is what makes the sketch mergeable and
    shuffle-light at 10^12 rows."""
    import re
    s = plan_of(entry.q_hll_tiles(spark, SF))
    assert re.search(r"partial_max", s), "register max must combine map-side"
    # the estimate join keys on cell5 -> broadcast-able small aggregate
    assert "BroadcastHashJoin" in s


def test_dup_spans_single_window_sort(spark, entry):
    """All 7 LEADs share ONE exchange+sort on doc_id (window collapse),
    computed once and persisted (both consumers read the InMemory
    relation); no interpreted higher-order lambdas in the hot path."""
    import re
    df = entry.q_dup_spans(spark, SF)
    try:
        s = plan_of(df)
        wins = re.findall(r"^\(\d+\) Window", s, re.M)
        assert len(wins) <= 1, f"window subtree duplicated: {len(wins)}"
        assert s.count("InMemoryTableScan") >= 2  # both uses hit the cache
        assert "transform(" not in s  # no interpreted HOF
    finally:
        spark.catalog.clearCache()


def test_stratified_sample_map_only_filter(spark, entry):
    """The sampling decision is a pure per-row expression: exactly one
    exchange (the lang/source rollup), no UDFs."""
    import re
    s = plan_of(entry.q_stratified_sample(spark, SF))
    assert len(re.findall(r"^\(\d+\) Exchange", s, re.M)) == 1
    assert "Python" not in s


def test_url_canon_no_udf_single_scan(spark, entry):
    """Canonicalization is one regex expression chain over one scan."""
    import re
    s = plan_of(entry.q_url_canon(spark, SF))
    assert "Python" not in s
    scans = re.findall(r"^\(\d+\) Scan parquet", s, re.M)
    assert len(scans) == 1
    # the scan reads only url (html/text pruned)
    reads = [ln for ln in s.splitlines() if "ReadSchema" in ln]
    assert reads and all("html" not in ln and "text" not in ln
                         for ln in reads)


def test_pii_redact_map_only_no_udf(spark, entry):
    """The PII scrub is a pure codegen'd rewrite: one scan, zero
    exchanges, zero Python — the shape a 100 TB full-corpus rewrite
    needs."""
    import re
    s = plan_of(entry.q_pii_redact(spark, SF))
    assert "Exchange" not in s
    assert "Python" not in s
    scans = re.findall(r"^\(\d+\) Scan parquet", s, re.M)
    assert len(scans) == 1


def test_decontaminate_broadcasts_benchmark(spark, entry):
    """The benchmark n-gram set broadcasts (it is small by definition);
    the corpus side must never feed a sort-merge join on the n-gram
    key."""
    s = plan_of(entry.q_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s
    assert "Python" not in s


def test_lm_score_no_udf_no_nlj(spark, entry):
    """Bigram LM scoring stays JVM-side: explode + hash aggs + hash
    joins only."""
    s = plan_of(entry.q_lm_score(spark, SF))
    assert "Python" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s


def test_adaptive_tiles_joins_tile_rows_only(spark, entry):
    """The cut self-join runs over the persisted pyramid levels (tile
    rows), never re-joining the raw points."""
    s = plan_of(entry.q_adaptive_tiles(spark, SF))
    assert "InMemoryTableScan" in s
    assert "CartesianProduct" not in s


def test_corridor_points_map_side_until_topk(spark, entry):
    """Corridor join: points relation joins the broadcast segments via
    NLJ (bbox gate) and shuffles exactly once — for the per-segment
    window top-k, which must be a partial WindowGroupLimit."""
    import re
    s = plan_of(entry.q_corridor(spark, SF))
    assert "BroadcastNestedLoopJoin" in s
    # no UDF nodes (the broadcast side's createDataFrame plumbing is
    # allowed to mention Python; the point stream must stay JVM-side)
    assert "EvalPython" not in s
    assert "WindowGroupLimit" in s
    assert len(re.findall(r"^\(\d+\) Exchange", s, re.M)) == 1


def test_traj_simplify_one_exchange_grouped_pandas(spark, entry):
    """DP simplification shuffles the points exactly once (on the
    trajectory key) into the grouped-pandas kernel."""
    import re
    s = plan_of(entry.q_traj_simplify(spark, SF))
    assert "FlatMapGroupsInPandas" in s
    assert len(re.findall(r"^\(\d+\) Exchange", s, re.M)) == 1


def test_bloom_decontam_zero_exchange(spark, entry):
    """The bitset probe is ONE map-side Arrow stage: the corpus
    relation must reach the output with NO Exchange anywhere."""
    s = plan_of(entry.q_bloom_decontam(spark, SF))
    assert "Exchange" not in s
    assert "MapInPandas" in s or "ArrowEvalPython" in s


def test_skyline_broadcasts_frontier(spark, entry):
    """The corpus side pays one partial-agg shuffle; the frontier
    relation comes back as a BROADCAST probe, never a sort-merge."""
    s = plan_of(entry.q_skyline(spark, SF))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_seg_intersect_no_distinct_after_join(spark, entry):
    """Reference-point dedup replaces a distinct: after the cell
    equi-join there must be no aggregation/distinct exchange — the
    join's output flows straight to the project."""
    s = plan_of(entry.q_seg_intersect(spark, SF))
    joins = [ln for ln in s.splitlines() if "Join" in ln]
    assert joins
    # exactly one exchange pair feeds the pair join; nothing after it
    after = s.split("Join", 1)[0]
    assert "HashAggregate" not in after


def test_lsh_verify_never_collects_embeddings(spark, entry):
    """The embedding-LSH exact-cosine verify must be fully distributed:
    building the ann_pairs / embed_neardup plan may not collect() the
    embeddings relation to the driver (the round-2 verify broadcast an
    id->matrix dictionary — O(corpus) driver memory, fatal at 100 TB).
    The verify now joins raw vectors back onto candidate pairs by id,
    so plan CONSTRUCTION triggers no action at all."""
    from unittest import mock
    from pyspark.sql import DataFrame
    from proj_spark.text.similarity import neardup_pairs, knn_pairs_topk
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    def _boom(self, *a, **k):
        raise AssertionError("collect() during LSH plan construction")

    with mock.patch.object(DataFrame, "collect", _boom):
        nd = neardup_pairs(emb, tau=0.7, dim=64, n_planes=4, n_tables=4)
        tk = knn_pairs_topk(emb, k=3, dim=64, n_planes=4, n_tables=4)
    # plans built without any driver action; both still execute
    assert nd.columns == ["id_a", "id_b", "cosine"]
    assert tk.count() >= 0
