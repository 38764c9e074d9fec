"""10x row-count stress: the geo spine at sf0.1 (600k pages) vs an
sf1-equivalent synthetic corpus (6M pages), same session, same plans.

Round 5's N-vs-4N probe (BASELINE.md, "Throughput scaling, N vs 4N")
evidenced CLUSTER scaling; this tool evidences DATA scaling — that each
headline operator's throughput (rows/sec) holds when the input grows
10x with the parallelism fixed.  A plan that degrades superlinearly
here (e.g. a join whose per-key fan-out grows with density) would fall
over at 100 TB no matter how many executors it gets.

knn_join is run twice at 6M on purpose:
  - fixed z=13 (the sf0.1-tuned zoom): cell occupancy grows 10x, so
    candidate pairs grow ~100x/10 = 10x per point — the documented
    failure mode of a density-blind zoom;
  - density-matched z=15 (occupancy back at ~1.4 docs/cell): the knob
    the operator exposes for exactly this reason.

Usage: python tools/stress10x.py [--small 600000] [--big 6000000]
Prints one JSON line per (query, n) with wall seconds and rows/sec,
then a summary of throughput retention big/small (1.0 = perfectly
linear cost in rows).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from proj_spark.spark.session import get_spark  # noqa: E402


def geo_queries(z_knn: int):
    from proj_spark.spatial.knn import knn_self_join

    def knn_join_at(spark, sf_dir):
        pts = entry._points(spark, sf_dir)
        return knn_self_join(pts, k=3, z=z_knn, ring=1, id_col="url")

    return {
        "tile_density": entry.q_tile_density,
        "utm_project": entry.q_utm_project,
        "datum_shift": entry.q_datum_shift,
        "pip_admin": entry.q_pip_admin,
        "factors": entry.q_factors,
        "geod_pairs": entry.q_geod_pairs,
        "dggs_rollup": entry.q_dggs_rollup,
        "tile_pyramid": entry.q_tile_pyramid,
        "morans_i": entry.q_morans_i,
        "viewport_topk": entry.q_viewport_topk,
        "idw_interp": entry.q_idw_interp,
        "domain_drift": entry.q_domain_drift,
        f"knn_join_z{z_knn}": knn_join_at,
        # session-11 overlay/layout/spatiotemporal layer.  Deliberately
        # EXCLUDED: seg_intersect (true intersections grow ~quadratic
        # in areal density — output-bound, not a plan flaw) and
        # triangles (the synthetic domain graph saturates toward
        # completeness, so edge count stops growing with n).
        "map_match": entry.q_map_match,
        "hilbert_rollup": entry.q_hilbert_rollup,
        "convex_hull": entry.q_convex_hull,
        "od_flows": entry.q_od_flows,
        "domain_gyration": entry.q_domain_gyration,
        "knox_pairs": entry.q_knox_pairs,
        # session 15-17 row-scaling queries.  The domain-GRAPH queries
        # (kcore/cocitation/hits/link_pred, like triangles before them)
        # are excluded: the synthetic 1000-node link graph saturates
        # toward completeness as pages grow, so their input stops
        # growing with n — a property of the data, not the plans.
        "stay_points": entry.q_stay_points,
        "url_edit_pairs": entry.q_url_edit_pairs,
        # round-4 kernels (verdict item 7): the kinematic per-epoch
        # Helmert matmul and the GTX bilinear closure
        "itrf_drift": entry.q_itrf_drift,
        "geoid_heights": entry.q_geoid_heights,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", type=int, default=600_000)
    ap.add_argument("--big", type=int, default=6_000_000)
    ap.add_argument("--only", nargs="*", default=None,
                    help="run only these query names")
    args = ap.parse_args()

    spark = get_spark()
    # warm every python worker once (uncounted; see bench.py)
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import DoubleType
    warm = pandas_udf(lambda x: x * 1.0, DoubleType())
    n_workers = spark.sparkContext.defaultParallelism
    (spark.range(0, n_workers * 10000, 1, n_workers)
     .select(warm(F.col("id").cast("double"))).count())

    results: dict[str, dict[int, float]] = {}
    for n in (args.small, args.big):
        sf_dir = f"synthetic/sf{n / entry.PAGES_PER_SF:g}"
        # density-matched zoom: occupancy ~ n / 4^z constant
        z_knn = 13 if n <= 600_000 else 15
        qs = geo_queries(z_knn)
        if n > 600_000:
            qs["knn_join_z13_fixed"] = geo_queries(13)[
                "knn_join_z13"] if z_knn != 13 else None
            qs = {k: v for k, v in qs.items() if v is not None}
        if args.only:
            qs = {k: v for k, v in qs.items()
                  if any(k.startswith(o) for o in args.only)}
        for name, q in qs.items():
            try:
                # steady-state: second run after a first paying codegen
                q(spark, sf_dir).count()
                # recompute honestly: the warm run may have persisted
                # intermediates (tile_pyramid levels)
                spark.catalog.clearCache()
                t0 = time.time()
                rows = q(spark, sf_dir).count()
                wall = time.time() - t0
            except Exception as ex:  # heap exhaustion on the density-
                # blind knn zoom is an EXPECTED demonstrable failure
                print(json.dumps({"query": name, "n_pages": n,
                                  "failed": type(ex).__name__,
                                  "detail": str(ex)[:200]}), flush=True)
                continue
            # tile_pyramid persists its levels; drop them so the next
            # query's timing never reads this one's cache
            spark.catalog.clearCache()
            key = name.replace(f"_z{z_knn}", "_zmatched") \
                if name == f"knn_join_z{z_knn}" else name
            results.setdefault(key, {})[n] = wall
            print(json.dumps({"query": name, "n_pages": n, "rows": rows,
                              "sec": round(wall, 2),
                              "pages_per_sec": round(n / wall)}),
                  flush=True)

    retention = {}
    for name, by_n in results.items():
        if args.small in by_n and args.big in by_n:
            rate_s = args.small / by_n[args.small]
            rate_b = args.big / by_n[args.big]
            retention[name] = round(rate_b / rate_s, 3)
    print(json.dumps({"metric": "throughput retention at 10x rows "
                                "(rate_big/rate_small; 1.0 = linear)",
                      "retention": retention}), flush=True)


if __name__ == "__main__":
    main()
