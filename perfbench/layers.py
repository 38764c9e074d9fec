"""Per-layer measurement for traced runs.

`Tracer` records spans (pass -> step -> build/plan/execute) around the
benchmark's own calls into the program, attaches Spark stage metrics
(L3, from the driver's AppStatusStore) to the span that ran them and
Catalyst phase times (L4) to the plan span, and keeps everything in
memory until the run writes it out.  `NullTracer` is the untraced run's
stand-in: every hook is a no-op.

The probes at the bottom measure layers in isolation: the NumPy kernels
(L1) with no Spark, the Python text signatures (L1), the JVM<->Python
Arrow boundary (L2), the pages table write and geotag extraction, and
the checkpointed stage for workloads whose passes do not run one.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

import pandas as pd

MB = 1 << 20

#: per-pass sums collected from the stages a pass ran
STAGE_KEYS = ("stage.run_s", "stage.cpu_s", "stage.gc_s", "shuffle.write_mb",
              "shuffle.read_mb", "spill.disk_mb", "shuffle.records")


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None

    def mark(self) -> None:
        pass

    def plan(self, cdf) -> None:
        pass

    def stages(self, span) -> None:
        pass

    def output_rows(self, n: int) -> None:
        pass

    def checkpoint(self, metrics: dict, data_path: str) -> None:
        pass


class Tracer(NullTracer):
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._started = 0
        self._group = ""
        self._attached: set[int] = set()
        self.pass_layers: dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {"id": self._started,
              "parent": parent["id"] if parent else None,
              "trace": parent["trace"] if parent else self._started,
              "name": name, "start": time.time(), **attrs}
        self._started += 1
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self.spans.append(sp)
            if name == "build":
                self._add("plan.build_s", sp["end"] - sp["start"])

    def _add(self, key: str, value: float) -> None:
        self.pass_layers[key] = self.pass_layers.get(key, 0.0) + value

    def start_pass(self) -> None:
        self.pass_layers = {k: 0.0 for k in (
            "plan.build_s", "plan.analyze_s", "plan.optimize_s",
            "plan.physical_s", "output_rows", *STAGE_KEYS)}
        self.pass_layers["task.skew_max"] = 1.0

    def mark(self) -> None:
        """Tag the jobs of the step that starts now with their own job
        group, so `stages` finds exactly the stages they ran."""
        self._group = f"perfbench-step-{self._started}"
        self.spark.sparkContext.setJobGroup(self._group, self._group)

    def plan(self, cdf) -> None:
        """Force optimization and physical planning of the checksum
        DataFrame (the later collect reuses them) and record Catalyst's
        own phase times on the current span."""
        qe = cdf._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        sp = self._stack[-1]
        for phase, key in (("analysis", "plan.analyze_s"),
                           ("optimization", "plan.optimize_s"),
                           ("planning", "plan.physical_s")):
            secs = (phases.apply(phase).durationMs() / 1000.0
                    if phases.contains(phase) else 0.0)
            sp[key] = secs
            self._add(key, secs)

    def stages(self, span) -> None:
        """Attach to `span` the metrics of the stages the current step's
        jobs ran that no span holds yet, and add them to the pass totals.
        Skipped stages (reused shuffle output) ran no tasks and are left
        out.  The status store is filled from the listener bus after the
        action has returned, so the bus is drained first: otherwise the
        step's last task-end and stage-completed events may be missing."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        ids = set()
        for job in tracker.getJobIdsForGroup(self._group):
            info = tracker.getJobInfo(job)
            ids.update(info.stageIds if info else ())
        ids -= self._attached
        if not ids:
            return
        self._attached |= ids
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        q = sc._gateway.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        got = {k: 0.0 for k in STAGE_KEYS}
        skew = 1.0
        for sid in sorted(ids):
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                       True, q)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if str(s.status()) == "SKIPPED":
                    continue
                got["stage.run_s"] += s.executorRunTime() / 1e3
                got["stage.cpu_s"] += s.executorCpuTime() / 1e9
                got["stage.gc_s"] += s.jvmGcTime() / 1e3
                got["shuffle.write_mb"] += s.shuffleWriteBytes() / MB
                got["shuffle.read_mb"] += s.shuffleReadBytes() / MB
                got["spill.disk_mb"] += s.diskBytesSpilled() / MB
                got["shuffle.records"] += s.shuffleWriteRecords()
                dist = s.taskMetricsDistributions()
                if s.numTasks() > 1 and dist.isDefined():
                    rt = dist.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    if med > 0:
                        skew = max(skew, mx / med)
        span.update({k: round(v, 6) for k, v in got.items()})
        span["task.skew_max"] = round(skew, 3)
        for k, v in got.items():
            self._add(k, v)
        self.pass_layers["task.skew_max"] = max(
            self.pass_layers["task.skew_max"], skew)

    def output_rows(self, n: int) -> None:
        self._add("output_rows", n)

    def checkpoint(self, metrics: dict, data_path: str) -> None:
        """Record one CheckpointedStage.run: its own wall time under the
        step's name, the partitions it wrote and the bytes of the files
        it wrote."""
        sp = self._stack[-1]
        written = 0
        for d, _, files in os.walk(data_path):
            for f in files:
                p = os.path.join(d, f)
                if os.path.getmtime(p) >= sp["start"]:
                    written += os.path.getsize(p)
        sp.update(metrics, bytes_written=written)
        self._add(CHECKPOINT_STEPS[sp["step"]], metrics["sec"])
        self._add("checkpoint.partitions_written", metrics["written"])
        self._add("checkpoint.bytes_written", written)


#: ingest_resume step -> the metric its CheckpointedStage.run time feeds
CHECKPOINT_STEPS = {"full": "checkpoint.write_s",
                    "resume": "checkpoint.resume_s",
                    "partial": "checkpoint.partial_s"}


# ---------------------------------------------------------------------------
# probes
# ---------------------------------------------------------------------------

def _per_item(fn, n_items: int, min_s: float = 0.3, reps: int = 5) -> float:
    """Median seconds per item of `fn()` over `reps` timed calls (at
    least `min_s` of calls in all), after one untimed call."""
    fn()
    times = []
    t_all = time.perf_counter()
    while len(times) < reps or time.perf_counter() - t_all < min_s:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / n_items


def kernel_probe(entry, seed: int, n: int = 65_536) -> dict[str, float]:
    """L1: ns per point of the coordinate kernels the geo queries call,
    on NumPy arrays in this process (one thread, no Spark)."""
    import numpy as np

    from proj_spark import create
    from proj_spark.operations.factors import factors
    from proj_spark.operations.karney import Geodesic
    from proj_spark.operations.tmerc import UTMBatch

    rng = np.random.default_rng(seed)
    lon = rng.uniform(-179.0, 179.0, n)
    lat = rng.uniform(-60.0, 60.0, n)
    lam, phi = np.radians(lon), np.radians(lat)
    utm = UTMBatch({"ellps": "GRS80"})
    lcc = create(entry.FACTORS_PROJ)
    cart = create("+proj=cart +ellps=GRS80")
    hel = create(entry.DATUM_HELMERT)
    geod = Geodesic(entry.SPHERE_R, 0.0)
    lat2 = np.clip(lat + rng.uniform(-1.0, 1.0, n), -89.0, 89.0)
    lon2 = lon + rng.uniform(-1.0, 1.0, n)

    def helmert_chain():
        x, y, z = cart.fwd3d(lam, phi, np.zeros_like(lam))
        x, y, z = hel.fwd(x, y, z)
        cart.inv3d(x, y, z)

    probes = {
        "operations.utm_ns_pt": lambda: utm.fwd_deg(lon, lat),
        "operations.lcc_ns_pt": lambda: lcc.fwd_deg(lon, lat),
        "operations.helmert_chain_ns_pt": helmert_chain,
        "operations.karney_inv_ns_pt": lambda: geod.inverse(
            phi, lam, np.radians(lat2), np.radians(lon2)),
        "operations.factors_ns_pt": lambda: factors(lcc, lam, phi),
    }
    return {k: _per_item(fn, n) * 1e9 for k, fn in probes.items()}


def text_probe(entry, sf_dir: str) -> dict[str, float]:
    """L1: microseconds per document of the Python functions the
    text_dedup queries run, with their parameters, over the benchmark's
    documents: minhash_sig_set_udf (minhash_neardup: the signature plus
    each document's unique shingle set) and simhash_udf
    (simhash_neardup)."""
    import pyarrow.parquet as pq

    from proj_spark.text.dedup import minhash_sig_set_udf, simhash_udf

    text = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["text"]).to_pandas()["text"]
    num_hashes, _ = entry.mh_params(entry._n_docs(sf_dir))
    mh = minhash_sig_set_udf(num_hashes=num_hashes, shingle=5).func
    sh = simhash_udf().func
    return {"text.minhash_us_doc": _per_item(lambda: mh(text), len(text)) * 1e6,
            "text.simhash_us_doc": _per_item(lambda: sh(text), len(text)) * 1e6}


def boundary_probe(spark, rows: int = 1 << 20, reps: int = 3) -> float:
    """L2: seconds an identity pandas_udf adds over a native expression
    computing the same column over the same points."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from proj_spark.pages import synth_points

    @pandas_udf("double")
    def ident(v: pd.Series) -> pd.Series:
        return v

    n = spark.sparkContext.defaultParallelism
    pts = synth_points(spark, rows).repartition(n)
    native, udf = [], []
    for _ in range(reps + 1):
        for col, out in ((F.col("lon") * F.lit(1.0), native),
                         (ident(F.col("lon")), udf)):
            t0 = time.perf_counter()
            pts.select(col.alias("v")).agg(F.sum("v")).collect()
            out.append(time.perf_counter() - t0)
    # the first round warms both paths
    return statistics.median(udf[1:]) - statistics.median(native[1:])


def pages_probe(spark, entry, sf_dir: str, work: str,
                reps: int = 3) -> dict[str, float]:
    """Median time to write the pages table into a fresh directory, and
    to extract the non-null geotag points from it (a count)."""
    from pyspark.sql import functions as F

    from proj_spark.pages import extract_geotags, pages_table

    n = entry._n_pages(sf_dir)
    writes, extracts = [], []
    for i in range(reps):
        os.environ["PROJ_SPARK_CACHE"] = os.path.join(work, f"pages_probe{i}")
        t0 = time.perf_counter()
        pages = pages_table(spark, n, entry.N_DOMAINS)
        writes.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        extract_geotags(pages).where(F.col("lat").isNotNull()).count()
        extracts.append(time.perf_counter() - t0)
    return {"pages.table_write_s": statistics.median(writes),
            "pages.extract_s": statistics.median(extracts)}
