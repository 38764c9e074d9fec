"""Benchmark entry point.

    python3 perfbench/run.py --workload geo_kernel --seed 1 --seconds 15 --trace 0

Run from the repository root.  One run starts a Spark session sized to
this host, writes the pages table into a fresh directory, runs warm-up
passes, then times whole passes over the workload's steps for
`--seconds`.  Set-up is timed from process start to the first timed pass.
Every pass prints one JSON line (wall, CPU, host steal/iowait/load
deltas, step order); the last line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones (pass_s, cpu_s,
setup_s, rss_mb, ok_ratio).  With `--trace 1` timed passes alternate
untraced and traced, layer probes run after them, the spans go to
`.perfbench/spans/`, and the metrics are the per-layer ones.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import layers  # noqa: E402
import proc  # noqa: E402
import workloads  # noqa: E402

#: Warm-up passes inside set-up.  At sf0.1 (geo_kernel) the first two
#: passes ran 1.45x and 1.16x the steady pass and the third was steady.
#: At the benchmark's scale the JVM's JIT compiler keeps the first three
#: passes at ~3x, ~1.3x and ~1.15x the later ones, and the fourth of
#: geo_kernel still at a median 1.09x over ten runs (README.md has the
#: curves), so four are run untimed.
WARMUP_PASSES = 4
#: stop starting passes after this long, so a run on a loaded host still
#: ends within its 180 s limit
DEADLINE_S = 130.0


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def host_env(work: str) -> None:
    """Session settings the program reads, sized to this host, and fresh
    per-run table cache and Spark scratch directories."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = f"{ram_mb // 8}m"
    os.environ["PROJ_SPARK_CACHE"] = os.path.join(work, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # temporary files stay in the run directory too: Python's through
    # TMPDIR; the JVMs (spark-submit's launcher and Spark's) ignore
    # TMPDIR, so they get java.io.tmpdir (native libraries they unpack)
    # and no /tmp/hsperfdata file
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[var] = " ".join(filter(None, (
            os.environ.get(var), f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData")))


def input_dir(work: str, scale: str) -> str:
    """The workload's input directory.  Its name carries the scale the
    queries read from it; the path is relative to the repository root so
    no outer directory name can be mistaken for it."""
    d = os.path.join(work, "data", scale)
    os.makedirs(d)
    shutil.copyfile(os.path.join(HERE, "data", f"docs_{scale}.parquet"),
                    os.path.join(d, "documents.parquet"))
    return os.path.relpath(d, ROOT)


def jvm_counters(spark) -> dict[str, float]:
    """The JVM's own GC seconds so far and its committed heap."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gcs = mgmt.getGarbageCollectorMXBeans()
    return {"gc_s": sum(gcs.get(i).getCollectionTime()
                        for i in range(gcs.size())) / 1e3,
            "heap_mb": mgmt.getMemoryMXBean().getHeapMemoryUsage()
            .getCommitted() / (1 << 20)}


def run_pass(ctx, wl, rng, idx: int, kind: str, tracer, jvm_pid: int,
             sampler=None):
    """One pass over the workload's steps; returns its record.  The CPU
    of `sampler` (the run's proc.PeakRss thread) is harness cost, so it
    is reported apart and left out of the driver's CPU."""
    ctx.tracer = tracer
    steps = wl.steps(ctx, rng)
    failed, step_s = [], []
    h0 = proc.host()
    j0 = jvm_counters(ctx.spark)
    c0 = proc.cpu_split(os.getpid(), jvm_pid)
    k0 = proc.jit_threads(jvm_pid)
    s0 = sampler.cpu_s if sampler else 0.0
    t0 = time.perf_counter()
    with tracer.span("pass", kind=kind, index=idx):
        for name, fn in steps:
            t_step = time.perf_counter()
            with tracer.span("step", step=name) as sp:
                tracer.mark()
                try:
                    ok = fn()
                except Exception:  # noqa: BLE001 - a failed step is counted
                    traceback.print_exc()
                    ok = False
                finally:
                    workloads.clear_persisted(ctx.spark)
                tracer.stages(sp)
            step_s.append(round(time.perf_counter() - t_step, 3))
            if not ok:
                failed.append(name)
    wall = time.perf_counter() - t0
    c1 = proc.cpu_split(os.getpid(), jvm_pid)
    k1 = proc.jit_threads(jvm_pid)
    j1 = jvm_counters(ctx.spark)
    sampled = (sampler.cpu_s if sampler else 0.0) - s0
    cpu = {k: c1[k] - c0[k] for k in c0}
    cpu["driver"] -= sampled
    # JIT compilation is warm-up work that keeps decaying for many passes
    # after set-up (1-2.5 CPU-seconds a timed pass on 4 vCPUs): the
    # timed passes are never past it.  In cpu_s it would measure how far
    # warm-up got, not what a pass costs; it stays visible as cpu_jit_s
    # here and as the traced run's cpu.jit_s
    jit = sum(v - k0.get(tid, 0.0) for tid, v in k1.items())
    cpu["jvm"] -= jit
    rec = {"pass": idx, "kind": kind, "wall_s": wall,
           "cpu_s": sum(cpu.values()), "cpu_jvm_s": cpu["jvm"],
           "cpu_python_s": cpu["python"], "cpu_driver_s": cpu["driver"],
           **proc.host_delta(h0, proc.host()),
           "cpu_jit_s": jit, "sampler_cpu_s": sampled,
           "jvm_gc_s": j1["gc_s"] - j0["gc_s"],
           "heap_mb": j1["heap_mb"],
           "steps": [n for n, _ in steps], "step_s": step_s,
           "attempted": len(steps),
           "failed": failed}
    print(json.dumps(rec), flush=True)
    return rec


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until every process this
    run started has ended (Python workers outlive the JVM briefly)."""
    gw = spark.sparkContext._gateway
    started = set(proc.tree(os.getpid())) - {os.getpid()}
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    deadline = time.time() + 30
    while True:
        started |= set(proc.tree(os.getpid())) - {os.getpid()}
        left = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def layer_metrics(passes, traced_layers, probes) -> dict[str, float]:
    """Per-layer metrics of a traced run: medians over its traced passes,
    plus the probes."""
    traced = [r for r in passes if r["kind"] == "traced"]
    plain = [r for r in passes if r["kind"] == "untraced"]

    def med(key):
        return statistics.median(r[key] for r in traced)

    out = {
        "cpu.python_s": med("cpu_python_s"),
        "cpu.jvm_s": med("cpu_jvm_s"),
        "cpu.jit_s": med("cpu_jit_s"),
        "host.steal_s": statistics.mean(r["steal_s"] for r in passes),
        "host.iowait_s": statistics.mean(r["iowait_s"] for r in passes),
        "trace.overhead_s": (med("wall_s") - statistics.median(
            r["wall_s"] for r in plain)),
    }
    for k in set().union(*traced_layers):
        out[k] = statistics.median(t.get(k, 0.0) for t in traced_layers)
    out["shuffle.records_per_row"] = statistics.median(
        t["shuffle.records"] / max(t["output_rows"], 1) for t in traced_layers)
    for k in ("shuffle.records", "output_rows"):
        out.pop(k, None)
    out.update(probes)
    return out


def timed_passes(ctx, wl, rng, seconds: float, jvm_pid: int, sampler,
                 tracer=None):
    """Whole passes until `seconds` have passed, at least one.  With a
    tracer, passes alternate untraced and traced, at least one of each;
    returns the pass records and each traced pass's layer totals."""
    null = layers.NullTracer()
    passes, traced_layers = [], []
    t0 = time.perf_counter()
    while True:
        enough = time.perf_counter() - t0 >= seconds and (
            tracer is None or len(passes) >= 2)
        if passes and (enough or time.perf_counter() - T0 > DEADLINE_S):
            return passes, traced_layers
        idx = len(passes)
        if tracer is not None and idx % 2:
            tracer.start_pass()
            passes.append(run_pass(ctx, wl, rng, idx, "traced", tracer,
                                   jvm_pid, sampler))
            traced_layers.append(dict(tracer.pass_layers))
        else:
            kind = "timed" if tracer is None else "untraced"
            passes.append(run_pass(ctx, wl, rng, idx, kind, null, jvm_pid,
                                   sampler))


def main() -> int:
    args = parse_args()
    os.chdir(ROOT)
    try:
        import __spark_entry__ as entry  # the program under test
    except ImportError:
        traceback.print_exc()
        print("perfbench: __spark_entry__.py not found: run from the "
              "repository root", file=sys.stderr)
        return 2
    wl = workloads.make(args.workload)
    pins = workloads.load_pins()
    work = os.path.join(ROOT, ".perfbench",
                        f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    host_env(work)
    rng = random.Random(args.seed)
    tracer = None
    spark = None
    try:
        from proj_spark.spark.session import get_spark

        with proc.PeakRss(os.getpid()) as rss:
            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            jvm_pid = spark.sparkContext._gateway.proc.pid
            ctx = workloads.Context(
                spark=spark, entry=entry,
                sf_dir=input_dir(work, workloads.SCALE), work=work,
                pins=pins[wl.name][workloads.SCALE],
                tracer=layers.NullTracer())
            if wl.pages:
                entry.pages_table(spark, entry._n_pages(ctx.sf_dir),
                                  entry.N_DOMAINS)
            runs = [run_pass(ctx, wl, rng, i - WARMUP_PASSES, "warmup",
                             layers.NullTracer(), jvm_pid, rss)
                    for i in range(WARMUP_PASSES)]
            setup_s = time.perf_counter() - T0
            if args.trace:
                tracer = layers.Tracer(spark)
            passes, traced_layers = timed_passes(ctx, wl, rng, args.seconds,
                                                 jvm_pid, rss, tracer)
            runs += passes
            if tracer is not None:
                probes, probe_runs = run_probes(ctx, wl, pins, tracer,
                                                jvm_pid, rss, args.seed)
                runs += probe_runs
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(len(r["failed"]) for r in runs)
    if tracer is not None:
        metrics = layer_metrics(passes, traced_layers, probes)
        print(json.dumps({"spans": write_spans(tracer.spans, args)}),
              flush=True)
        units = workloads.units("per_layer")
    else:
        metrics = {
            "pass_s": statistics.median(r["wall_s"] for r in passes),
            "cpu_s": statistics.median(r["cpu_s"] for r in passes),
            "setup_s": setup_s,
            "rss_mb": rss.peak / (1 << 20),
            "ok_ratio": (attempted - failed) / attempted,
        }
        units = workloads.units("end_to_end")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units}}), flush=True)
    return 0


def run_probes(ctx, wl, pins, tracer, jvm_pid, sampler, seed):
    """Layer probes of a traced run; returns their metrics and the records
    of the passes they ran.  A workload whose passes do not run a
    checkpointed stage gets one traced ingest_resume pass here."""
    out, runs = {}, []
    if wl.name != "ingest_resume":
        ictx = workloads.Context(**{
            **ctx.__dict__,
            "pins": pins["ingest_resume"][workloads.SCALE]})
        tracer.start_pass()
        runs.append(run_pass(ictx, workloads.make("ingest_resume"),
                             random.Random(seed), 0, "probe", tracer,
                             jvm_pid, sampler))
        out.update({k: tracer.pass_layers[k] for k in (
            "checkpoint.write_s", "checkpoint.resume_s",
            "checkpoint.partial_s", "checkpoint.partitions_written",
            "checkpoint.bytes_written")})
    with tracer.span("probe", layer="pages"):
        out.update(layers.pages_probe(ctx.spark, ctx.entry, ctx.sf_dir,
                                      ctx.work))
    with tracer.span("probe", layer="spark.udf"):
        out["udf.boundary_s"] = layers.boundary_probe(ctx.spark)
    with tracer.span("probe", layer="operations"):
        out.update(layers.kernel_probe(ctx.entry, seed))
    with tracer.span("probe", layer="text"):
        out.update(layers.text_probe(ctx.entry, ctx.sf_dir))
    return out, runs


def write_spans(spans: list[dict], args) -> str:
    d = os.path.join(ROOT, ".perfbench", "spans")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(
        d, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(sorted(spans, key=lambda s: s["id"]), f)
    return os.path.relpath(path, ROOT)


if __name__ == "__main__":
    sys.exit(main())
