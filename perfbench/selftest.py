"""Harness self-test: one pass of every workload, the two the benchmark
runs and the two kept for manual runs, each step checked against its
pinned checksum, so a broken harness or a stale pin fails fast.

    python3 perfbench/selftest.py          # exit 1 if any step fails
    python3 perfbench/selftest.py --pin    # print a fresh pins.json

Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time

import run
import workloads
from layers import NullTracer

NAMES = ("geo_kernel", "spatial_join", "text_dedup", "ingest_resume")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--pin", action="store_true")
    args = p.parse_args()
    os.chdir(run.ROOT)
    import __spark_entry__ as entry

    from proj_spark.spark.session import get_spark

    work = os.path.join(run.ROOT, ".perfbench", f"selftest-{time.time_ns()}")
    os.makedirs(work)
    run.host_env(work)
    spark = get_spark("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    failed = 0
    try:
        scale = workloads.SCALE
        sf_dir = run.input_dir(work, scale)
        if args.pin:
            pins = {name: {scale: workloads.make(name).pin(workloads.Context(
                spark, entry, sf_dir, work, {}, NullTracer()))}
                for name in NAMES}
            print(json.dumps(pins, indent=1, sort_keys=True))
            return 0
        pins = workloads.load_pins()
        jvm_pid = spark.sparkContext._gateway.proc.pid
        for name in NAMES:
            ctx = workloads.Context(spark, entry, sf_dir, work,
                                    pins[name][scale], NullTracer())
            rec = run.run_pass(ctx, workloads.make(name), random.Random(0), 0,
                               name, NullTracer(), jvm_pid)
            failed += len(rec["failed"])
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest:", "FAILED" if failed else "ok", file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
