"""SparkSession factory tuned for the engine.

Scale design notes (100 TB / 1000-executor target):
  - AQE on: runtime coalescing + skew-join splitting cover the dense-cell
    and hot-domain skew the pages workload exhibits.
  - Arrow enabled: every coordinate kernel crosses JVM<->Python as Arrow
    batches (the vectorized-UDF contract; mirrors proj_trans_generic's
    columnar batch API, src/4D_api.cpp:353-460).
  - shuffle.partitions is a *local* default; on a real cluster set it to
    ~2-3x total cores or rely on AQE coalescing from a higher initial.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "proj_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    # UDF closures reference proj_spark classes by module; executor python
    # workers must be able to import the package.  In local mode exporting
    # PYTHONPATH before JVM launch suffices; on a cluster ship the package
    # with spark-submit --py-files proj_spark.zip instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(":"):
        os.environ["PYTHONPATH"] = f"{pkg_root}:{pp}" if pp else pkg_root
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # local-mode executor sizing: the driver JVM hosts all 32 task
        # threads, so an 8g heap GC-thrashes once a long suite accumulates
        # codegen classes + broadcasts (measured: 39-query steady pass
        # 138 s at 8g vs 111 s at 24g, knn_join 23 s -> 10 s).  On a real
        # cluster this is executor memory, sized per-executor as usual.
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    return b.getOrCreate()


def _default_driver_mem() -> str:
    """24g, or half the host's RAM where that is less.  The JVM grows its
    heap toward the cap before it collects, so a cap above RAM gets the
    driver killed part-way through a long suite on a small host."""
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{min(24 << 10, ram_mb // 2)}m"
