"""The benchmark's workloads: what one pass runs and how its output is
checked.

A pass runs a workload's steps once.  A query step builds the query's
DataFrame with `__spark_entry__` and forces it through an
order-insensitive checksum computed in Spark: the row count and the sum
of `xxhash64` over every output column.  `.count()` is not enough: for
`utm_project` Catalyst prunes the count down to `Aggregate [zone]` and
drops the kernel outputs.  Each checksum is compared with the value
pinned in `pins.json`.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))

#: input scale of every workload: 6,000 pages and the 500-document corpus
SCALE = "sf0.001"


def checksum_df(df: DataFrame) -> DataFrame:
    """One row: (rows, sum of xxhash64 over all columns).  The hash sum
    is exact (decimal), so it is independent of row order and of how
    Spark splits the sum across tasks."""
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    return df.agg(F.count(F.lit(1)).alias("rows"),
                  F.sum(h.cast("decimal(20,0)")).alias("hash"))


def collect_checksum(cdf: DataFrame) -> list[int]:
    row = cdf.collect()[0]
    return [int(row["rows"]), int(row["hash"] or 0)]


def checked(tr, build: Callable[[], DataFrame]) -> list[int]:
    """Checksum of the DataFrame `build()` returns, in three spans:
    build (the Python plan construction), plan (Catalyst) and execute,
    which carries the Spark stages run since the step began."""
    with tr.span("build"):
        cdf = checksum_df(build())
    with tr.span("plan"):
        tr.plan(cdf)
    with tr.span("execute") as sp:
        got = collect_checksum(cdf)
        tr.stages(sp)
    tr.output_rows(got[0])
    return got


def clear_persisted(spark: SparkSession) -> None:
    """Drop what a query persisted, so the next query (and the next
    pass) starts from the same state."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()


@dataclass
class Context:
    spark: SparkSession
    entry: object          # the __spark_entry__ module
    sf_dir: str            # input directory; its name carries the scale
    work: str              # scratch directory of this run
    pins: dict             # pinned checksums of this workload and scale
    tracer: object


Step = tuple[str, Callable[[], bool]]


class QueryWorkload:
    """A fixed list of `__spark_entry__` queries; the seed permutes their
    order in every pass."""

    def __init__(self, name: str, queries: tuple[str, ...], pages: bool):
        self.name = name
        self.queries = queries
        self.pages = pages

    def steps(self, ctx: Context, rng: random.Random) -> list[Step]:
        order = list(self.queries)
        rng.shuffle(order)
        return [(q, lambda q=q: self._run(ctx, q)) for q in order]

    def _run(self, ctx: Context, name: str) -> bool:
        query = ctx.entry.queries()[name]
        return checked(ctx.tracer,
                       lambda: query(ctx.spark, ctx.sf_dir)) == ctx.pins[name]

    def pin(self, ctx: Context) -> dict:
        qs = ctx.entry.queries()
        out = {}
        for q in self.queries:
            out[q] = collect_checksum(checksum_df(qs[q](ctx.spark, ctx.sf_dir)))
            clear_persisted(ctx.spark)
        return out


class IngestWorkload:
    """Each pass writes a new pages table version into a fresh directory
    and runs extract_geotags -> utm_fwd_udf -> CheckpointedStage by zone
    three times: a full write, a no-op resume and a rewrite of one
    changed zone.  The seed picks the changed zone of each pass."""

    name = "ingest_resume"
    pages = False      # its passes write their own table versions

    def __init__(self) -> None:
        self.version = 0

    def _stage_input(self, ctx: Context, table_dir: str) -> DataFrame:
        from proj_spark.pages import extract_geotags, pages_table
        from proj_spark.spark.udf import utm_fwd_udf

        os.environ["PROJ_SPARK_CACHE"] = table_dir
        e = ctx.entry
        pages = pages_table(ctx.spark, e._n_pages(ctx.sf_dir), e.N_DOMAINS)
        pts = extract_geotags(pages).where(F.col("lat").isNotNull())
        u = utm_fwd_udf()
        return (pts.select("url", u(F.col("lon"), F.col("lat")).alias("g"))
                .select("url", F.col("g.zone").cast("long").alias("zone"),
                        F.col("g.x").alias("x"), F.col("g.y").alias("y")))

    @staticmethod
    def _read_back(ctx: Context, stage) -> DataFrame:
        return stage.read(ctx.spark).select(
            "url", F.col("zone").cast("long").alias("zone"), "x", "y")

    def steps(self, ctx: Context, rng: random.Random) -> list[Step]:
        from proj_spark.plans.checkpoint import CheckpointedStage

        self.version += 1
        root = os.path.join(ctx.work, f"ingest_v{self.version}")
        zone = rng.randint(1, ctx.pins["zones"])
        stage = CheckpointedStage(os.path.join(root, "stage"), "zone")
        st: dict = {}
        tr = ctx.tracer

        def table_write() -> bool:
            st["df"] = self._stage_input(ctx, os.path.join(root, "pages"))
            return True

        def run(df: DataFrame, expect_written: int) -> bool:
            m = stage.run(df)
            tr.checkpoint(m, stage.data_path)
            return (m["written"] == expect_written
                    and m["written"] + m["skipped"] == ctx.pins["zones"])

        def full() -> bool:
            ok = run(st["df"], ctx.pins["zones"])
            return ok and checked(
                tr, lambda: self._read_back(ctx, stage)) == ctx.pins["full"]

        def resume() -> bool:
            return run(st["df"], 0)

        def partial() -> bool:
            shift = F.when(F.col("zone") == zone, F.col("y") + F.lit(1.0))
            changed = st["df"].withColumn("y", shift.otherwise(F.col("y")))
            # what the rewrite must produce, from the committed data
            expected = checked(tr, lambda: self._read_back(ctx, stage)
                               .withColumn("y", shift.otherwise(F.col("y"))))
            ok = run(changed, 1)
            got = checked(tr, lambda: self._read_back(ctx, stage))
            shutil.rmtree(root, ignore_errors=True)
            return ok and got == expected

        return [("table_write", table_write), ("full", full),
                ("resume", resume), ("partial", partial)]

    def pin(self, ctx: Context) -> dict:
        from proj_spark.plans.checkpoint import CheckpointedStage

        root = os.path.join(ctx.work, "ingest_pin")
        stage = CheckpointedStage(os.path.join(root, "stage"), "zone")
        m = stage.run(self._stage_input(ctx, os.path.join(root, "pages")))
        full = collect_checksum(checksum_df(self._read_back(ctx, stage)))
        shutil.rmtree(root, ignore_errors=True)
        return {"zones": m["written"], "full": full}


def make(name: str):
    """A fresh instance of the named workload."""
    if name == "ingest_resume":
        return IngestWorkload()
    queries, pages = {
        "geo_kernel": (("utm_project", "datum_shift", "factors", "geod_pairs",
                        "crs_dispatch", "tile_density"), True),
        "spatial_join": (("knn_join", "radius_join", "cross_k", "pip_admin",
                          "knn"), True),
        "text_dedup": (("minhash_neardup", "simhash_neardup", "exact_dedup"),
                       False),
    }[name]
    return QueryWorkload(name, queries, pages)


def load_pins() -> dict:
    with open(os.path.join(HERE, "pins.json")) as f:
        return json.load(f)


def units(kind: str) -> dict[str, str]:
    """Metric name -> unit for "end_to_end" or "per_layer", as listed in
    the repository's BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}
