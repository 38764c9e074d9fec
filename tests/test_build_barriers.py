"""A query's plan is built without running it: no build-time fill barriers.

A persisted relation fills once, inside the first action on a plan that
reads it, so a `<df>.count()` statement whose only use is to fill a
cache moves work from the execute into the build and adds a job.  The
static check flags every such statement in the query and text/spatial
modules; the runtime check counts the Spark jobs the LSH queries start
while their plans are built."""

from __future__ import annotations

import ast
import pathlib
import uuid

import pytest

ROOT = pathlib.Path(__file__).parent.parent
MODULES = ["__spark_entry__.py",
           *(str(p.relative_to(ROOT)) for d in ("text", "spatial")
             for p in sorted((ROOT / "proj_spark" / d).glob("*.py")))]


def bare_counts(source: str) -> list[int]:
    """Line numbers of `source` whose statement is a bare `<x>.count()`,
    its result unused."""
    return [n.lineno for n in ast.walk(ast.parse(source))
            if isinstance(n, ast.Expr) and isinstance(n.value, ast.Call)
            and isinstance(n.value.func, ast.Attribute)
            and n.value.func.attr == "count"
            and not n.value.args and not n.value.keywords]


def test_no_bare_count_statements():
    bad = {m: lines for m in MODULES
           if (lines := bare_counts((ROOT / m).read_text()))}
    assert not bad, bad


def test_check_flags_a_fill_barrier():
    src = '''
base = df.persist()
base.count()
n = base.count()
words.count("a")
'''
    assert bare_counts(src) == [3]


def _jobs(spark, build) -> int:
    """The number of Spark jobs started while `build()` runs."""
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name, table", [
    ("minhash_neardup", "documents"),
    ("ann_pairs", "embeddings"),
    ("embed_neardup", "embeddings"),
])
def test_lsh_build_runs_no_more_jobs_than_its_read(spark, name, table):
    import __spark_entry__ as entry
    sf = "/root/testdata/sf0.001"
    read = _jobs(spark, lambda: spark.read.parquet(f"{sf}/{table}.parquet"))
    try:
        build = _jobs(spark, lambda: entry.queries()[name](spark, sf))
    finally:
        spark.catalog.clearCache()
    assert build <= read, (name, build, read)
