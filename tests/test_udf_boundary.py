"""Coordinate kernels cross the JVM/Python boundary one way: through
`kernel_udf` (proj_spark/spark/udf.py), which runs a NumPy kernel once
per Arrow batch.

The check is static.  In the modules that run coordinate kernels, every
line that names `pandas_udf` lies inside `kernel_udf`'s definition."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).parent.parent
MODULES = ["proj_spark/spark/udf.py", "proj_spark/spatial/knn.py",
           "proj_spark/spatial/pip.py", "__spark_entry__.py"]


def pandas_udf_outside_factory(source: str) -> list[int]:
    """Line numbers of `source` that name pandas_udf outside the body of
    a function called kernel_udf."""
    inside = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.FunctionDef) and node.name == "kernel_udf":
            inside |= set(range(node.lineno, node.end_lineno + 1))
    return [i for i, line in enumerate(source.splitlines(), 1)
            if "pandas_udf" in line and i not in inside]


def test_coordinate_udfs_go_through_kernel_udf():
    bad = {m: lines for m in MODULES
           if (lines := pandas_udf_outside_factory((ROOT / m).read_text()))}
    assert not bad, bad


def test_boundary_check_flags_a_hand_written_udf():
    src = '''
from pyspark.sql.functions import pandas_udf
def kernel_udf(fn, schema):
    return pandas_udf(fn, schema)
@pandas_udf("double")
def dist(a, b):
    return a
'''
    assert pandas_udf_outside_factory(src) == [2, 5]
