"""Each encoding that a query and its DuckDB oracle share has one
definition per dialect: the µdeg point encoding (`_udeg` / `_sql_udeg`)
and the link-graph edge-sampling hash (graph.edge_sample /
`_sql_edge_sample`).  The guard is static: outside those helpers, no
line of the checked modules spells the literal out.

Also checks `_sql_udeg_pairs`, the oracles' grid-cell box-pair join,
against the nested-loop box join it replaces."""

from __future__ import annotations

import ast
import pathlib
import re

import duckdb
import numpy as np

import __spark_entry__ as entry

ROOT = pathlib.Path(__file__).parent.parent
MODULES = ["__spark_entry__.py", "proj_spark/graph.py"]
HELPERS = {"_udeg", "_sql_udeg", "edge_sample", "_sql_edge_sample"}
LITERALS = [
    re.compile(r'F\.round\(\s*F\.col\(\s*"(lon|lat)"\s*\)\s*\*\s*1e6\s*,\s*0\s*\)'),
    re.compile(r"ROUND\(\s*(lon|lat)\s*\*\s*1e6\s*,\s*0\s*\)", re.I),
    re.compile(r"\*\s*1000003\s*\+"),
]


def spelled_outside_helpers(source: str) -> list[int]:
    """Line numbers of `source` that spell a shared encoding outside the
    body of one of its HELPERS."""
    inside = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.FunctionDef) and node.name in HELPERS:
            inside |= set(range(node.lineno, node.end_lineno + 1))
    return [i for i, line in enumerate(source.splitlines(), 1)
            if i not in inside and any(p.search(line) for p in LITERALS)]


def test_shared_encodings_are_spelled_once():
    bad = {m: lines for m in MODULES
           if (lines := spelled_outside_helpers((ROOT / m).read_text()))}
    assert not bad, bad


def test_guard_flags_hand_spelled_copies():
    src = '''
def _udeg(deg, shift=0):
    return F.round(F.col(deg) * 1e6, 0)
def q_a(pts):
    return pts.select(F.round(F.col("lon") * 1e6, 0).cast("long"))
def _sql_a():
    return "SELECT CAST(ROUND(lat * 1e6, 0) AS BIGINT) FROM pages"
def und(e):
    return e.where((F.col("a") * 1000003 + F.col("b")) % 8 == 0)
def _sql_edge_sample(a, b, mod):
    return f"({a} * 1000003 + {b}) % {mod} = 0"
'''
    assert spelled_outside_helpers(src) == [5, 7, 9]


def _box_points(n: int, s: int) -> list[tuple[int, int, int, int]]:
    """(pid, x, y, z) µdeg points: random ones straddling lon/lat 0 and
    the corner (-180e6, -90e6), plus pairs exactly `s` apart."""
    rng = np.random.default_rng(7)
    xs = np.concatenate([rng.integers(-20 * s, 20 * s, n // 2),
                         rng.integers(-180_000_000, -180_000_000 + 20 * s,
                                      n - n // 2)])
    ys = np.concatenate([rng.integers(-20 * s, 20 * s, n // 2),
                         rng.integers(-90_000_000, -90_000_000 + 20 * s,
                                      n - n // 2)])
    pts = [(i, int(x), int(y)) for i, (x, y) in enumerate(zip(xs, ys))]
    for x0, y0 in [(-s, 0), (0, -s), (-s // 2, -s // 2), (3 * s, 5 * s)]:
        for dx, dy in [(s, 0), (0, s), (s, s), (-s, s), (s + 1, 0)]:
            pts += [(len(pts), x0, y0), (len(pts) + 1, x0 + dx, y0 + dy)]
    return [(p, x, y, (p * 7919) % 101) for p, x, y in pts]


def test_sql_udeg_pairs_matches_nested_loop():
    S = 25_000
    con = duckdb.connect()
    con.execute("CREATE TABLE pts (pid BIGINT, x BIGINT, y BIGINT, "
                "z BIGINT)")
    con.executemany("INSERT INTO pts VALUES (?, ?, ?, ?)",
                    _box_points(3000, S))
    pairs = f"""WITH t AS (SELECT * FROM pts),
{entry._sql_udeg_pairs("t", S, ("z",))}
SELECT a_pid, b_pid, a_x, a_y, b_x, b_y, a_z, b_z, d FROM pairs"""
    loop = f"""SELECT a.pid, b.pid, a.x, a.y, b.x, b.y, a.z, b.z,
       GREATEST(ABS(a.x - b.x), ABS(a.y - b.y))
FROM pts a, pts b
WHERE a.pid < b.pid AND ABS(a.x - b.x) <= {S} AND ABS(a.y - b.y) <= {S}"""
    got = con.execute(pairs).fetchall()
    want = con.execute(loop).fetchall()
    assert len(got) == len(set(got))
    assert sorted(got) == sorted(want)
    assert sum(1 for r in want if r[-1] == S) >= 12
    plan = "\n".join(r[1] for r in con.execute("EXPLAIN " + pairs).fetchall())
    assert "HASH_JOIN" in plan
    for slow in ("NESTED_LOOP_JOIN", "PIECEWISE_MERGE_JOIN",
                 "BLOCKWISE_NL_JOIN"):
        assert slow not in plan
