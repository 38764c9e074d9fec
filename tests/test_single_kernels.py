"""Each twin kernel of the operator library is written once: the
quantized damping step (graph.pagerank / pagerank_sql), the ring edge
list of the point-in-polygon test (pip._ring_edges), the class-pair
lattice of the pairwise distribution tests
(stats._class_pair_lattice) and the SimHash 4x16-bit band keys
(dedup.simhash_band_rows, shared with the streaming registry).  The
guard is static: each spelling may occur at most once across its
modules."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).parent.parent
KERNELS = {
    "damping step (Spark)": (["proj_spark/graph.py"],
                             re.compile(r"\{PR_NUM\} \* [^\n]*?\)\) div ")),
    "damping step (SQL)": (["proj_spark/graph.py"],
                           re.compile(r"\{PR_NUM\} \* [^\n]*?\)\) // ")),
    "ring edge list": (["proj_spark/spatial/pip.py"],
                       re.compile(r"zip_with\(\s*F\.slice\(")),
    "class-pair lattice": (["proj_spark/spatial/stats.py"],
                           re.compile(r'crossJoin\(classes\.alias\("b"\)\)')),
    "simhash band keys": (["proj_spark/text/dedup.py",
                           "proj_spark/streaming/jobs.py"],
                          re.compile(r"bitwiseAND\(F\.lit\(0xFFFF\)\)")),
}


def spellings(pattern: re.Pattern, sources: list[str]) -> int:
    return sum(len(pattern.findall(s)) for s in sources)


def test_each_twin_kernel_is_written_once():
    counts = {name: spellings(pat, [(ROOT / m).read_text() for m in mods])
              for name, (mods, pat) in KERNELS.items()}
    assert all(c == 1 for c in counts.values()), counts


def test_guard_counts_a_second_copy():
    src = '''
    edges = F.zip_with(
        F.slice(ring, 1, F.size(ring) - 1),
        F.slice(ring, 2, F.size(ring) - 1), pair)
    rank = F.expr(f"({PR_NUM} * coalesce(m, 0)) div {PR_DEN}")
'''
    assert spellings(KERNELS["ring edge list"][1], [src, src]) == 2
    assert spellings(KERNELS["damping step (Spark)"][1], [src, src]) == 2
    assert spellings(KERNELS["damping step (SQL)"][1], [src]) == 0
