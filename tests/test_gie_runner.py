"""The gie CLI runner executes the reference's ENTIRE test/gie suite
green — the same files the reference's own `make check` runs
(test/gie/Makefile.am:43).  DHDN_ETRS89 runs 0 vectors here by design:
every block requires the BETA2007.gsb grid, which the reference tree
does not ship (require_grid semantics)."""

from __future__ import annotations

import os

import pytest

from proj_spark.gie import run_gie

GIE_DIR = "/root/reference/test/gie"

CORPORA = {
    "axisswap.gie": 21,
    "unitconvert.gie": 8,
    "ellipsoid.gie": 22,
    "GDA.gie": 3,
    "builtins.gie": 1703,
    "more_builtins.gie": 126,
    "deformation.gie": 2,
    "DHDN_ETRS89.gie": 0,
    "4D-API_cs2cs-style.gie": 53,
}


@pytest.mark.parametrize("fname,expected_total", sorted(CORPORA.items()))
def test_gie_corpus(fname, expected_total):
    path = os.path.join(GIE_DIR, fname)
    if not os.path.exists(path):
        pytest.skip(f"{fname} not present")
    total, failed, messages = run_gie(path)
    assert failed == 0, messages[:5]
    assert total == expected_total, (total, expected_total)


def test_gie_runner_gigs_suite():
    """The runner also executes the reference's GIGS industry files
    directly (all 17 non-.failing files, 1002 vectors green)."""
    import glob
    files = sorted(glob.glob("/root/reference/test/gigs/*.gie"))
    if not files:
        pytest.skip("gigs not present")
    grand_total = 0
    for path in files:
        total, failed, messages = run_gie(path)
        assert failed == 0, (path, messages[:3])
        grand_total += total
    assert len(files) == 17 and grand_total == 1002, (len(files),
                                                      grand_total)


def test_geod_cli_direct_inverse_consistency(capsys, monkeypatch):
    """geod CLI: direct then inverse recovers the azimuth/distance."""
    import io

    from proj_spark.__main__ import main

    monkeypatch.setattr("sys.stdin", io.StringIO("40.6 -73.8 -66.53 5000000\n"))
    assert main(["geod", "+ellps=clrk66"]) == 0
    lat2, lon2, back = map(float, capsys.readouterr().out.split())
    monkeypatch.setattr("sys.stdin",
                        io.StringIO(f"40.6 -73.8 {lat2} {lon2}\n"))
    assert main(["geod", "+ellps=clrk66", "-I"]) == 0
    azi1, azi2, s12 = map(float, capsys.readouterr().out.split())
    assert abs(azi1 - (-66.53)) < 1e-5
    # lat2/lon2 pass through %.10g text formatting (~1e-8 deg), so the
    # recovered distance is only good to a few millimeters
    assert abs(s12 - 5000000.0) < 5e-3
    # BOTH modes print the back azimuth at the destination
    # (src/apps/geod_interface.cpp:20,32), so the columns agree
    assert abs(back - azi2) < 1e-5


def test_dhdn_synthesized_grid_runs_all_vectors(tmp_path):
    """require_grid synthesis: a BETA2007.gsb-gated DHDN block runs 0/0
    without the grid file.  Synthesizing an NTv2 grid from the block's
    own vectors (each DHDN point sits on the 1-arc-minute lattice, so
    every vector pins one node) exercises the hgridshift path — NTv2
    parse, bilinear lookup, datum=potsdam expansion — and every vector
    passes.  The block holds the grid-derived DHDN_ETRS89.gie vectors
    inlined in test_planner.py, DHDN -> ETRS89 (gie's inverse
    direction).  The other direction is left out: the synthetic grid is
    zero between the pinned nodes, so nad_cvt's inverse iteration
    contracts by only ~0.17 per step there and, like the reference's,
    gives up after 10 iterations on about half of the points."""
    from test_planner import DHDN_VECTORS

    from proj_spark.gie import run_gie, synthesize_require_grids
    from proj_spark.operations.datum import GRID_REGISTRY
    lines = ["<gie>", "operation proj=latlong datum=potsdam",
             "tolerance 1 mm", "require_grid BETA2007.gsb",
             "direction inverse"]
    for dlon, dlat, elon, elat in DHDN_VECTORS:
        lines += [f"accept {dlon:.12f} {dlat:.12f}",
                  f"expect {elon:.12f} {elat:.12f}"]
    path = tmp_path / "dhdn.gie"
    path.write_text("\n".join(lines + ["</gie>"]) + "\n")
    assert run_gie(str(path))[0] == 0       # gated off without the grid
    made = synthesize_require_grids(str(path))
    try:
        assert made.get("BETA2007.gsb", 0) == len(DHDN_VECTORS)
        total, failed, messages = run_gie(str(path))
        assert failed == 0, messages[:5]
        assert total == len(DHDN_VECTORS)
    finally:
        GRID_REGISTRY.pop("BETA2007.gsb", None)
