"""Run every vendored gie golden vector against the implemented registry.

Vector corpus: tests/gie_vendored.json, extracted verbatim from the
reference's test/gie/builtins.gie (PROJ 6.3.0); FIXTURES.md §6.
Tolerance semantics follow src/apps/gie.cpp:502-515: per-axis compare,
projected axes in meters; angular axes converted at ~111319.49 m/deg.

Blocks whose +proj is not in the registry are skipped (coverage is
asserted separately in test_registry_coverage so regressions in the
implemented set fail loudly).
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pytest

from proj_spark import create

M_PER_DEG = 111319.4907932736

_HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(_HERE, "gie_vendored.json")) as f:
    _DATA = json.load(f)

# ops whose vendored vectors are not plain 2D lon/lat<->x/y (3D/4D or
# nested-operation semantics) — covered by dedicated tests instead
EXCLUDE = {"geocent", "pipeline"}

BLOCKS = [b for b in _DATA["blocks"] if b["proj"] not in EXCLUDE]


def _op_or_none(projstring):
    """Operation instance, None if unimplemented; ValueError propagates
    (parameter rejection — matched against expect-failure blocks)."""
    try:
        return create(projstring)
    except NotImplementedError:
        return None


def _implemented(projstring):
    try:
        return _op_or_none(projstring) is not None
    except ValueError:
        return True


# expected minimum implemented coverage of the vendored corpus — bump as
# operations land; guards against registry regressions
MIN_IMPLEMENTED_OPS = 137


def test_registry_coverage():
    names = sorted({b["proj"] for b in BLOCKS})
    done = [n for n in names
            if any(_implemented(b["projstring"]) for b in BLOCKS
                   if b["proj"] == n)]
    print(f"implemented {len(done)}/{len(names)} vendored ops: {' '.join(done)}")
    assert len(done) >= MIN_IMPLEMENTED_OPS


@pytest.mark.parametrize(
    "block", BLOCKS,
    ids=[f"{b['proj']}#{i}" for i, b in enumerate(BLOCKS)])
def test_gie_block(block):
    try:
        op = _op_or_none(block["projstring"])
    except ValueError:
        # constructor rejects the parameters — matches gie only when every
        # vector in the block expects failure
        assert all(c["out"] is None for c in block["fwd"] + block["inv"]), \
            f"{block['projstring']} raised at setup but vectors expect values"
        return
    if op is None:
        pytest.skip(f"{block['proj']} not implemented")
    for case in block["fwd"]:
        lon, lat = case["in"][0], case["in"][1]
        x, y = op.fwd_deg(np.array([lon]), np.array([lat]))
        if case["out"] is None:
            assert np.isnan(x[0]) and np.isnan(y[0]), \
                f"fwd({lon},{lat}) expected failure, got ({x[0]},{y[0]})"
            continue
        ex, ey = case["out"][0], case["out"][1]
        tol = case["tol"]
        assert abs(x[0] - ex) <= tol and abs(y[0] - ey) <= tol, \
            f"fwd({lon},{lat}) -> ({x[0]!r},{y[0]!r}) != ({ex},{ey}) tol={tol}"
    for case in block["inv"]:
        xi, yi = case["in"][0], case["in"][1]
        try:
            lon, lat = op.inv_deg(np.array([xi], dtype=float),
                                  np.array([yi], dtype=float))
        except NotImplementedError:
            pytest.skip(f"{block['proj']} inverse not implemented")
        if case["out"] is None:
            assert np.isnan(lon[0]) and np.isnan(lat[0]), \
                f"inv({xi},{yi}) expected failure"
            continue
        ex, ey = case["out"][0], case["out"][1]
        # gie compares inverse results by geodesic ground distance
        # (proj_lpz_dist, src/apps/gie.cpp) — approximate it with the
        # equirectangular hypot so longitude error tightens by cos(lat)
        # instead of being 1/cos(lat) looser at high latitudes.
        dist_m = math.hypot((lat[0] - ey),
                            (lon[0] - ex) * math.cos(math.radians(ey))) * M_PER_DEG
        assert dist_m <= case["tol"], \
            f"inv({xi},{yi}) -> ({lon[0]!r},{lat[0]!r}) != ({ex},{ey}) dist={dist_m} tol={case['tol']}"
