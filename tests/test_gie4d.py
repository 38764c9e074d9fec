"""3D/4D gie corpora: axisswap.gie, unitconvert.gie, ellipsoid.gie,
GDA.gie (vendored into tests/gie4d_vendored.json; FIXTURES.md §6).

Covers the axis-permutation, unit-conversion (linear + vertical + time),
ellipsoid-resolution and Helmert (GDA) operations at the reference's own
tolerances, including construction-failure blocks (`expect failure`
immediately after `operation`) and per-input failure vectors.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pytest

from proj_spark import create

_HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(_HERE, "gie4d_vendored.json")) as f:
    _DATA = json.load(f)

BLOCKS = [b for b in _DATA["blocks"] if not b["requires_grid"]]

M_PER_DEG = 111319.4907932736


def _angular_input(op) -> bool:
    steps = getattr(op, "steps", None)
    if steps:
        first = steps[0]
        left = getattr(first, "left", "radians")
        right = getattr(first, "right", "classic")
        return (right if op.inverted[0] else left) == "radians"
    return getattr(op, "left", "radians") == "radians"


def _angular_output(op) -> bool:
    steps = getattr(op, "steps", None)
    if steps:
        last = steps[-1]
        left = getattr(last, "left", "radians")
        right = getattr(last, "right", "classic")
        return (left if op.inverted[-1] else right) == "radians"
    return getattr(op, "right", "classic") == "radians"


def _apply(op, vec, inverse: bool):
    x = np.array([vec[0]], dtype=float)
    y = np.array([vec[1]], dtype=float)
    z = np.array([vec[2]], dtype=float) if len(vec) > 2 else None
    t = np.array([vec[3]], dtype=float) if len(vec) > 3 else None
    ang = _angular_output(op) if inverse else _angular_input(op)
    if ang:
        x, y = np.radians(x), np.radians(y)
    f4 = getattr(op, "inv4d" if inverse else "fwd4d", None)
    if f4 is not None:
        out = f4(x, y, z, t)
    else:
        f = op.inv if inverse else op.fwd
        try:
            out = f(x, y) + ((z,) if z is not None else ()) \
                + ((t,) if t is not None else ())
        except TypeError:
            # cartesian-space ops (helmert) take 3-4 positional coords
            zz = z if z is not None else np.zeros_like(x)
            out = f(x, y, zz) if t is None else f(x, y, zz, t)
    out = list(out)
    ang_out = _angular_input(op) if inverse else _angular_output(op)
    if ang_out:
        out[0] = np.degrees(out[0])
        out[1] = np.degrees(out[1])
    return [float(np.asarray(c)[0]) for c in out if c is not None]


@pytest.mark.parametrize(
    "block", BLOCKS,
    ids=[f"{b['file']}#{i}" for i, b in enumerate(BLOCKS)])
def test_gie4d_block(block):
    if block["setup_fails"]:
        with pytest.raises((ValueError, NotImplementedError, KeyError)):
            op = create(block["projstring"])
            # some invalid setups only surface on execution
            _apply(op, [1.0, 1.0, 1.0, 1.0], False)
        return
    try:
        op = create(block["projstring"])
    except NotImplementedError as e:
        pytest.skip(str(e))
    except (ValueError, KeyError):
        # the reference also fails these at setup; acceptable iff every
        # vector in the block expects failure
        assert all(c["out"] is None
                   for c in block["fwd"] + block["inv"]), block["projstring"]
        return
    for inverse, cases in ((False, block["fwd"]), (True, block["inv"])):
        for case in cases:
            if case["out"] is None:
                with pytest.raises((ValueError, NotImplementedError)):
                    got = _apply(op, case["in"], inverse)
                    assert all(math.isfinite(v) for v in got), "nan=failure ok"
                continue
            got = _apply(op, case["in"], inverse)
            exp = case["out"]
            tol = case["tol"]
            ang = (_angular_input(op) if inverse else _angular_output(op))
            for k, (g, e) in enumerate(zip(got, exp)):
                axis_tol = tol / M_PER_DEG if (ang and k < 2) else tol
                # time axis compares exactly at tolerance in its own unit
                assert abs(g - e) <= max(axis_tol, 1e-9), \
                    (block["projstring"][:60], case["in"], got, exp, k)
    for case in block["roundtrips"]:
        vec = case["in"]
        cur = vec
        for _ in range(min(case["n"], 20)):
            mid = _apply(op, cur, inverse=(case["dir"] == "inverse"))
            cur = _apply(op, mid, inverse=(case["dir"] != "inverse"))
        for k, (g, e) in enumerate(zip(cur, vec)):
            ang = _angular_input(op)
            axis_tol = case["tol"] / M_PER_DEG if (ang and k < 2) else case["tol"]
            assert abs(g - e) <= max(axis_tol, 1e-9), (case, cur)
