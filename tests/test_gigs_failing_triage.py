"""Executable record of the round-4 GIGS `.gie.failing` triage
(COVERAGE.md "GIGS .failing triage"; verdict r4 item 7 -> r5 item 7).

The reference ships 13 GIGS files it KEEPS failing (excluded from its
own make-check).  One (5101.4-jhs) fully passes the engine and is
PROMOTED into the vendored suite (FIXTURES.md §6).  The other 12
fail for structural reasons the reference shares (grads-as-degrees
+init coordinates, projection-only +init pipelines, absent NADCON/NTv2
grids, variant-convention disagreements) — parity-neutral.

This test pins each file's CURRENT engine pass-count so that BOTH a
regression AND an accidental improvement are caught: if an engine
change makes one of these files pass more vectors, the pin fails and
the file must be re-triaged (and possibly promoted like 5101.4).
"""

from __future__ import annotations

import os

import pytest

GIGS = "/root/reference/test/gigs"

#: file -> (passing vectors, total vectors) as of the round-4 triage,
#: re-verified round 5.  Keep in sync with the COVERAGE.md table.
TRIAGE_PINS = {
    "5102.2.gie.failing": (19, 57),   # NTF grads-as-degrees +init legs
    "5104.gie.failing": (20, 60),     # RD/Amersfoort datum-less +init
    "5105.1.gie.failing": (0, 69),    # somerc variant-B uoff/gamma conv.
    "5108.gie.failing": (37, 51),     # Cassini Trinidad links units
    "5110.gie.failing": (23, 33),     # LAEA high-lat roundtrip drift
    "5111.2.gie.failing": (53, 105),  # merc variant-A false-northing
    "5203.1.gie.failing": (6, 42),    # 7-param datum step in bare +init
    "5204.1.gie.failing": (9, 42),    # 7-param datum step in bare +init
    "5205.1.gie.failing": (14, 42),   # 10-param datum step in bare +init
    "5206.gie.failing": (39, 129),    # NADCON .las/.los grids not shipped
    "5207.1.gie.failing": (19, 57),   # NTv2 grids not shipped
    "5207.2.gie.failing": (34, 108),  # NTv2 grids not shipped
}


@pytest.mark.skipif(not os.path.isdir(GIGS),
                    reason="reference GIGS corpus not present")
@pytest.mark.parametrize("fname", sorted(TRIAGE_PINS))
def test_gigs_failing_triage(fname):
    from proj_spark.gie import run_gie
    total, failed, _ = run_gie(os.path.join(GIGS, fname))
    want_pass, want_total = TRIAGE_PINS[fname]
    assert (total - failed, total) == (want_pass, want_total), (
        f"{fname}: engine now passes {total - failed}/{total} "
        f"(pinned {want_pass}/{want_total}) — re-triage this file "
        f"(COVERAGE.md) and, if it fully passes, promote it into "
        f"tests/gigs_vendored.json (FIXTURES.md §6)")


def test_gigs_promoted_file_stays_green():
    """5101.4-jhs is the one .failing file the engine fully passes; it
    is vendored into tests/gigs_vendored.json (test_gigs.py runs it).
    Assert the promotion premise directly against the source file."""
    from proj_spark.gie import run_gie
    path = os.path.join(GIGS, "5101.4-jhs.gie.failing")
    if not os.path.exists(path):
        pytest.skip("reference GIGS corpus not present")
    total, failed, msgs = run_gie(path)
    assert failed == 0 and total == 69, msgs[:5]
