"""CLI golden diffs against the reference's own distribution outputs
(round-2 verdict item #4): replay test/cli/test27 and test83 — every
`$EXE +units=us-ft +init=nad27:ZONE -E -f '%.3f'` heredoc — through
`python -m proj_spark proj` and compare line-by-line against
pj_out27.dist / pj_out83.dist.

Comparison mirrors the reference's `diff -b` (whitespace-run
insensitive).  The computed coordinate fields must match the golden
byte-for-byte after whitespace normalization; a +-1 final-digit slack
(0.001 us-ft ~ 0.3 mm) is tolerated on at most a small tail of lines —
the reference itself documents "Proj will vary in the .001ft range"
across libms (test/cli/test27 header comment).
"""

from __future__ import annotations

import io
import os
import re
import sys

import pytest

REF_CLI = "/root/reference/test/cli"

# Both the scripts and the expected .dist outputs live in the reference
# checkout; without it there is nothing to replay or compare against
# (the lost coverage is listed in COVERAGE.md, "CLI goldens").
pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_CLI),
    reason="reference CLI scripts and .dist goldens (test/cli) absent")

_CALL = re.compile(r"^\$EXE\s+(.*?)\s*>>?\$\{OUT\}\s*<<EOF\s*$")


def _parse_script(path: str):
    """Yield (args, input_lines) for every $EXE heredoc in the script."""
    calls = []
    with open(path) as f:
        lines = f.read().splitlines()
    i = 0
    while i < len(lines):
        m = _CALL.match(lines[i].strip())
        if m:
            args = m.group(1).replace("${INIT_FILE}", "nad27_or_83")
            body = []
            i += 1
            while i < len(lines) and lines[i].strip() != "EOF":
                body.append(lines[i])
                i += 1
            calls.append((args, body))
        i += 1
    return calls


def _run_golden(script: str, dist: str, init_name: str,
                exact_floor: float = 0.95):
    from proj_spark.__main__ import main
    calls = _parse_script(f"{REF_CLI}/{script}")
    assert len(calls) > 100, f"heredoc parse found only {len(calls)} calls"
    out = []
    for args, body in calls:
        argv = []
        for tok in args.split():
            tok = tok.strip("'\"")
            argv.append(tok.replace("nad27_or_83", init_name))
        old_stdin, old_stdout = sys.stdin, sys.stdout
        sys.stdin = io.StringIO("\n".join(body) + "\n")
        sys.stdout = io.StringIO()
        try:
            rc = main(["proj"] + argv)
            captured = sys.stdout.getvalue()
        finally:
            sys.stdin, sys.stdout = old_stdin, old_stdout
        assert rc == 0, (args, captured)
        out += [ln for ln in captured.splitlines() if ln]
    with open(f"{REF_CLI}/{dist}") as f:
        want = [ln for ln in f.read().splitlines() if ln.strip()]
    assert len(out) == len(want), (len(out), len(want))

    def norm(s: str) -> list[str]:
        return s.split()

    exact = 0
    off_by_ulp = 0
    bad = []
    for got, exp in zip(out, want):
        g, w = norm(got), norm(exp)
        if g == w:
            exact += 1
            continue
        # tolerate +-0.001 (one printf digit) on numeric fields only
        if len(g) == len(w):
            ok = True
            for a, b in zip(g, w):
                if a == b:
                    continue
                try:
                    if abs(float(a) - float(b)) <= 0.0011:
                        continue
                except ValueError:
                    pass
                ok = False
                break
            if ok:
                off_by_ulp += 1
                continue
        bad.append((got, exp))
    assert not bad, f"{len(bad)} mismatched lines, first: {bad[:3]}"
    assert exact / len(want) >= exact_floor, (exact, off_by_ulp, len(want))
    return exact, off_by_ulp, len(want)


def test_pj_out27_golden():
    exact, near, total = _run_golden("test27", "pj_out27.dist", "nad27")
    print(f"test27: {exact}/{total} byte-exact, {near} within 0.001")


def test_pj_out83_golden():
    """Byte-exact once the proj app matches the reference's legacy
    pj_init path (no cs2cs emulation: the GRS80 null-towgs84 cart hop
    must NOT be applied by proj — it shifted the final printf digit on
    ~1/3 of lines before the fix)."""
    exact, near, total = _run_golden("test83", "pj_out83.dist", "nad83",
                                     exact_floor=1.0)
    print(f"test83: {exact}/{total} byte-exact, {near} within 0.001")


# ---------------------------------------------------------------------------
# testvarious -> tv_out.dist (cs2cs golden corpus)
# ---------------------------------------------------------------------------

_TV_CALL = re.compile(r"^\$EXE\s+(.*?)\s*>>?\s*\$\{?OUT\}?\s*(?:2>&1)?\s*<<EOF$")
_TV_ECHO = re.compile(r'^echo\s+"?(.*?)"?\s*>>\s*\$\{?OUT\}?$')


def _tv_segments(path: str):
    """Script -> [{title, runs}] segments delimited by ###### banners
    (heredocs collected with backslash continuations joined)."""
    joined, buf = [], ""
    for ln in open(path).read().splitlines():
        if ln.rstrip().endswith("\\"):
            buf += ln.rstrip()[:-1] + " "
            continue
        joined.append(buf + ln)
        buf = ""
    events, i = [], 0
    while i < len(joined):
        ln = joined[i].strip()
        m = _TV_ECHO.match(ln)
        if m:
            events.append(("banner", m.group(1)))
        else:
            m = _TV_CALL.match(ln)
            if m:
                body = []
                i += 1
                while i < len(joined) and joined[i].strip() != "EOF":
                    body.append(joined[i])
                    i += 1
                events.append(("run", m.group(1), body))
        i += 1
    segs, cur = [], None
    for e in events:
        if e[0] == "banner" and set(e[1]) == {"#"}:
            if cur:
                segs.append(cur)
            cur = {"title": None, "runs": []}
        elif e[0] == "banner":
            if cur and cur["title"] is None:
                cur["title"] = e[1]
            elif cur:
                cur["runs"].append(("echo", e[1]))
        elif cur is not None:
            cur["runs"].append(e)
    if cur:
        segs.append(cur)
    return segs


def _dist_segments(path: str):
    segs, d = [], None
    for ln in open(path).read().splitlines():
        if set(ln.strip()) == {"#"} and ln.strip():
            if d is not None:
                segs.append(d)
            d = []
        elif d is not None:
            d.append(ln)
    if d is not None:
        segs.append(d)
    return segs


def _run_cli(argv, stdin):
    from proj_spark.__main__ import main
    si, so = sys.stdin, sys.stdout
    sys.stdin = io.StringIO(stdin)
    sys.stdout = io.StringIO()
    try:
        main(argv)
        return sys.stdout.getvalue()
    finally:
        sys.stdin, sys.stdout = si, so


def test_tv_out_golden():
    """Replay every cs2cs heredoc of test/cli/testvarious and compare
    per-segment against tv_out.dist (diff -b semantics).  ALL 67
    segments byte-exact as of round 5: the MGI segment's last printf
    digit landed once the catalog lowering adopted the reference's
    %.15g parameter serialization (factory.proj_double) — the
    reference instantiates DB-derived pipelines from their serialized
    PROJ strings, so its kernels see the REPARSED doubles (lon_0
    10.3333333333333, one ulp below 10+20/60)."""
    import shlex

    segs = _tv_segments(f"{REF_CLI}/testvarious")
    dsegs = _dist_segments(f"{REF_CLI}/tv_out.dist")
    assert len(segs) == len(dsegs) == 67
    exact = 0
    near = []
    for seg, dseg in zip(segs, dsegs):
        out_lines = [seg["title"]] if seg["title"] else []
        for r in seg["runs"]:
            if r[0] == "echo":
                out_lines.append(r[1])
                continue
            out = _run_cli(["cs2cs"] + shlex.split(r[1]),
                           "\n".join(r[2]) + "\n")
            out_lines += out.splitlines()
        got = [ln.split() for ln in out_lines]
        want = [ln.split() for ln in dseg]
        if got == want:
            exact += 1
            continue
        # numeric-tolerance fallback: every differing token must be a
        # number within 5 mm / 5e-8 deg of the golden
        assert len(got) == len(want), (seg["title"], out_lines, dseg)
        for g, w in zip(got, want):
            assert len(g) == len(w), (seg["title"], g, w)
            for a, b in zip(g, w):
                if a == b:
                    continue
                assert abs(float(a) - float(b)) <= 2e-7, (seg["title"], a, b)
        near.append(seg["title"])
    assert exact == 67, (exact, near)
    assert near == [], near


# ---------------------------------------------------------------------------
# testIGNF -> proj_outIGNF.dist (IGNF authority cs2cs corpus)
# ---------------------------------------------------------------------------

def _parse_ref_dms(s: str) -> float:
    m = re.match(r"(\d+)d(\d+)'([\d.]+)\"([EWNS])", s)
    v = int(m.group(1)) + int(m.group(2)) / 60 + float(m.group(3)) / 3600
    return -v if m.group(4) in "WS" else v


def _synthesize_ntf_r93_grid():
    """Register a synthetic ntf_r93.gsb reproducing the golden's NTF ->
    RGF93 shifts (the gie.py synthesize_require_grids discipline: the
    reference's own corpus values ARE the grid content; testIGNF's
    header documents the grid dependency and the real file is not in
    the reference tree).  Each sample's enclosing 90-arcsec cell gets
    constant node values, so bilinear lookup reproduces the sample
    exactly through the engine's REAL NTv2 machinery.  RGF93 targets
    for the LAMBE samples are pinned by BOTH golden segments (LAMB93
    and GEOPORTALFXX print at the mm) via alternating projection onto
    the two printf-preimage boxes."""
    import tempfile

    import numpy as np

    from proj_spark import create
    from proj_spark.grids import register_grid_file, write_gsb

    lambe = create("+init=IGNF:LAMBE")
    lamb93 = create("+init=IGNF:LAMB93")
    eqc = create("+init=IGNF:GEOPORTALFXX")
    # golden rows: LAMBE input, LAMB93 output, GEOPORTALFXX output
    # (proj_outIGNF.dist lines 4-10, 13-19; the out-of-grid 8th point
    # prints '*' and contributes no node)
    rows = [
        ((600000.0000, 2600545.4523), (652760.737, 7033791.243),
         (179040.148, 5610495.275)),
        ((135638.3592, 2418760.4094), (187194.062, 6855928.882),
         (-303729.363, 5410118.356)),
        ((998137.3947, 2413822.2844), (1049052.258, 6843776.562),
         (592842.792, 5410120.554)),
        ((600000.0000, 2200000.0000), (649398.872, 6633524.191),
         (179041.670, 5209746.080)),
        ((311552.5340, 1906457.4840), (358799.172, 6342652.486),
         (-96825.465, 4909184.136)),
        ((960488.4138, 1910172.8812), (1007068.686, 6340907.237),
         (523880.019, 4909191.141)),
        ((600000.0000, 1699510.8340), (645204.279, 6133556.746),
         (179047.633, 4708817.007)),
    ]
    M = 0.00049          # strictly inside the %.3f rounding quantum
    samples = [((3.300866856, 43.4477976569),
                (_parse_ref_dms('3d18\'0.915"E'),
                 _parse_ref_dms('43d26\'52.077"N')))]
    for (x1, y1), (lx, ly), (ex, ey) in rows:
        lam, phi = lambe.inv(np.array([x1]), np.array([y1]))
        src_lonlat = (float(np.degrees(lam[0])), float(np.degrees(phi[0])))
        lam, phi = lamb93.inv(np.array([lx]), np.array([ly]))
        t = np.array([lam[0], phi[0]])
        for _ in range(40):
            for op, (bx, by) in ((eqc, (ex, ey)), (lamb93, (lx, ly))):
                gx, gy = op.fwd(np.array([t[0]]), np.array([t[1]]))
                cx = min(max(gx[0], bx - M), bx + M)
                cy = min(max(gy[0], by - M), by + M)
                lam, phi = op.inv(np.array([cx]), np.array([cy]))
                t = np.array([lam[0], phi[0]])
        samples.append((src_lonlat,
                        (float(np.degrees(t[0])), float(np.degrees(t[1])))))
    step_deg, step_sec = 0.025, 90.0
    nodes = {}
    for (lon1, lat1), (lon2, lat2) in samples:
        i = int(np.floor(lon1 / step_deg))
        j = int(np.floor(lat1 / step_deg))
        off = ((lat2 - lat1) * 3600.0, -(lon2 - lon1) * 3600.0)
        for di in (0, 1):
            for dj in (0, 1):
                assert (i + di, j + dj) not in nodes
                nodes[(i + di, j + dj)] = off
    is_ = [k[0] for k in nodes]
    js = [k[1] for k in nodes]
    i0, i1 = min(is_) - 2, max(is_) + 2
    j0, j1 = min(js) - 2, max(js) + 2
    shifts = np.zeros((j1 - j0 + 1, i1 - i0 + 1, 2), dtype=np.float32)
    for (i, j), (dphi, dlam) in nodes.items():
        shifts[j - j0, i - i0, 0] = dphi
        shifts[j - j0, i - i0, 1] = dlam
    f = tempfile.NamedTemporaryFile(suffix=".gsb", delete=False)
    f.close()
    write_gsb(f.name, [dict(name="NTFR93", parent="NONE",
                            s_lat=j0 * step_sec, n_lat=j1 * step_sec,
                            w_long=-i0 * step_sec, e_long=-i1 * step_sec,
                            lat_inc=step_sec, long_inc=step_sec,
                            shifts=shifts)])
    register_grid_file("ntf_r93.gsb", f.name)


@pytest.fixture()
def _ignf_grid():
    """Registry-isolated IGNF ntf_r93.gsb (its node values differ from
    the testdatumfile #141 ntf_r93.gsb — same name, different corpus)."""
    from proj_spark.operations.datum import GRID_REGISTRY
    saved = dict(GRID_REGISTRY)
    try:
        _synthesize_ntf_r93_grid()
        yield
    finally:
        GRID_REGISTRY.clear()
        GRID_REGISTRY.update(saved)


def test_ignf_out_golden(_ignf_grid):
    """Replay every cs2cs call of test/cli/testIGNF and compare against
    proj_outIGNF.dist line-by-line (diff -b semantics), including the
    two out-of-grid points that must FAIL ('* * inf') because the
    grid-covered pair suppresses hub helmert rescue — 40/40 exact."""
    import shlex
    src = open(f"{REF_CLI}/testIGNF").read().splitlines()
    echo = re.compile(r'^echo\s+"(.*)"\s*>>\$\{OUT\}$')
    got, i = [], 0
    while i < len(src):
        ln = src[i].strip()
        m = echo.match(ln)
        if m and "+init" in m.group(1):
            got.append(m.group(1).replace("${INIT_FILE}", "IGNF"))
        else:
            m = _CALL.match(ln)
            if m:
                args = (m.group(1).replace("${INIT_FILE}", "IGNF")
                        .replace("$RES", "-f %.3f"))
                body = []
                i += 1
                while src[i].strip() != "EOF":
                    body.append(src[i])
                    i += 1
                out = _run_cli(["cs2cs"] + shlex.split(args),
                               "\n".join(body) + "\n")
                got += out.splitlines()
        i += 1
    want = [ln for ln in
            open(f"{REF_CLI}/proj_outIGNF.dist").read().splitlines()]
    assert len(got) == len(want)
    bad = [(g, w) for g, w in zip(got, want) if g.split() != w.split()]
    assert not bad, f"{len(bad)} mismatched lines, first: {bad[:3]}"


# ---------------------------------------------------------------------------
# testdatumfile -> td_out.dist and testntv2 -> ntv2_out.dist
# ---------------------------------------------------------------------------

def _synthesize_nad_grids(tmp: str) -> None:
    """Register synthetic stand-ins for the NAD27/NAD83 grid files the
    reference assumes installed (conus CTABLE2, ntv1_can.dat NTv1,
    ntv2_0.gsb NTv2 with subgrids, MD, egm96_15.gtx, ntf_r93.gsb) —
    the gie synthesize_require_grids discipline: the corpora's own
    golden vectors ARE the node values, each pinned point's enclosing
    cell carrying its constant shift, exercised through the engine's
    REAL format loaders, find_ctable dispatch, subgrid descent and the
    iterative inverse (including the ALraymnd -> CAwest switch and the
    #141 edge-epsilon cases).  The #141 grid corner values are solved
    from the intersection of the four %.12f printf-preimage intervals
    (fwd+inv at the corner and the epsilon-outside point)."""
    import math

    import numpy as np

    from proj_spark.grids import (register_grid_file, write_ctable2,
                                  write_gsb, write_gtx, write_ntv1)

    D2R = math.pi / 180.0

    def dms(tok):
        m = re.match(r"(\d+)d(\d+)'([\d.]+)\"([EWNS])", tok)
        v = (int(m.group(1)) + int(m.group(2)) / 60
             + float(m.group(3)) / 3600)
        return -v if m.group(4) in "WS" else v

    # pins: (NAD27-side lon/lat) -> (NAD83-side lon/lat), from the dists
    ntv1_pins = [
        ((-111.0, 44.0), (dms('111d0\'3.208"W'), dms('43d59\'59.732"N'))),
        ((-99.0, 65.0), (dms('99d0\'1.5885"W'), dms('65d0\'1.3482"N'))),
        ((-111.0, 46.0), (dms('111d0\'3.1897"W'), dms('45d59\'59.7489"N'))),
        ((-111.0, 47.5), (dms('111d0\'2.7989"W'), dms('47d29\'59.9896"N'))),
        ((-111.0, 55.0), (dms('111d0\'3.251"W'), dms('55d0\'0.366"N'))),
    ]
    conus_pins = [
        ((-111.0, 39.0), (dms('111d0\'2.604"W'), dms('38d59\'59.912"N'))),
        ((-111.0, 44.0), (dms('111d0\'2.788"W'), dms('43d59\'59.725"N'))),
        ((-79.0 - 58.0 / 60, 37.0 + 2.0 / 60),
         (dms('79d57\'59.126"W'), dms('37d2\'0.501"N'))),
        ((-79.0 - 58.0 / 60, 36.0 + 58.0 / 60),
         (dms('79d57\'59.128"W'), dms('36d58\'0.501"N'))),
        ((-111.5, 45.26), (-111.50079772, 45.25992835)),
    ]
    md_pins = [((-79.0 - 58.0 / 60, 37.0 + 2.0 / 60),
                (dms('79d58\'0.005"W'), dms('37d1\'59.998"N')))]
    win_pins = [
        ((-82.0, 42.0), (dms('81d59\'59.6104"W'), dms('42d0\'0.1602"N'))),
        ((-84.0, 42.0), (dms('83d59\'59.8593"W'), dms('42d0\'0.18"N'))),
    ]
    north_pins = [((-111.0, 55.0),
                   (dms('111d0\'3.251"W'), dms('55d0\'0.366"N')))]
    ca_in = (-112.5839956, 49.4914451)          # NAD83 input (seg 3)
    ca_out = (-112.58307487, 49.49145197)       # NAD27 golden

    def cell_nodes(lon, lat, ll, inc):
        i = int(math.floor((lon - ll[0]) / inc[0]))
        j = int(math.floor((lat - ll[1]) / inc[1]))
        return [(i, j), (i + 1, j), (i, j + 1), (i + 1, j + 1)]

    def raster(pins, ll, inc, nlam, nphi):
        sh = np.zeros((nphi, nlam, 2), dtype=np.float64)
        used = {}
        for (lon1, lat1), (lon2, lat2) in pins:
            val = ((lat2 - lat1) * 3600.0, -(lon2 - lon1) * 3600.0)
            for (i, j) in cell_nodes(lon1, lat1, ll, inc):
                assert 0 <= i < nlam and 0 <= j < nphi
                assert used.setdefault((i, j), val) == val, "node clash"
                sh[j, i, 0], sh[j, i, 1] = val
        return sh

    def ctable2_from(pins, ll, inc, hi, path, name):
        nlam = int(round((hi[0] - ll[0]) / inc[0] + 0.5)) + 1
        nphi = int(round((hi[1] - ll[1]) / inc[1] + 0.5)) + 1
        sh = raster(pins, ll, inc, nlam, nphi)
        cvs = np.empty((nphi, nlam, 2), dtype=np.float64)
        cvs[:, :, 0] = (sh[:, :, 1] * (D2R / 3600.0)).astype(np.float32)
        cvs[:, :, 1] = (sh[:, :, 0] * (D2R / 3600.0)).astype(np.float32)
        write_ctable2(path, name, (ll[0] * D2R, ll[1] * D2R),
                      (inc[0] * D2R, inc[1] * D2R), cvs)

    # ntv1_can.dat (NTv1; excludes 39N so the conus fallback fires)
    ll, inc = (-142.0, 43.0), (0.25, 0.25)
    nlam = int(round((-90.0 - ll[0]) / inc[0])) + 1
    nphi = int(round((66.0 - ll[1]) / inc[1])) + 1
    p = f"{tmp}/ntv1_can.dat"
    write_ntv1(p, s_lat=43.0, n_lat=66.0, w_long=142.0, e_long=90.0,
               lat_inc=0.25, long_inc=0.25,
               shifts=raster(ntv1_pins, ll, inc, nlam, nphi))
    register_grid_file("ntv1_can.dat", p)
    register_grid_file("NTv1_0.gsb", p)      # the EPSG-catalog grid name

    p = f"{tmp}/conus"
    ctable2_from(conus_pins, (-130.0, 23.805), (0.025, 0.025),
                 (-65.0, 49.38), p, "conus synth")
    register_grid_file("conus", p)
    register_grid_file("conus.las", p)
    register_grid_file('./dir with " space/myconus', p)

    p = f"{tmp}/MD"
    ctable2_from(md_pins, (-80.2, 37.0), (0.02, 0.02), (-79.8, 37.1),
                 p, "MD synth")
    register_grid_file("MD", p)

    # ntv2_0.gsb: ONwinsor + CAwest (child ALraymnd) + CAnorth
    def sub(name, parent, ll, inc, sh):
        nphi, nlam, _ = sh.shape
        return dict(name=name, parent=parent,
                    s_lat=ll[1] * 3600,
                    n_lat=(ll[1] + (nphi - 1) * inc[1]) * 3600,
                    w_long=-ll[0] * 3600,
                    e_long=-(ll[0] + (nlam - 1) * inc[0]) * 3600,
                    lat_inc=inc[1] * 3600, long_inc=inc[0] * 3600,
                    shifts=sh.astype(np.float32))

    subs = []
    ll, inc = (-84.25, 41.95), (0.1, 0.1)
    nlam = int(round((-81.75 - ll[0]) / inc[0])) + 1
    nphi = int(round((42.15 - ll[1]) / inc[1])) + 1
    subs.append(sub("ONwinsor", "NONE", ll, inc,
                    raster(win_pins, ll, inc, nlam, nphi)))
    # CAwest: constant value = the seg-3 inverse fixed point
    val = ((ca_in[1] - ca_out[1]) * 3600.0,
           -(ca_in[0] - ca_out[0]) * 3600.0)
    ll, inc = (-120.0, 49.0), (0.5, 0.5)
    nlam = int(round((-110.0 - ll[0]) / inc[0])) + 1
    nphi = int(round((50.5 - ll[1]) / inc[1])) + 1
    sh = np.zeros((nphi, nlam, 2))
    sh[:, :, 0], sh[:, :, 1] = val
    subs.append(sub("CAwest", "NONE", ll, inc, sh))
    # ALraymnd: east edge between the input and the converged point, so
    # the first inverse iterate exits it (the golden's grid switch)
    ll2, inc2 = (-112.7, 49.4), ((112.7 - 112.5835) / 5.0, 0.05)
    sh2 = np.zeros((4, 6, 2))
    sh2[:, :, 0], sh2[:, :, 1] = val
    subs.append(sub("ALraymnd", "CAwest", ll2, inc2, sh2))
    ll, inc = (-112.25, 54.15), (0.5, 0.5)
    nlam = int(round((-109.75 - ll[0]) / inc[0])) + 1
    nphi = int(round((55.65 - ll[1]) / inc[1])) + 1
    subs.append(sub("CAnorth", "NONE", ll, inc,
                    raster(north_pins, ll, inc, nlam, nphi)))
    p = f"{tmp}/ntv2_0.gsb"
    write_gsb(p, subs)
    register_grid_file("ntv2_0.gsb", p)
    register_grid_file("NTv2_0.gsb", p)

    # egm96_15.gtx: constant cell around (2E, 49N)
    p = f"{tmp}/egm96_15.gtx"
    write_gtx(p, yorigin=48.9875, xorigin=1.9875, ystep=0.025, xstep=0.025,
              values=np.full((3, 3), 44.64))
    register_grid_file("egm96_15.gtx", p)

    # ntf_r93.gsb (#141 edge semantics): NW corner exactly at (-5.5, 52)
    def box(base, printed):
        return (printed - base - 0.5e-12, printed - base + 0.5e-12)

    def isect(*bs):
        lo = max(b[0] for b in bs)
        hi = min(b[1] for b in bs)
        assert lo <= hi
        return (lo + hi) / 2.0

    def neg(b):
        return (-b[1], -b[0])

    d_lam = isect(box(-5.5, -5.501106465528),
                  box(-5.5000000000001, -5.501106465529),
                  neg(box(-5.5, -5.498893534472)),
                  neg(box(-5.5000000000001, -5.498893534472)))
    d_phi = isect(box(52.0, 51.999890470284),
                  box(52.0000000000001, 51.999890470284),
                  neg(box(52.0, 52.000109529716)),
                  neg(box(52.0000000000001, 52.000109529717)))
    p3 = (-5.4999, 51.9999)
    v3_lam = isect(box(p3[0], -5.501006458305),
                   neg(box(p3[0], -5.498793541695)))
    v3_phi = isect(box(p3[1], 51.999790470257),
                   neg(box(p3[1], 52.000009529743)))
    inc = 0.1
    fl = (p3[0] + 5.5) / inc
    fp = (p3[1] - 51.5) / inc - 4.0
    w_corner = (1.0 - fl) * fp

    def solve(v, d):
        return (v - d * w_corner) / (1.0 - w_corner)

    sh = np.zeros((6, 6, 2))
    sh[:, :, 0] = solve(v3_phi, d_phi) * 3600.0
    sh[:, :, 1] = -solve(v3_lam, d_lam) * 3600.0
    sh[5, 0, 0] = d_phi * 3600.0
    sh[5, 0, 1] = -d_lam * 3600.0
    p = f"{tmp}/ntf_r93.gsb"
    write_gsb(p, [sub("NTFR93", "NONE", (-5.5, 51.5), (inc, inc), sh)])
    register_grid_file("ntf_r93.gsb", p)


def _replay_script(script: str, dist: str) -> None:
    import shlex

    src = open(f"{REF_CLI}/{script}").read().replace("\\\n", " ")
    callre = re.compile(r"^\$EXE\s+(.*?)\s*>>\s*\$\{OUT\}\s*<<EOF\s*$")
    echore = re.compile(r"^echo\s+(.*?)\s*>>\s*\$\{OUT\}\s*$")
    lines = src.splitlines()
    got, i = [], 0
    while i < len(lines):
        ln = lines[i].strip()
        m = echore.match(ln)
        if m:
            txt = m.group(1)
            if txt.startswith('"') and txt.endswith('"'):
                txt = txt[1:-1]
            got.append(txt)
        else:
            m = callre.match(ln)
            if m:
                args = m.group(1)
                body = []
                i += 1
                while lines[i].strip() != "EOF":
                    body.append(lines[i])
                    i += 1
                got += _run_cli(["cs2cs"] + shlex.split(args),
                                "\n".join(body) + "\n").splitlines()
        i += 1
    want = open(f"{REF_CLI}/{dist}").read().splitlines()
    assert len(got) == len(want)
    bad = [(g, w) for g, w in zip(got, want) if g.split() != w.split()]
    assert not bad, f"{len(bad)} mismatched lines, first: {bad[:3]}"


@pytest.fixture()
def _nad_grids(tmp_path):
    """Registry-isolated synthetic NAD grid fixture (the names collide
    with testIGNF's ntf_r93.gsb, so snapshot and restore)."""
    from proj_spark.operations.datum import GRID_REGISTRY
    saved = dict(GRID_REGISTRY)
    try:
        _synthesize_nad_grids(str(tmp_path))
        yield
    finally:
        GRID_REGISTRY.clear()
        GRID_REGISTRY.update(saved)


def test_td_out_golden(_nad_grids):
    """Replay test/cli/testdatumfile -> td_out.dist, 32/32 lines exact:
    grid-list fallback order (ntv1 -> conus), the quoted
    'dir with " space/myconus' path, MD-over-conus priority, the #141
    edge/epsilon cases at %.12f (fwd + iterative inverse through the
    null-grid switch), NAD27/NAD83 named-CRS planner dispatch, and the
    WGS84+EGM96 vertical leg."""
    _replay_script("testdatumfile", "td_out.dist")


def test_ntv2_out_golden(_nad_grids):
    """Replay test/cli/testntv2 -> ntv2_out.dist, 21/21 lines exact:
    ONwinsor subgrid lookups at -w4, NTv2-to-NTv1-to-conus list
    fallback, the ALraymnd -> CAwest subgrid SWITCH inside the
    iterative inverse at -d 8, and the ntv2-bbox-but-no-subgrid retry
    that selects conus."""
    _replay_script("testntv2", "ntv2_out.dist")


def test_testproj_out_golden():
    """test/cli/testproj -> testproj_out.dist: the ob_tran +o_proj=latlon
    +to_meter round-trip identity (one line, byte-exact)."""
    out = _run_cli(["proj", "+ellps=WGS84", "+proj=ob_tran",
                    "+o_proj=latlon", "+o_lon_p=0.0", "+o_lat_p=90.0",
                    "+lon_0=360.0", "+to_meter=0.0174532925199433",
                    "+no_defs", "-E", "-f", "%.3f"], "2 49\n")
    want = open(f"{REF_CLI}/testproj_out.dist").read().splitlines()
    assert [ln.split() for ln in out.splitlines()] == \
        [ln.split() for ln in want]


# ---------------------------------------------------------------------------
# testprojinfo -> testprojinfo_out.dist (segment-wise)
# ---------------------------------------------------------------------------

#: golden segments the projinfo text layer replays byte-exactly; the
#: remainder need transformation-WKT2 export, vertical/compound CRS
#: display, the 3D-promotion formatter or concatenated-op pivoting —
#: COVERAGE.md "CLI golden corpora status" documents the gap
_PROJINFO_IMPLEMENTED = [
    "Testing projinfo EPSG:4326",
    "Testing projinfo -o WKT1_GDAL EPSG:4326",
    "Testing projinfo -o WKT2_2015 EPSG:4326",
    "Testing projinfo -o WKT2_2019 EPSG:4326",
    "Testing projinfo -o ALL EPSG:4326",
    "Testing projinfo -s EPSG:4326 -t EPSG:32631",
    "Testing projinfo -s NAD27 -t NAD83 --grid-check none "
    "--spatial-test intersects --summary",
    "Testing projinfo -s EPSG:4230 -t EPSG:4258 "
    "--bbox 8,54.51,15.24,57.8 --summary",
    "Testing projinfo -s EPSG:4230 -t EPSG:4258 --area EPSG:3237 --summary",
    "Testing projinfo -s EPSG:4230 -t EPSG:4258 "
    "--area 'Denmark - onshore' --summary",
    "Testing projinfo -s EPSG:4230 -t EPSG:4258 --area 'Denmark -' "
    "--summary",
    "Testing projinfo -s EPSG:4230 -t EPSG:4258 --area no_match --summary",
    "Testing projinfo -s EPSG:4230 -t EPSG:4258 --area WRONG:CODE "
    "--summary",
    "Testing deprecated CRS: projinfo EPSG:26591",
    "Testing CRS with towgs84: projinfo -o PROJ EPSG:25832",
    'Testing -s EPSG:4936 -t EPSG:4978 --spatial-test intersects '
    '--summary where WGS 84 to ETRS89 (2) uses a transformation method '
    'not supported by PROJ currently (time-specific Helmert), and thus '
    'must be sorted last',
    'Testing -s EPSG:31467 -t ETRS89 --spatial-test intersects '
    '--grid-check none --bbox 8,48,9,49 --summary. Should include both '
    'DHDN to ETRS89 (8) and DHDN to ETRS89 (BWTA2017)',
    "Testing EPSG:32631 --3d",
    "Testing projinfo -s NAD27 -t NAD83",
    'Testing -s "GDA94" -t "WGS 84 (G1762)" --spatial-test intersects '
    '--summary. Should include transformations through ITRF2008 and '
    'GDA2020',
    'Testing -s "AGD66" -t "WGS 84 (G1762)" --spatial-test intersects '
    '--summary. Should include a transformation through GDA2020',
    "Testing projinfo -s NAD27 -t NAD83 --grid-check none "
    "--spatial-test intersects",
    "Testing RH2000 height to SWEREF99: projinfo -s EPSG:5613 -t "
    "EPSG:4977",
    "Testing NAD83(2011) + NAVD88 height -> NAD83(2011) : projinfo "
    "-s EPSG:6349 -t EPSG:6319 --spatial-test intersects -o PROJ",
    "Testing NGF IGN69 height to RGF93: projinfo -s EPSG:5720 -t "
    "EPSG:4965 -o PROJ",
    "Testing -s EPSG:32631 -t EPSG:4326+3855 --summary",
    "Testing -s EPSG:32631 -t EPSG:4326+3855 --3d --summary",
    'Testing -s "GDA94" -t "AHD height" --grid-check none -o PROJ '
    '--spatial-test intersects',
    'Testing -s "GDA2020" -t "AHD height" --grid-check none -o PROJ '
    '--spatial-test intersects',
    'Testing -s "+proj=longlat +datum=WGS84 +geoidgrids=@foo.gtx '
    '+type=crs" -t EPSG:4326 -o PROJ -q',
    "Testing non compliant WKT1",
]


def _projinfo_segments():
    """(title, argv) for every projinfo invocation of the script, plus
    the golden output segment keyed by title."""
    import shlex

    src = open(f"{REF_CLI}/testprojinfo").read().splitlines()
    segs, i = [], 0
    while i < len(src):
        m = re.match(r'''^echo ["'](Testing .*)["'] >> \$\{OUT\}$''',
                     src[i].strip())
        if m:
            j = i + 1
            while j < len(src) and not src[j].strip().startswith("$EXE"):
                j += 1
            cmd = re.sub(r">>\$\{OUT\}.*$", "", src[j].strip())
            segs.append((m.group(1),
                         shlex.split(cmd.replace("$EXE", "").strip())))
            i = j
        i += 1
    want_all = open(f"{REF_CLI}/testprojinfo_out.dist").read().splitlines()
    bounds = [k for k, ln in enumerate(want_all)
              if ln.startswith("Testing ")] + [len(want_all)]
    golden = {}
    for a, b in zip(bounds, bounds[1:]):
        seg = want_all[a:b]
        while seg and seg[-1] == "":
            seg.pop()
        golden[seg[0]] = seg[1:]
    return segs, golden


def test_projinfo_golden_segments():
    """Replay test/cli/testprojinfo segment-by-segment; every segment in
    _PROJINFO_IMPLEMENTED must be byte-exact against
    testprojinfo_out.dist (ALL 31 as of round 5)."""
    segs, golden = _projinfo_segments()
    ran = set()
    for title, argv in segs:
        if title not in _PROJINFO_IMPLEMENTED:
            continue
        got = _run_cli(["projinfo"] + argv, "").rstrip("\n").splitlines()
        # shell quoting differs between the script echo and the golden
        # title for proj-string arguments: fall back to the stripped form
        want = golden.get(title) or golden[title.replace('"', '')]
        assert got == want, (title, got[:5], want[:5])
        ran.add(title)
    assert len(ran) == len(_PROJINFO_IMPLEMENTED) == 31


def test_cct_golden():
    """testcct -> testcct_out.dist: byte-identical (modulo the banner
    echo line, produced by the shell script, asserted verbatim)."""
    out = _run_cli(["cct", "-d", "8", "+proj=merc", "+R=1"], "90 45 0\n")
    want = open(f"{REF_CLI}/testcct_out.dist").read().splitlines()
    assert out.splitlines() == [want[1]]
    assert want[0] == "Testing cct -d 8 +proj=merc +R=1"
