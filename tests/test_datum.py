"""Datum transformations: grids, Molodensky, Molodensky-Badekas, Horner,
deformation — semantics per the reference (see operations/datum.py)."""

from __future__ import annotations

import numpy as np
import pytest

from proj_spark import create
from proj_spark.operations.datum import (Grid, GRID_REGISTRY, nad_cvt,
                                         nad_intr)

D2R = np.pi / 180.0


def analytic_hgrid(n=41, lam0=-0.2, phi0=0.6, span=0.4):
    """Smooth synthetic shift grid: dlam = A sin(lam)cos(phi) etc."""
    dl = span / (n - 1)
    lams = lam0 + dl * np.arange(n)
    phis = phi0 + dl * np.arange(n)
    L, P = np.meshgrid(lams, phis)
    A = 2e-6  # ~0.4 m in angle units
    cvs = np.stack([A * np.sin(3 * L) * np.cos(2 * P),
                    A * np.cos(2 * L) * np.sin(3 * P)], axis=-1)
    return Grid(ll=(lam0, phi0), del_=(dl, dl), cvs=cvs)


def analytic_vgrid(n=31, lam0=-0.2, phi0=0.6, span=0.4):
    dl = span / (n - 1)
    lams = lam0 + dl * np.arange(n)
    phis = phi0 + dl * np.arange(n)
    L, P = np.meshgrid(lams, phis)
    return Grid(ll=(lam0, phi0), del_=(dl, dl),
                cvs=40.0 + 5.0 * np.sin(4 * L) * np.cos(5 * P))


@pytest.fixture(scope="module")
def pts():
    rng = np.random.default_rng(3)
    lam = rng.uniform(-0.15, 0.15, 500)
    phi = rng.uniform(0.65, 0.95, 500)
    return lam, phi


def test_nad_intr_matches_analytic(pts):
    g = analytic_hgrid(n=801)  # fine grid -> bilinear ~ analytic
    lam, phi = pts
    dl, dp = nad_intr(lam - g.ll[0], phi - g.ll[1], g)
    A = 2e-6
    assert np.allclose(dl, A * np.sin(3 * lam) * np.cos(2 * phi), atol=1e-11)
    assert np.allclose(dp, A * np.cos(2 * lam) * np.sin(3 * phi), atol=1e-11)


def test_nad_intr_outside_is_nan():
    g = analytic_hgrid()
    dl, dp = nad_intr(np.array([-0.5]), np.array([0.1]), g)
    assert np.isnan(dl[0]) and np.isnan(dp[0])


def test_hgridshift_roundtrip(pts):
    g = analytic_hgrid()
    GRID_REGISTRY["test_h"] = g
    try:
        op = create("+proj=hgridshift +grids=test_h")
        lam, phi = pts
        l2, p2, _ = op.fwd3d(lam, phi, None)
        # forward convention: lam -= dlam, phi += dphi (nad_cvt)
        dl, dp = nad_intr(lam - g.ll[0], phi - g.ll[1], g)
        assert np.allclose(l2, lam - dl, atol=1e-14)
        assert np.allclose(p2, phi + dp, atol=1e-14)
        l3, p3, _ = op.inv3d(l2, p2, None)
        assert np.allclose(l3, lam, atol=1e-11)
        assert np.allclose(p3, phi, atol=1e-11)
    finally:
        del GRID_REGISTRY["test_h"]


def test_hgridshift_null_is_identity(pts):
    op = create("+proj=hgridshift +grids=null")
    lam, phi = pts
    l2, p2, _ = op.fwd3d(lam, phi, None)
    assert np.array_equal(l2, lam) and np.array_equal(p2, phi)


def test_vgridshift_sign_and_roundtrip(pts):
    g = analytic_vgrid()
    # direct construction with an injected grid object
    from proj_spark.operations.datum import VGridShift
    op = VGridShift({"proj": "vgridshift", "grid_object": g})
    lam, phi = pts
    z = np.full_like(lam, 100.0)
    _, _, z2 = op.fwd3d(lam, phi, z)
    val = nad_intr(lam - g.ll[0], phi - g.ll[1], g)
    # historical convention: forward subtracts the geoid undulation
    assert np.allclose(z2, z - val, atol=1e-12)
    _, _, z3 = op.inv3d(lam, phi, z2)
    assert np.allclose(z3, z, atol=1e-12)


def test_molodensky_matches_exact_7param_route(pts):
    """Standard Molodensky ~ cart -> helmert(3param) -> cart_inv within
    decimeters for a pure translation (textbook accuracy bound)."""
    dx, dy, dz = 84.87, 96.49, 116.95
    mol = create(f"+proj=molodensky +ellps=WGS84 +dx={dx} +dy={dy} +dz={dz} "
                 "+da=0 +df=0")
    cart = create("+proj=cart +ellps=WGS84")
    lam, phi = pts
    z = np.zeros_like(lam)
    ml, mp, mz = mol.fwd3d(lam, phi, z)
    X, Y, Z = cart.fwd3d(lam, phi, z)
    el, ep, ez = cart.inv3d(X + dx, Y + dy, Z + dz)
    assert np.allclose(ml, el, atol=3e-8)   # ~0.2 m in angle
    assert np.allclose(mp, ep, atol=3e-8)
    assert np.allclose(mz, ez, atol=0.2)
    # inverse restores
    il, ip, iz = mol.inv3d(ml, mp, mz)
    assert np.allclose(il, lam, atol=1e-9)
    assert np.allclose(ip, phi, atol=1e-9)


def test_molodensky_abridged_close_to_standard(pts):
    common = "+ellps=WGS84 +dx=84.87 +dy=96.49 +dz=116.95 +da=251 +df=1.4e-5"
    std = create(f"+proj=molodensky {common}")
    abr = create(f"+proj=molodensky {common} +abridged")
    lam, phi = pts
    sl, sp, sz = std.fwd3d(lam, phi, np.zeros_like(lam))
    al, ap, az = abr.fwd3d(lam, phi, np.zeros_like(lam))
    assert np.allclose(sl, al, atol=5e-8)
    assert np.allclose(sp, ap, atol=5e-8)
    assert np.allclose(sz, az, atol=1.0)


def test_molobadekas_refp_zero_equals_helmert():
    mb = create("+proj=molobadekas +x=10 +y=-20 +z=30 +rx=0.1 +ry=-0.2 "
                "+rz=0.3 +s=2.5 +px=0 +py=0 +pz=0 "
                "+convention=coordinate_frame")
    he = create("+proj=helmert +x=10 +y=-20 +z=30 +rx=0.1 +ry=-0.2 +rz=0.3 "
                "+s=2.5 +convention=coordinate_frame")
    rng = np.random.default_rng(5)
    X = rng.uniform(-6.4e6, 6.4e6, 200)
    Y = rng.uniform(-6.4e6, 6.4e6, 200)
    Z = rng.uniform(-6.4e6, 6.4e6, 200)
    bx, by, bz = mb.fwd3d(X, Y, Z)
    hx, hy, hz = he.fwd(X, Y, Z)
    assert np.allclose(bx, hx, atol=1e-6)
    assert np.allclose(by, hy, atol=1e-6)
    assert np.allclose(bz, hz, atol=1e-6)
    ix, iy, iz = mb.inv3d(bx, by, bz)
    assert np.allclose(ix, X, atol=1e-6)


def test_molobadekas_refp_shifts_rotation_center():
    """With a rotation about refp, the refp itself maps to refp + T."""
    mb = create("+proj=molobadekas +x=5 +y=6 +z=7 +rx=100 +ry=-50 +rz=30 "
                "+s=0 +px=1000 +py=2000 +pz=3000 "
                "+convention=coordinate_frame")
    x, y, z = mb.fwd3d(np.array([1000.0]), np.array([2000.0]),
                       np.array([3000.0]))
    assert np.allclose([x[0], y[0], z[0]], [1005.0, 2006.0, 3007.0])


def test_horner_real_identity_plus_offset():
    # order-1 polynomial: out_u = 10 + 1*u ; out_v = -20 + 1*v.
    # gen_pol layout: u-poly = [c, e, n], v-poly = [c, n, e]
    op = create("+proj=horner +deg=1 +range=1e7 "
                "+fwd_u=10,1,0 +fwd_v=-20,1,0 "
                "+inv_u=-10,1,0 +inv_v=20,1,0")
    u = np.array([100.0, -5.0])
    v = np.array([7.0, 9.0])
    U, V = op.fwd(u, v)
    assert np.allclose(U, u + 10)
    assert np.allclose(V, v - 20)
    u2, v2 = op.inv(U, V)
    assert np.allclose(u2, u)
    assert np.allclose(v2, v)


def test_horner_complex_translation_rotationless():
    # complex polynomial c0 + c1*z with c1 = 1: pure translation by c0
    op = create("+proj=horner +deg=1 +range=1e7 "
                "+fwd_c=5,-3,1,0 +inv_c=-5,3,1,0")
    u = np.array([10.0, 20.0])
    v = np.array([1.0, 2.0])
    U, V = op.fwd(u, v)
    # complex horner: (N + iE) = (c0_N + i c0_E) + (c1_N + i c1_E)(n + ie)
    u2, v2 = op.inv(U, V)
    assert np.allclose(u2, u, atol=1e-9)
    assert np.allclose(v2, v, atol=1e-9)


def test_deformation_velocity_shift():
    from proj_spark.operations.datum import Deformation
    hg = analytic_hgrid()
    # velocity grid in mm/yr
    hg = Grid(ll=hg.ll, del_=hg.del_, cvs=hg.cvs * 1e7)  # ~20 mm/yr
    vg = analytic_vgrid()
    op = Deformation({"proj": "deformation", "ellps": "GRS80",
                      "grid_object": hg, "vgrid_object": vg, "dt": 10.0})
    cart = create("+proj=cart +ellps=GRS80")
    lam = np.array([0.02, -0.05])
    phi = np.array([0.8, 0.85])
    X, Y, Z = cart.fwd3d(lam, phi, np.zeros_like(lam))
    x2, y2, z2, _ = op.fwd4d(X, Y, Z, None)
    shift = np.hypot(np.hypot(x2 - X, y2 - Y), z2 - Z)
    assert np.all(shift > 0.01) and np.all(shift < 10.0)
    x3, y3, z3, _ = op.inv4d(x2, y2, z2, None)
    assert np.allclose(x3, X, atol=1e-6)
    assert np.allclose(y3, Y, atol=1e-6)
    assert np.allclose(z3, Z, atol=1e-6)


def test_factors_mercator_sphere():
    from proj_spark.operations.factors import factors
    op = create("+proj=merc +R=6400000")
    phi = np.radians(np.array([0.0, 30.0, 60.0]))
    lam = np.zeros_like(phi)
    f = factors(op, lam, phi)
    sec = 1.0 / np.cos(phi)
    assert np.allclose(f["h"], sec, rtol=1e-6)
    assert np.allclose(f["k"], sec, rtol=1e-6)
    assert np.allclose(f["omega"], 0.0, atol=1e-5)   # conformal
    assert np.allclose(f["s"], sec * sec, rtol=1e-5)
    assert np.allclose(f["conv"], 0.0, atol=1e-9)


def test_factors_utm_scale():
    from proj_spark.operations.factors import factors
    op = create("+proj=utm +zone=32 +ellps=GRS80")
    # on the central meridian (9E) the scale is exactly k0 = 0.9996
    f = factors(op, np.radians(np.array([9.0])), np.radians(np.array([45.0])))
    assert abs(f["k"][0] - 0.9996) < 1e-7
    assert abs(f["h"][0] - 0.9996) < 1e-7
    assert abs(f["conv"][0]) < 1e-9
    # convergence grows away from the central meridian
    f2 = factors(op, np.radians(np.array([12.0])),
                 np.radians(np.array([45.0])))
    assert 0.02 < f2["conv"][0] < 0.06


def test_time_unit_conversions():
    from proj_spark.operations.simple import convert_time
    # 2000-01-01 is MJD 51544; GPS week 0 begins at MJD 44244
    assert np.allclose(convert_time(np.array([2000.0]), "decimalyear", "mjd"),
                       [51544.0])
    assert np.allclose(convert_time(np.array([51544.0]), "mjd", "decimalyear"),
                       [2000.0])
    assert np.allclose(convert_time(np.array([0.0]), "gps_week", "mjd"),
                       [44244.0])
    assert np.allclose(convert_time(np.array([20000101.0]), "yyyymmdd", "mjd"),
                       [51544.0])
    assert np.allclose(convert_time(np.array([51544.0]), "mjd", "yyyymmdd"),
                       [20000101.0])
    # roundtrips across leap years
    dy = np.array([1999.5, 2000.123, 2004.9, 2100.0, 1960.25])
    assert np.allclose(convert_time(convert_time(dy, "decimalyear", "mjd"),
                                    "mjd", "decimalyear"), dy, atol=1e-9)
    ymd = np.array([19700215.0, 20000229.0, 20231231.0, 18600101.0])
    assert np.allclose(convert_time(convert_time(ymd, "yyyymmdd", "mjd"),
                                    "mjd", "yyyymmdd"), ymd)


def test_pipeline_4d_datum_route(pts):
    """pipeline(cart -> helmert -> inv cart) == the fused datum chain."""
    pipe = create("+proj=pipeline "
                  "+step +proj=cart +ellps=GRS80 "
                  "+step +proj=helmert +x=598.1 +y=73.7 +z=418.2 "
                  "+rx=0.202 +ry=0.045 +rz=-2.455 +s=6.7 "
                  "+convention=position_vector "
                  "+step +inv +proj=cart +ellps=GRS80")
    cart = create("+proj=cart +ellps=GRS80")
    hel = create("+proj=helmert +x=598.1 +y=73.7 +z=418.2 +rx=0.202 "
                 "+ry=0.045 +rz=-2.455 +s=6.7 +convention=position_vector")
    lam, phi = pts
    pl, pp, pz, _ = pipe.fwd4d(lam, phi, np.zeros_like(lam), None)
    X, Y, Z = cart.fwd3d(lam, phi, np.zeros_like(lam))
    X, Y, Z = hel.fwd(X, Y, Z)
    el, ep, ez = cart.inv3d(X, Y, Z)
    assert np.allclose(pl, el, atol=1e-15)
    assert np.allclose(pp, ep, atol=1e-15)
    assert np.allclose(pz, ez, atol=1e-9)
    # and the pipeline inverse restores the input
    il, ip, iz, _ = pipe.inv4d(pl, pp, pz, None)
    assert np.allclose(il, lam, atol=1e-12)
    assert np.allclose(ip, phi, atol=1e-12)


def test_pipeline_push_pop_preserves_z(pts):
    """push/pop carries z across a 2-D step that would drop it."""
    pipe = create("+proj=pipeline +ellps=GRS80 "
                  "+step +proj=push +v_3 "
                  "+step +proj=utm +zone=32 "
                  "+step +inv +proj=utm +zone=32 "
                  "+step +proj=pop +v_3")
    lam = np.radians(np.array([9.0, 12.0]))
    phi = np.radians(np.array([45.0, 56.0]))
    z = np.array([123.0, -7.0])
    ol, op_, oz, _ = pipe.fwd4d(lam, phi, z, None)
    assert np.allclose(ol, lam, atol=1e-12)
    assert np.allclose(op_, phi, atol=1e-12)
    assert np.array_equal(oz, z)


def test_sch_roundtrip_and_peg():
    op = create("+proj=sch +plat_0=40 +plon_0=-75 +phdg_0=90 +ellps=WGS84")
    lam = np.radians(np.array([-75.0, -74.8, -75.3]))
    phi = np.radians(np.array([40.0, 40.1, 39.9]))
    h = np.array([0.0, 120.0, -30.0])
    s, c, hh = op.fwd3d(lam, phi, h)
    assert abs(s[0]) < 1e-6 and abs(c[0]) < 1e-6 and abs(hh[0]) < 1e-6
    l2, p2, h2 = op.inv3d(s, c, hh)
    assert np.allclose(l2, lam, atol=1e-12)
    assert np.allclose(p2, phi, atol=1e-12)
    assert np.allclose(h2, h, atol=1e-6)


def test_full_pj_list_registry_coverage():
    """Every operation of the reference's pj_list (165 ops, listed in
    COVERAGE.md §2.A) resolves."""
    import os
    import re
    from proj_spark.projstring import _registry
    path = os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")
    with open(path) as f:
        section = f.read().split("\n## §2.A —")[1].split("\n## ")[0]
    names = set(re.findall(r"^\| ([a-z0-9_]+) \|", section, re.M)) - {"op"}
    assert len(names) == 165
    reg = set(_registry().keys()) | {"pipeline", "push", "pop"}
    missing = names - reg
    assert not missing, f"missing from registry: {sorted(missing)}"


def test_molodensky_gie_vectors():
    """Golden vectors from more_builtins.gie:37-72 (AGD66-style shift)."""
    common = ("+proj=molodensky +a=6378160 +rf=298.25 +da=-23 "
              "+df=-8.120449e-8 +dx=-134 +dy=-48 +dz=149")
    for variant in ("", " +abridged"):
        op = create(common + variant)
        lam, phi, z = op.fwd3d(np.radians(np.array([144.9667])),
                               np.radians(np.array([-37.8])),
                               np.array([50.0]))
        # tolerance 2 m ground distance (gie compares geodesic dist)
        coslat = np.cos(np.radians(37.8))
        assert abs(np.degrees(lam[0]) - 144.968) * 111320 * coslat < 2
        assert abs(np.degrees(phi[0]) - (-37.79848)) * 111320 < 2
        assert abs(z[0] - 46.378) < 2
        # roundtrip within 1 m
        il, ip, iz = op.inv3d(lam, phi, z)
        assert abs(np.degrees(il[0]) - 144.9667) * 111320 * coslat < 1
        assert abs(iz[0] - 50.0) < 1

    # all-zero parameters: identity to 1 mm
    zop = create("+proj=molodensky +a=6378160 +rf=298.25 +da=0 +df=0 "
                 "+dx=0 +dy=0 +dz=0")
    lam, phi, z = zop.fwd3d(np.radians(np.array([144.9667])),
                            np.radians(np.array([-37.8])), np.array([50.0]))
    assert abs(np.degrees(lam[0]) - 144.9667) * 111320 < 1e-3
    assert abs(z[0] - 50.0) < 1e-3

    # missing arguments must be rejected (gie expects failure)
    with pytest.raises(ValueError):
        create("+proj=molodensky +a=6378160 +rf=298.25 +dx=0")


def test_helmert_gie_maritime_and_ed50():
    """more_builtins.gie:350-372: ITRF2008->ETRS89 maritime (1 um) and
    the exact-rotation ED50->ETRS89 example (1 um)."""
    op = create("+proj=helmert +convention=coordinate_frame +x=0.67678 "
                "+y=0.65495 +z=-0.52827 +rx=-0.022742 +ry=0.012667 "
                "+rz=0.022704 +s=-0.01070")
    x, y, z = op.fwd(np.array([3565285.0]), np.array([855949.0]),
                     np.array([5201383.0]))
    assert abs(x[0] - 3565285.41342351) < 1e-6
    assert abs(y[0] - 855948.67986759) < 1e-6
    assert abs(z[0] - 5201382.72939791) < 1e-6
    op2 = create("+proj=helmert +exact +convention=coordinate_frame "
                 "+x=-081.0703 +rx=-0.48488 +y=-089.3603 +ry=-0.02436 "
                 "+z=-115.7526 +rz=-0.41321 +s=-0.540645")
    x, y, z = op2.fwd(np.array([3494994.3012]), np.array([1056601.9725]),
                      np.array([5212382.1666]))
    assert abs(x[0] - 3494909.84026368) < 1e-6
    assert abs(y[0] - 1056506.78938633) < 1e-6
    assert abs(z[0] - 5212265.66699761) < 1e-6


def test_helmert_gie_kinematic_two_epochs():
    """more_builtins.gie:420-434: the 4D path re-derives the rotation
    matrix per epoch (0.1 mm)."""
    op = create("+proj=helmert +convention=position_vector +x=0.01270 "
                "+dx=-0.0029 +rx=-0.00039 +drx=-0.00011 +y=0.00650 "
                "+dy=-0.0002 +ry=0.00080 +dry=-0.00019 +z=-0.0209 "
                "+dz=-0.0006 +rz=-0.00114 +drz=0.00007 +s=0.00195 "
                "+ds=0.00001 +t_epoch=1988.0")
    X = np.array([3370658.378, 3370658.378])
    Y = np.array([711877.314, 711877.314])
    Z = np.array([5349787.086, 5349787.086])
    T = np.array([2017.0, 2018.0])
    x, y, z = op.fwd(X, Y, Z, T)
    assert abs(x[0] - 3370658.18890) < 1e-4
    assert abs(y[0] - 711877.42370) < 1e-4
    assert abs(z[0] - 5349787.12430) < 1e-4
    assert abs(x[1] - 3370658.18087) < 1e-4
    assert abs(y[1] - 711877.42750) < 1e-4
    assert abs(z[1] - 5349787.12648) < 1e-4


def test_factors_lcc_closed_form():
    """Central-difference factors agree with the closed-form LCC scale
    k = n * rho / m(phi) within the stencil's truncation envelope; the
    driver query (q_factors) aggregates exactly these values."""
    from proj_spark import mathutils as mu
    from proj_spark.operations.factors import factors
    op = create("+proj=lcc +lat_1=33 +lat_2=45 +ellps=GRS80")
    phi = np.radians(np.array([-59.0, 0.0, 33.0, 39.0, 45.0, 61.0]))
    lam = np.radians(np.array([-120.0, 0.0, 30.0, 90.0, -30.0, 170.0]))
    f = factors(op, lam, phi)
    rho = op.c * np.power(mu.tsfn(phi, np.sin(phi), op.e), op.n)
    m = mu.msfn(np.sin(phi), np.cos(phi), op.es)
    k_exact = op.n * rho / m
    assert np.allclose(f["k"], k_exact, rtol=1e-7)
    assert np.allclose(f["h"], k_exact, rtol=1e-7)    # conformal: h == k
    assert np.allclose(f["conv"], lam * op.n, atol=1e-9)
    assert np.allclose(f["s"], k_exact * k_exact, rtol=1e-6)


def test_rhealpix_cells_equal_area():
    """The DGGS property the driver query q_dggs_rollup sells: rHEALPix
    cells of one resolution have equal ellipsoidal area — estimated by
    uniform-on-the-ellipsoid sampling via the authalic inverse."""
    import numpy as np
    op = create("+proj=rhealpix +ellps=GRS80")
    rng = np.random.default_rng(3)
    # uniform on the authalic sphere => uniform by ellipsoid area
    z = rng.uniform(-1, 1, 200_000)
    lam = rng.uniform(-np.pi, np.pi, 200_000)
    from proj_spark.operations.simple import authlat, authset
    apa = authset(op.es)
    phi = authlat(np.arcsin(z), apa)
    x, y = op.fwd(lam, phi)
    w = op.a * (np.pi / 2.0) / 9.0
    ci = np.floor((x + op.a * np.pi) / w)
    cj = np.floor((y + op.a * (3.0 * np.pi / 4.0)) / w)
    _, counts = np.unique(ci * 1000 + cj, return_counts=True)
    # every resolution-2 cell should catch ~ n/486 points
    exp = 200_000 / 486.0
    assert counts.size == 486
    assert counts.min() > 0.8 * exp and counts.max() < 1.2 * exp


def test_helmert_4param_kinematic_two_epochs():
    """Kinematic 4-param Helmert: theta and scale are propagated to the
    observation epoch (reference src/transformations/helmert.cpp:107-161
    update_parameters), the translation stays at its base value (the 2-D
    kernel at helmert.cpp:323-360 adds xyz_0, never xyz(t)).  Verified
    against a hand-computed replay at two epochs, plus fwd/inv roundtrip."""
    import math

    import numpy as np

    from proj_spark import create

    ARC = math.pi / 180.0 / 3600.0
    op = create("+proj=helmert +x=100.0 +y=-50.0 +theta=5.0 +s=1.00002 "
                "+dtheta=0.5 +ds=-0.00001 +t_epoch=2000.0")
    x = np.array([3500000.0, 3500000.0])
    y = np.array([1200000.0, 1200000.0])
    z = np.zeros(2)
    t = np.array([2000.0, 2010.0])
    fx, fy, fz = op.fwd(x, y, z, t)
    for i, ti in enumerate(t):
        dt = ti - 2000.0
        th = (5.0 + 0.5 * dt) * ARC
        sc = 1.00002 - 0.00001 * dt
        ex = math.cos(th) * sc * x[i] + math.sin(th) * sc * y[i] + 100.0
        ey = -math.sin(th) * sc * x[i] + math.cos(th) * sc * y[i] - 50.0
        assert abs(fx[i] - ex) < 1e-6, (i, fx[i], ex)
        assert abs(fy[i] - ey) < 1e-6, (i, fy[i], ey)
    # the two epochs genuinely differ (rates engaged)
    assert abs(fx[0] - fx[1]) > 100.0
    # roundtrip closes at both epochs
    bx, by, _ = op.inv(fx, fy, fz, t)
    assert np.allclose(bx, x, atol=1e-8) and np.allclose(by, y, atol=1e-8)
    # t=None falls back to the epoch parameters (reference t_obs=HUGE_VAL)
    nx, ny, _ = op.fwd(x[:1], y[:1], z[:1])
    assert abs(nx[0] - fx[0]) < 1e-9 and abs(ny[0] - fy[0]) < 1e-9
