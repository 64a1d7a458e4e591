"""Vectorized WGS84 geodesics + azimuthal-equidistant projections in NumPy.

The sandbox has no pyproj/GeographicLib, so the ellipsoidal geodesic
problems are implemented from the published Vincenty (1975) formulae,
vectorized over NumPy arrays (no per-row Python). These back the
pandas/Arrow UDFs of the Spark engine.

Semantics pinned against the reference test goldens
(/root/reference/tests/test_equi7grid.py:50-117,177-211): the PROJ AEQD
forward is ``x = x_0 + s*sin(az1)``, ``y = y_0 + s*cos(az1)`` where
``(s, az1)`` solve the geodesic *inverse* problem from the projection
center to the point; the AEQD inverse solves the geodesic *direct*
problem from the center with ``az = atan2(x-x_0, y-y_0)`` and
``s = hypot(x-x_0, y-y_0)``.

Accuracy: Vincenty is ~0.5 mm except near-antipodal pairs, far beyond
the reference gate (assert_allclose rtol 1e-7 of ~5e6 m ≈ 0.5 m).
Near-antipodal non-convergence is handled by capping iterations and
keeping the last iterate — such points lie ~20,000 km from every zone
center and are only ever touched when clipping far-outside ROI boundary
vertices, where meter-level error is immaterial.
"""

from __future__ import annotations

import numpy as np

from equi7grid_spark.constants import SYSTEMS, WGS84_A, WGS84_B, WGS84_F

_A = WGS84_A
_B = WGS84_B
_F = WGS84_F


def geodesic_inverse(
    lat1: np.ndarray | float,
    lon1: np.ndarray | float,
    lat2: np.ndarray | float,
    lon2: np.ndarray | float,
    max_iter: int = 100,
    tol: float = 1e-13,
) -> tuple[np.ndarray, np.ndarray]:
    """Vincenty inverse problem, vectorized.

    Returns ``(s, az1)``: geodesic distance in meters and forward azimuth
    at point 1 in radians (clockwise from north).
    """
    lat1 = np.asarray(lat1, dtype=np.float64)
    lon1 = np.asarray(lon1, dtype=np.float64)
    lat2 = np.asarray(lat2, dtype=np.float64)
    lon2 = np.asarray(lon2, dtype=np.float64)
    lat1, lon1, lat2, lon2 = np.broadcast_arrays(lat1, lon1, lat2, lon2)

    phi1 = np.radians(lat1)
    phi2 = np.radians(lat2)
    L = np.radians(((lon2 - lon1) + 180.0) % 360.0 - 180.0)

    U1 = np.arctan((1.0 - _F) * np.tan(phi1))
    U2 = np.arctan((1.0 - _F) * np.tan(phi2))
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)

    lam = L.copy()
    active = np.ones(lam.shape, dtype=bool)

    sin_sigma = np.zeros_like(lam)
    cos_sigma = np.ones_like(lam)
    sigma = np.zeros_like(lam)
    sin_alpha = np.zeros_like(lam)
    cos_sq_alpha = np.ones_like(lam)
    cos_2sigma_m = np.zeros_like(lam)

    for _ in range(max_iter):
        if not active.any():
            break
        sin_lam = np.sin(lam)
        cos_lam = np.cos(lam)
        t1 = cosU2 * sin_lam
        t2 = cosU1 * sinU2 - sinU1 * cosU2 * cos_lam
        ss = np.hypot(t1, t2)
        cs = sinU1 * sinU2 + cosU1 * cosU2 * cos_lam
        sig = np.arctan2(ss, cs)
        with np.errstate(divide="ignore", invalid="ignore"):
            sa = np.where(ss != 0.0, cosU1 * cosU2 * sin_lam / np.where(ss == 0.0, 1.0, ss), 0.0)
        csa = 1.0 - sa * sa
        with np.errstate(divide="ignore", invalid="ignore"):
            c2sm = np.where(csa != 0.0, cs - 2.0 * sinU1 * sinU2 / np.where(csa == 0.0, 1.0, csa), 0.0)
        C = _F / 16.0 * csa * (4.0 + _F * (4.0 - 3.0 * csa))
        lam_new = L + (1.0 - C) * _F * sa * (
            sig + C * ss * (c2sm + C * cs * (-1.0 + 2.0 * c2sm * c2sm))
        )

        upd = active
        sin_sigma = np.where(upd, ss, sin_sigma)
        cos_sigma = np.where(upd, cs, cos_sigma)
        sigma = np.where(upd, sig, sigma)
        sin_alpha = np.where(upd, sa, sin_alpha)
        cos_sq_alpha = np.where(upd, csa, cos_sq_alpha)
        cos_2sigma_m = np.where(upd, c2sm, cos_2sigma_m)
        delta = np.abs(lam_new - lam)
        lam = np.where(upd, lam_new, lam)
        active = active & (delta > tol)

    u_sq = cos_sq_alpha * (_A * _A - _B * _B) / (_B * _B)
    A_big = 1.0 + u_sq / 16384.0 * (4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq)))
    B_big = u_sq / 1024.0 * (256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq)))
    delta_sigma = B_big * sin_sigma * (
        cos_2sigma_m
        + B_big / 4.0 * (
            cos_sigma * (-1.0 + 2.0 * cos_2sigma_m**2)
            - B_big / 6.0 * cos_2sigma_m * (-3.0 + 4.0 * sin_sigma**2) * (-3.0 + 4.0 * cos_2sigma_m**2)
        )
    )
    s = _B * A_big * (sigma - delta_sigma)

    az1 = np.arctan2(cosU2 * np.sin(lam), cosU1 * sinU2 - sinU1 * cosU2 * np.cos(lam))

    # Coincident points: distance 0, azimuth 0.
    coincident = (np.abs(phi1 - phi2) < 1e-15) & (np.abs(L) < 1e-15)
    s = np.where(coincident, 0.0, s)
    az1 = np.where(coincident, 0.0, az1)
    return s, az1


def geodesic_direct(
    lat1: np.ndarray | float,
    lon1: np.ndarray | float,
    az1: np.ndarray | float,
    s: np.ndarray | float,
    max_iter: int = 100,
    tol: float = 1e-13,
) -> tuple[np.ndarray, np.ndarray]:
    """Vincenty direct problem, vectorized.

    From point 1, initial azimuth ``az1`` (radians) and distance ``s``
    (meters), returns ``(lat2, lon2)`` in degrees.
    """
    lat1 = np.asarray(lat1, dtype=np.float64)
    lon1 = np.asarray(lon1, dtype=np.float64)
    az1 = np.asarray(az1, dtype=np.float64)
    s = np.asarray(s, dtype=np.float64)
    lat1, lon1, az1, s = np.broadcast_arrays(lat1, lon1, az1, s)

    phi1 = np.radians(lat1)
    alpha1 = az1
    sin_alpha1, cos_alpha1 = np.sin(alpha1), np.cos(alpha1)

    tanU1 = (1.0 - _F) * np.tan(phi1)
    cosU1 = 1.0 / np.sqrt(1.0 + tanU1 * tanU1)
    sinU1 = tanU1 * cosU1

    sigma1 = np.arctan2(tanU1, cos_alpha1)
    sin_alpha = cosU1 * sin_alpha1
    cos_sq_alpha = 1.0 - sin_alpha * sin_alpha
    u_sq = cos_sq_alpha * (_A * _A - _B * _B) / (_B * _B)
    A_big = 1.0 + u_sq / 16384.0 * (4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq)))
    B_big = u_sq / 1024.0 * (256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq)))

    sigma = s / (_B * A_big)
    sigma_prev = np.full_like(sigma, np.inf)
    cos_2sigma_m = np.cos(2.0 * sigma1 + sigma)
    sin_sigma = np.sin(sigma)
    cos_sigma = np.cos(sigma)
    for _ in range(max_iter):
        cos_2sigma_m = np.cos(2.0 * sigma1 + sigma)
        sin_sigma = np.sin(sigma)
        cos_sigma = np.cos(sigma)
        delta_sigma = B_big * sin_sigma * (
            cos_2sigma_m
            + B_big / 4.0 * (
                cos_sigma * (-1.0 + 2.0 * cos_2sigma_m**2)
                - B_big / 6.0 * cos_2sigma_m * (-3.0 + 4.0 * sin_sigma**2) * (-3.0 + 4.0 * cos_2sigma_m**2)
            )
        )
        sigma_prev = sigma
        sigma = s / (_B * A_big) + delta_sigma
        # initial=0.0: an empty batch converges at once
        if np.max(np.abs(sigma - sigma_prev), initial=0.0) < tol:
            break
    cos_2sigma_m = np.cos(2.0 * sigma1 + sigma)
    sin_sigma = np.sin(sigma)
    cos_sigma = np.cos(sigma)

    tmp = sinU1 * sin_sigma - cosU1 * cos_sigma * cos_alpha1
    phi2 = np.arctan2(
        sinU1 * cos_sigma + cosU1 * sin_sigma * cos_alpha1,
        (1.0 - _F) * np.hypot(sin_alpha, tmp),
    )
    lam = np.arctan2(
        sin_sigma * sin_alpha1,
        cosU1 * cos_sigma - sinU1 * sin_sigma * cos_alpha1,
    )
    C = _F / 16.0 * cos_sq_alpha * (4.0 + _F * (4.0 - 3.0 * cos_sq_alpha))
    L = lam - (1.0 - C) * _F * sin_alpha * (
        sigma + C * sin_sigma * (cos_2sigma_m + C * cos_sigma * (-1.0 + 2.0 * cos_2sigma_m**2))
    )
    lon2 = (lon1 + np.degrees(L) + 180.0) % 360.0 - 180.0
    lat2 = np.degrees(phi2)
    return lat2, lon2


def aeqd_forward(
    subgrid: str, lon: np.ndarray | float, lat: np.ndarray | float
) -> tuple[np.ndarray, np.ndarray]:
    """AEQD forward projection for one continental system.

    Reference semantics: lonlat_to_xy (tests/test_equi7grid.py:59-99).
    """
    sysd = SYSTEMS[subgrid]
    s, az1 = geodesic_inverse(sysd.lat_0, sysd.lon_0, lat, lon)
    x = sysd.x_0 + s * np.sin(az1)
    y = sysd.y_0 + s * np.cos(az1)
    return np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64)


def aeqd_inverse(
    subgrid: str, x: np.ndarray | float, y: np.ndarray | float
) -> tuple[np.ndarray, np.ndarray]:
    """AEQD inverse projection (xy_to_lonlat, tests/test_equi7grid.py:50-56)."""
    sysd = SYSTEMS[subgrid]
    dx = np.asarray(x, dtype=np.float64) - sysd.x_0
    dy = np.asarray(y, dtype=np.float64) - sysd.y_0
    s = np.hypot(dx, dy)
    az = np.arctan2(dx, dy)
    lat, lon = geodesic_direct(sysd.lat_0, sysd.lon_0, az, s)
    # At the center itself the azimuth is undefined; direct returns the
    # center, which is correct.
    return np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64)


def length_distortion_planar(
    subgrid: str, x: np.ndarray | float, y: np.ndarray | float
) -> np.ndarray:
    """Planar length distortion k = d/a/sin(d/a) (reference core.py:292-324)."""
    sysd = SYSTEMS[subgrid]
    d = np.hypot(np.asarray(x, np.float64) - sysd.x_0, np.asarray(y, np.float64) - sysd.y_0)
    with np.errstate(divide="ignore", invalid="ignore"):
        k = np.where(d == 0.0, 1.0, d / _A / np.sin(d / _A))
    return np.asarray(k, dtype=np.float64)


def length_distortion_ellipsoid(
    subgrid: str, lon: np.ndarray | float, lat: np.ndarray | float
) -> np.ndarray:
    """Ellipsoidal length distortion (reference core.py:416-452)."""
    sysd = SYSTEMS[subgrid]
    s, _ = geodesic_inverse(sysd.lat_0, sysd.lon_0, lat, lon)
    with np.errstate(divide="ignore", invalid="ignore"):
        k = np.where(s == 0.0, 1.0, s / _A / np.sin(s / _A))
    return np.asarray(k, dtype=np.float64)
