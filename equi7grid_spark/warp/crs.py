"""Source-CRS transforms for the warp path (NumPy, no PROJ offline).

Supported source CRSs mirror the reference's warp test coverage
(reference tests/test_warp.py:43-124): EPSG:4326 (lon/lat) and
EPSG:3857 (spherical web mercator, public formulas), plus the seven
Equi7 AEQD systems (EPSG:27701-27707) via the engine's own geodesy.
"""

from __future__ import annotations

import numpy as np

from equi7grid_spark.geodesy import aeqd_forward, aeqd_inverse

_WM_R = 6378137.0  # web mercator sphere radius

_EPSG_TO_SUBGRID = {27700 + i: cc for i, cc in enumerate(
    ["AF", "AN", "AS", "EU", "NA", "OC", "SA"], start=1
)}


def _norm(crs: str | int) -> int:
    if isinstance(crs, int):
        return crs
    s = str(crs).upper().replace("EPSG:", "")
    return int(s)


def crs_forward(crs: str | int, lon: np.ndarray, lat: np.ndarray):
    """lon/lat degrees → CRS coordinates."""
    code = _norm(crs)
    lon = np.asarray(lon, np.float64)
    lat = np.asarray(lat, np.float64)
    if code == 4326:
        return lon, lat
    if code == 3857:
        x = _WM_R * np.radians(lon)
        y = _WM_R * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))
        return x, y
    if code in _EPSG_TO_SUBGRID:
        return aeqd_forward(_EPSG_TO_SUBGRID[code], lon, lat)
    raise ValueError(f"unsupported CRS {crs!r}")


def crs_inverse(crs: str | int, x: np.ndarray, y: np.ndarray):
    """CRS coordinates → lon/lat degrees."""
    code = _norm(crs)
    x = np.asarray(x, np.float64)
    y = np.asarray(y, np.float64)
    if code == 4326:
        return x, y
    if code == 3857:
        lon = np.degrees(x / _WM_R)
        lat = np.degrees(2.0 * np.arctan(np.exp(y / _WM_R)) - np.pi / 2.0)
        return lon, lat
    if code in _EPSG_TO_SUBGRID:
        return aeqd_inverse(_EPSG_TO_SUBGRID[code], x, y)
    raise ValueError(f"unsupported CRS {crs!r}")
