"""functions/geodesy_sql: the DuckDB-SQL Vincenty mirror must agree
with the independent NumPy kernel (geodesy.aeqd_forward, iterated to
tol=1e-13) to better than the documented convergence floor — a direct
numerical check of the oracle arithmetic, independent of the
count-level driver gate."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from equi7grid_spark.constants import DEFAULT_SYSTEM_ORDER
from equi7grid_spark.functions.geodesy_sql import (
    aeqd_forward_sql,
    cell_id_sql,
    decided_digit_string,
)
from equi7grid_spark.geodesy import aeqd_forward
from equi7grid_spark.zones import PF_NY, decided_cell_codes

# one interior sample box per zone (inside the zone, away from edges)
ZONE_BOXES = {
    "EU": (5.0, 45.0, 25.0, 55.0),
    "AF": (10.0, -10.0, 30.0, 10.0),
    "AS": (80.0, 30.0, 110.0, 50.0),
    "NA": (-110.0, 35.0, -85.0, 48.0),
    "SA": (-65.0, -25.0, -50.0, -10.0),
    "OC": (125.0, -30.0, 145.0, -18.0),
    "AN": (-60.0, -82.0, 60.0, -75.0),
}


@pytest.mark.parametrize("cc", sorted(ZONE_BOXES))
def test_sql_vincenty_matches_numpy_kernel(cc):
    rng = np.random.default_rng(42)
    lo_x, lo_y, hi_x, hi_y = ZONE_BOXES[cc]
    lon = rng.uniform(lo_x, hi_x, 200)
    lat = rng.uniform(lo_y, hi_y, 200)
    zc = DEFAULT_SYSTEM_ORDER.index(cc)

    con = duckdb.connect()
    con.execute("CREATE TABLE pts (zc TINYINT, lon DOUBLE, lat DOUBLE)")
    con.executemany(
        "INSERT INTO pts VALUES (?, ?, ?)",
        [(zc, float(a), float(b)) for a, b in zip(lon, lat)],
    )
    sql = aeqd_forward_sql("pts", carry=("zc", "lon")) + " ORDER BY lon"
    got = con.execute(sql).fetchnumpy()

    order = np.argsort(lon)
    ex, ey = aeqd_forward(cc, lon[order], lat[order])
    # 6-round unroll convergence floor is <1e-6 m (geodesy_sql
    # docstring); allow the same here, cross-engine libm included
    assert np.abs(got["x"] - ex).max() < 1e-6
    assert np.abs(got["y"] - ey).max() < 1e-6


@pytest.mark.parametrize("cc", sorted(ZONE_BOXES))
def test_sql_inverse_matches_numpy_kernel(cc):
    """Round-4: the DIRECT-problem mirror (aeqd_inverse_sql) vs the
    converged NumPy inverse, through a NumPy forward projection."""
    from equi7grid_spark.functions.geodesy_sql import aeqd_inverse_sql
    from equi7grid_spark.geodesy import aeqd_inverse

    rng = np.random.default_rng(7)
    lo_x, lo_y, hi_x, hi_y = ZONE_BOXES[cc]
    lon = rng.uniform(lo_x, hi_x, 200)
    lat = rng.uniform(lo_y, hi_y, 200)
    zc = DEFAULT_SYSTEM_ORDER.index(cc)
    x, y = aeqd_forward(cc, lon, lat)

    con = duckdb.connect()
    con.execute("CREATE TABLE pxy (zc TINYINT, x DOUBLE, y DOUBLE)")
    con.executemany(
        "INSERT INTO pxy VALUES (?, ?, ?)",
        [(zc, float(a), float(b)) for a, b in zip(x, y)],
    )
    sql = aeqd_inverse_sql("pxy", carry=("zc", "x")) + " ORDER BY x"
    got = con.execute(sql).fetchnumpy()
    order = np.argsort(x)
    elon, elat = aeqd_inverse(cc, x[order], y[order])
    dlon = np.abs(got["lon"] - elon)
    assert np.minimum(dlon, 360.0 - dlon).max() < 1e-9
    assert np.abs(got["lat"] - elat).max() < 1e-9
    # and the roundtrip closes on the original coordinates
    rlon = np.abs(got["lon"] - lon[order])
    assert np.minimum(rlon, 360.0 - rlon).max() < 1e-9
    assert np.abs(got["lat"] - lat[order]).max() < 1e-9


def test_decided_digit_string_mirrors_cell_codes():
    digits = decided_digit_string()
    codes = decided_cell_codes().ravel()  # [PF_NX, PF_NY] raveled = cell_id order
    assert len(digits) == codes.size
    lut = {-1: "7", -2: "8"}
    sample = np.random.default_rng(1).integers(0, codes.size, 2000)
    for i in sample:
        expect = lut.get(int(codes[i]), str(int(codes[i])))
        assert digits[i] == expect


def test_cell_id_sql_matches_python_formula():
    con = duckdb.connect()
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-89.9, 89.9, 500)
    con.execute("CREATE TABLE p (lon DOUBLE, lat DOUBLE)")
    con.executemany("INSERT INTO p VALUES (?, ?)", [(float(a), float(b)) for a, b in zip(lon, lat)])
    got = con.execute(f"SELECT {cell_id_sql()} FROM p").fetchnumpy()
    key = list(got)[0]
    ix = np.clip(np.floor(lon + 180.0), 0, 359).astype(int)
    iy = np.clip(np.floor(lat + 90.0), 0, 179).astype(int)
    assert (got[key] == ix * PF_NY + iy).all()
