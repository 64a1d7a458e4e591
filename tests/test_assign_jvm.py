"""Kernel assign vs the NumPy golden: the compiled zone resolve +
Vincenty + keying must reproduce zones.assign_primary_zone_code +
geodesy.aeqd_forward + floor keying exactly (same zones, tiles, rows
and cols; x/y to 1e-6 m), and the NumPy AEQD forward/inverse to
float64 round-off."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from equi7grid_spark.constants import DEFAULT_SYSTEM_ORDER, TILING_ID_TO_SIZE
from equi7grid_spark.geodesy import aeqd_forward
from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm, tile_counts_jvm
from equi7grid_spark.tile import Tile
from equi7grid_spark.zones import assign_primary_zone_code, decided_cell_codes


def _golden(lon, lat, tiling_id="T6", sampling=500.0) -> pd.DataFrame:
    """Driver-side NumPy assign of the in-zone points (index = position
    in lon/lat): zones.assign_primary_zone_code, geodesy.aeqd_forward,
    then the floor keying of Tile.from_xy and Tile.xy2rc's pixel
    formula -- the reference path layerbench/inputs.py benchmarks
    against."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    zc = assign_primary_zone_code(lon, lat)
    idx = np.flatnonzero(zc >= 0)
    zc, lon, lat = zc[idx], lon[idx], lat[idx]
    x = np.empty(idx.size)
    y = np.empty(idx.size)
    for code in np.unique(zc):
        m = zc == code
        x[m], y[m] = aeqd_forward(DEFAULT_SYSTEM_ORDER[code], lon[m], lat[m])
    ts = float(TILING_ID_TO_SIZE[tiling_id])
    ll_x = np.floor(x / ts) * ts
    ll_y = np.floor(y / ts) * ts
    sub = np.array(DEFAULT_SYSTEM_ORDER, dtype=object)[zc]
    return pd.DataFrame(
        {
            "subgrid": sub,
            "tilename": [
                Tile(s, tiling_id, a, b).name for s, a, b in zip(sub, ll_x, ll_y)
            ],
            "x": x,
            "y": y,
            "ll_x": ll_x,
            "ll_y": ll_y,
            "row": np.floor((ll_y + ts - y) / sampling).astype("int32"),
            "col": np.floor((x - ll_x) / sampling).astype("int32"),
        },
        index=idx,
    )


def _golden_counts(lon, lat, tiling_id) -> pd.DataFrame:
    g = _golden(lon, lat, tiling_id)
    return (
        g.groupby(["subgrid", "tilename", "ll_x", "ll_y"])
        .size()
        .rename("n")
        .reset_index()
        .sort_values("tilename", ignore_index=True)
    )


def _check_counts(sdf, tiling_id="T6"):
    pdf = sdf.select("lon", "lat").toPandas()
    got = (
        tile_counts_jvm(sdf, tiling_id=tiling_id)
        .orderBy("tilename")
        .toPandas()
    )
    want = _golden_counts(pdf["lon"], pdf["lat"], tiling_id)
    assert got["n"].sum() == len(pdf)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def _inzone_grid(step=1.5):
    """Dense global grid with per-point primary zone, in-zone only."""
    lon = np.arange(-179.75, 180.0, step)
    lat = np.arange(-89.75, 90.0, step)
    LO, LA = np.meshgrid(lon, lat)
    lo, la = LO.ravel(), LA.ravel()
    zc = assign_primary_zone_code(lo, la)
    m = zc >= 0
    return lo[m], la[m], zc[m]


def test_cell_map_decided_agrees_with_exact(spark):
    """Every decided cell's code must equal the exact kernel's answer
    for points sampled inside the cell (4 interior samples/cell)."""
    codes = decided_cell_codes()  # [360, 180]
    ix, iy = np.nonzero(codes >= 0)
    for fx, fy in [(0.25, 0.25), (0.75, 0.25), (0.25, 0.75), (0.75, 0.75)]:
        lo = ix - 180.0 + fx
        la = iy - 90.0 + fy
        exact = assign_primary_zone_code(lo, la)
        assert (exact == codes[ix, iy]).all()


def _points(spark, sf_dir):
    from equi7grid_spark.queries import _derived_lonlat

    return _derived_lonlat(spark, sf_dir)


@pytest.mark.parametrize("tiling_id", ["T6", "T3"])
def test_tile_counts_jvm_equals_pandas_path(spark, sf_dir, tiling_id):
    """Per-tile counts equal the NumPy golden's on the sf points."""
    _check_counts(_points(spark, sf_dir), tiling_id)


def test_tile_counts_jvm_boundary_heavy(spark):
    """Grid that oversamples prefilter-boundary cells (the kernel's
    exact parity resolve) — counts must still match the NumPy golden."""
    ix, iy = (a[:400] for a in np.nonzero(decided_cell_codes() == -2))
    pts = []
    for fx in (0.1, 0.5, 0.9):
        for fy in (0.1, 0.5, 0.9):
            pts.append(np.stack([ix - 180.0 + fx, iy - 90.0 + fy], axis=1))
    arr = np.concatenate(pts)
    pdf = pd.DataFrame({"lon": arr[:, 0], "lat": arr[:, 1]})
    _check_counts(spark.createDataFrame(pdf))


def _check_rows(got: pd.DataFrame, want: pd.DataFrame):
    """Kernel rows vs golden rows, aligned on the index: exact zone,
    tile, row and col; x/y within 1e-6 m."""
    exact = ["subgrid", "tilename", "row", "col"]
    pd.testing.assert_frame_equal(
        got[exact], want[exact],
        check_dtype=False, check_index_type=False, check_names=False,
    )
    np.testing.assert_allclose(got["x"], want["x"], rtol=0, atol=1e-6)
    np.testing.assert_allclose(got["y"], want["y"], rtol=0, atol=1e-6)


def test_assign_tiles_jvm_equals_pandas_path(spark, sf_dir):
    """Row-level assign equals the NumPy golden on every sf point."""
    df = _points(spark, sf_dir)
    got = (
        assign_tiles_jvm(df, sampling=500.0)
        .orderBy("pt_id")
        .toPandas()
        .set_index("pt_id")
    )
    pts = df.orderBy("pt_id").toPandas()
    want = _golden(pts["lon"], pts["lat"]).set_axis(pts["pt_id"].to_numpy())
    assert len(got) == len(want) == len(pts)
    _check_rows(got, want.loc[got.index])


def test_kernel_xy_matches_numpy(spark):
    from equi7grid_spark.operators import kernel

    kernel.require_kernel(spark, "this test")
    lo, la, zc = _inzone_grid(step=3.5)
    pdf = pd.DataFrame({"lon": lo, "lat": la, "zc": zc.astype("int8")})
    out = (
        spark.createDataFrame(pdf)
        .select("zc", "lon", "lat", kernel.xy_col(F.col("zc"), F.col("lon"), F.col("lat")).alias("xy"))
        .toPandas()
    )
    xs = np.empty(len(out))
    ys = np.empty(len(out))
    for code in np.unique(out["zc"]):
        m = (out["zc"] == code).to_numpy()
        cc = DEFAULT_SYSTEM_ORDER[code]
        xs[m], ys[m] = aeqd_forward(cc, out["lon"].to_numpy()[m], out["lat"].to_numpy()[m])
    gx = np.array([v[0] for v in out["xy"]])
    gy = np.array([v[1] for v in out["xy"]])
    assert np.abs(gx - xs).max() < 1e-8 and np.abs(gy - ys).max() < 1e-8


def test_kernel_lonlat_matches_numpy(spark):
    """Compiled AEQD inverse (equi7_lonlat) vs the converged NumPy
    direct kernel, plus roundtrip closure on the original lonlat."""
    from equi7grid_spark.geodesy import aeqd_inverse
    from equi7grid_spark.operators import kernel

    kernel.require_kernel(spark, "this test")
    lo, la, zc = _inzone_grid(step=3.5)
    xs = np.empty(lo.size)
    ys = np.empty(lo.size)
    for code in np.unique(zc):
        m = zc == code
        xs[m], ys[m] = aeqd_forward(DEFAULT_SYSTEM_ORDER[code], lo[m], la[m])
    pdf = pd.DataFrame(
        {"i": np.arange(lo.size), "zc": zc.astype("int8"), "x": xs, "y": ys}
    )
    out = (
        spark.createDataFrame(pdf)
        .select(
            "i", "zc", "x", "y",
            kernel.lonlat_col(F.col("zc"), F.col("x"), F.col("y")).alias("ll"),
        )
        .orderBy("i")
        .toPandas()
    )
    eln = np.empty(len(out))
    elt = np.empty(len(out))
    oz = out["zc"].to_numpy()
    for code in np.unique(oz):
        m = oz == code
        eln[m], elt[m] = aeqd_inverse(
            DEFAULT_SYSTEM_ORDER[code],
            out["x"].to_numpy()[m],
            out["y"].to_numpy()[m],
        )
    glon = np.array([v[0] for v in out["ll"]])
    glat = np.array([v[1] for v in out["ll"]])
    dlon = np.abs(glon - eln)
    assert np.minimum(dlon, 360.0 - dlon).max() < 1e-11
    assert np.abs(glat - elt).max() < 1e-11
    # roundtrip closure on the ORIGINAL lonlat (rows aligned via the
    # explicit index) — catches a convention drift shared by the Java
    # and NumPy direct kernels
    rl = np.abs(glon - lo)
    assert np.minimum(rl, 360.0 - rl).max() < 1e-9
    assert np.abs(glat - la).max() < 1e-9


def test_kernel_boundary_resolve_matches_numpy_every_cell(spark):
    """Round-4 insurance gate (verdict #5): the jar's baked-in zone
    resolver + Vincenty must agree with the NumPy path on zone AND T6
    tile assignment for seeded points in EVERY one of the 2,701
    prefilter-boundary cells — exactly the cells the decided-subset
    oracles used to skip."""
    from equi7grid_spark.operators import kernel
    from equi7grid_spark.zones_pip import boundary_cands, resolve_numpy

    kernel.require_kernel(spark, "this test")
    cells = np.repeat(
        np.array([c["cell_id"] for c in boundary_cands()]), 4
    )
    rng = np.random.default_rng(31)
    lon = (cells // 180) - 180.0 + rng.random(cells.size)
    lat = (cells % 180) - 90.0 + rng.random(cells.size)
    pdf = pd.DataFrame({"i": np.arange(cells.size), "lon": lon, "lat": lat})
    out = (
        spark.createDataFrame(pdf)
        .select(
            "i",
            kernel.zone_tile_key_col(F.col("lon"), F.col("lat"), 600000.0).alias("k"),
        )
        .orderBy("i")
        .toPandas()
    )
    k = out["k"].to_numpy(dtype="float64")  # NaN where null (out of zone)
    got_zc = np.where(np.isnan(k), -1, np.floor_divide(k, 1 << 28)).astype("int64")
    exp_zc = resolve_numpy(lon, lat)
    np.testing.assert_array_equal(got_zc, exp_zc)
    # tile floors vs the NumPy Vincenty on the in-zone rows
    m = exp_zc >= 0
    ki = out["k"].to_numpy()[m].astype("int64")
    got_tx = ((ki >> 14) & 16383) - 8192
    got_ty = (ki & 16383) - 8192
    exp_tx = np.empty(m.sum(), dtype="int64")
    exp_ty = np.empty(m.sum(), dtype="int64")
    for code in np.unique(exp_zc[m]):
        mm = exp_zc[m] == code
        x, y = aeqd_forward(DEFAULT_SYSTEM_ORDER[code], lon[m][mm], lat[m][mm])
        exp_tx[mm] = np.floor(x / 600000.0).astype("int64")
        exp_ty[mm] = np.floor(y / 600000.0).astype("int64")
    np.testing.assert_array_equal(got_tx, exp_tx)
    np.testing.assert_array_equal(got_ty, exp_ty)


def test_assign_tiles_jvm_keeps_all_rows_when_not_dropping(spark):
    """The std zones partition the globe (decided_cell_codes has no -1
    cells), so drop_out_of_zone=False must simply preserve row count and
    agree with the NumPy golden on every row."""
    pdf = pd.DataFrame(
        {"lon": [5.0, -140.0, 170.0, -30.0], "lat": [47.0, 0.0, -85.0, 65.0]}
    )
    got = (
        assign_tiles_jvm(
            spark.createDataFrame(pdf.reset_index()), sampling=500.0, drop_out_of_zone=False
        )
        .toPandas()
        .set_index("index")
        .sort_index()
    )
    want = _golden(pdf["lon"], pdf["lat"])
    assert len(got) == len(want) == 4
    _check_rows(got, want)


def test_assign_tiles_jvm_hostile_lonlat(spark):
    """Null, NaN and ±inf lon/lat are out of every zone: dropped under
    drop_out_of_zone=True, kept under False with null subgrid, x, y,
    tilename, ll_x, ll_y, row and col — never a tile at the origin,
    and never a failed job."""
    nan, inf = float("nan"), float("inf")
    good = [(0, 5.0, 47.0), (1, -140.0, 0.0), (2, 170.0, -85.0)]
    bad = [
        (10, None, 10.0), (11, 10.0, None), (12, None, None),
        (13, nan, 10.0), (14, 10.0, nan),
        (15, inf, 10.0), (16, -inf, 10.0), (17, 10.0, inf), (18, 10.0, -inf),
    ]
    sdf = spark.createDataFrame(good + bad, "id int, lon double, lat double")
    ids, lon, lat = zip(*good)
    ref = _golden(lon, lat).set_axis(list(ids))
    cols = ("subgrid", "x", "y", "tilename", "ll_x", "ll_y", "row", "col")

    kept = assign_tiles_jvm(sdf).collect()
    assert sorted(r.id for r in kept) == sorted(ref.index)
    for r in kept:
        assert (r.subgrid, r.tilename) == (ref.subgrid[r.id], ref.tilename[r.id])

    every = assign_tiles_jvm(sdf, sampling=500.0, drop_out_of_zone=False).toPandas().set_index("id")
    assert sorted(every.index) == sorted(i for i, _, _ in good + bad)
    for i, _, _ in bad:
        assert every.loc[i, list(cols)].isna().all(), every.loc[i]
    _check_rows(every.loc[ref.index], ref)


def test_tile_counts_jvm_hostile_lonlat(spark):
    """The bulk kernel path (equi7_zone_tile_key) drops null, NaN and
    ±inf lon/lat rows instead of failing the job or counting them in a
    garbage tile: the counts equal those of the good rows alone."""
    nan, inf = float("nan"), float("inf")
    good = [(5.0, 47.0), (-140.0, 0.0), (170.0, -85.0), (5.0, 47.0)]
    bad = [(None, 10.0), (10.0, None), (nan, 10.0), (10.0, nan), (inf, 10.0), (10.0, -inf)]
    schema = "lon double, lat double"

    def counts(rows):
        df = tile_counts_jvm(spark.createDataFrame(rows, schema))
        return sorted((r.tilename, r.n) for r in df.collect())

    assert counts(good + bad) == counts(good)
    assert sum(n for _, n in counts(good)) == len(good)
