"""Raster → Equi7 tile resampling (the reference's warp.py, Spark-first).

Semantics follow reference resample_to_equi7_tiles / resample_tile
(reference warp.py:205-330,424-578): select the tiles overlapping the
raster footprint, then for each (tile, image) pair build the target
tile grid from the tile geotransform and inverse-warp — a target
pixel center maps tile-xy → lon/lat (geodesic direct) → source CRS →
source pixel, gathered with a nearest or nodata-aware bilinear kernel.
The reference's `mp.Pool` over tiles (warp.py:568-576) becomes Spark
tasks: each (image, tile) output row is independent. A plan
`mapInPandas` emits one row per overlapping (image, tile) pair, one
repartition spreads the pairs over the session's parallelism (so a
large raster does not warp in a single task), and a warp `mapInPandas`
resamples each pair.

Only the pixels a raster can reach are projected. The plan pass gives
each pair a target pixel window (target_window, four int columns of
the plan row) outside which no pixel passes the warp's in-bounds test
(_in_bounds, the one predicate of the window search and the gather);
the warp pass projects and gathers the window and fills the rest of
the tile with nodata, computing each pixel center from its absolute
row and col as a whole-tile warp does. A pair whose window is empty
still emits its all-nodata tile (n_valid 0), so the output tile set
does not depend on the windows. That a windowed tile equals the
whole-tile warp byte for byte is measured, not built in:
geodesy.geodesic_direct iterates a batch until its slowest point
converges, so a pixel's lon/lat can differ in the last bits between a
window and the whole tile, and a value within an ULP of a rounding or
in-bounds threshold could then land differently.

Raster rows carry explicit georeferencing columns (the engine's
equivalent of the GeoTIFF header): crs, x_min, y_min, x_max, y_max,
nodata, dtype; pixels in `bytes` (fmt raw/png/q8, warp/codecs.py).
Both passes decode with codecs.decode_batch; a raster it cannot
decode (null bytes or fmt, a corrupt payload) plans no tiles and so
emits no rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from equi7grid_spark.constants import GridConfig, TILING_ID_TO_SIZE
from equi7grid_spark.geodesy import aeqd_forward, aeqd_inverse
from equi7grid_spark.roi import TileRecord, get_tiles_in_geog_bbox
from equi7grid_spark.warp.codecs import decode_batch, encode
from equi7grid_spark.warp.crs import crs_forward, crs_inverse

OUTPUT_SCHEMA = (
    "image_id string, subgrid string, tilename string, out_name string, "
    "bytes binary, w int, h int, fmt string, dtype string, nodata double, "
    "ll_x double, ll_y double, sampling double, n_valid long"
)


def default_naming(image_id: str, tilename: str) -> str:
    """Output naming `{stem}_{ftilename}` (reference
    get_default_e7_filename / naming_traffo hook, warp.py:185-201,
    243-248); override via `naming_fn`."""
    return f"{image_id}_{tilename}"


def raster_geog_bbox(
    crs: str | int,
    extent: tuple[float, float, float, float],
    *,
    arr: np.ndarray | None = None,
    nodata: float | None = None,
    accurate_boundary: bool = False,
    densify_n: int = 64,
) -> tuple[float, float, float, float]:
    """Geographic bbox of a raster footprint.

    With ``accurate_boundary`` the extent is first shrunk to the bbox of
    non-nodata pixels dilated by one pixel (simplified from the
    reference's downsample→dilate×3→polygonize, warp.py:79-156 — the
    boundary is only used to *select* tiles, and a bbox of the valid
    mask selects the same tiles for all reference-golden cases).
    """
    x_min, y_min, x_max, y_max = extent
    if accurate_boundary and arr is not None and nodata is not None:
        valid = arr != nodata
        if not valid.all() and valid.any():
            # bbox of the 3x-dilated coarse valid mask — the same region
            # the accurate tile filter intersects against, so the
            # candidate bbox is a true superset of the selected tiles
            mask, f = _coarse_valid_mask(arr, nodata)
            rows = np.flatnonzero(mask.any(axis=1))
            cols = np.flatnonzero(mask.any(axis=0))
            h, w = arr.shape
            sx = (x_max - x_min) / w
            sy = (y_max - y_min) / h
            r1 = min(h, (rows[-1] + 1) * f)
            r0 = min(rows[0] * f, h)
            c0 = min(cols[0] * f, w)
            c1 = min(w, (cols[-1] + 1) * f)
            x_min, x_max = x_min + c0 * sx, x_min + c1 * sx
            y_min, y_max = y_max - r1 * sy, y_max - r0 * sy
    # densified boundary ring → lon/lat → bbox
    lon, lat = crs_inverse(crs, *_footprint_ring((x_min, y_min, x_max, y_max), densify_n))
    return float(lon.min()), float(lat.min()), float(lon.max()), float(lat.max())


def _footprint_ring(
    extent: tuple[float, float, float, float], densify_n: int
) -> tuple[np.ndarray, np.ndarray]:
    """The boundary of an extent as 4 * densify_n points (x, y),
    counter-clockwise from (x_min, y_min)."""
    x_min, y_min, x_max, y_max = extent
    t = np.linspace(0.0, 1.0, densify_n)
    bx = np.concatenate([
        x_min + t * (x_max - x_min), np.full_like(t, x_max),
        x_max - t * (x_max - x_min), np.full_like(t, x_min),
    ])
    by = np.concatenate([
        np.full_like(t, y_min), y_min + t * (y_max - y_min),
        np.full_like(t, y_max), y_max - t * (y_max - y_min),
    ])
    return bx, by


def _dilate8(mask: np.ndarray, iterations: int = 3) -> np.ndarray:
    """Binary dilation with the 8-connected structuring element
    (reference warp.py:137-141), via shifted ORs."""
    out = mask.copy()
    for _ in range(iterations):
        m = out.copy()
        out[1:, :] |= m[:-1, :]
        out[:-1, :] |= m[1:, :]
        out[:, 1:] |= m[:, :-1]
        out[:, :-1] |= m[:, 1:]
        out[1:, 1:] |= m[:-1, :-1]
        out[1:, :-1] |= m[:-1, 1:]
        out[:-1, 1:] |= m[1:, :-1]
        out[:-1, :-1] |= m[1:, 1:]
    return out


def _coarse_valid_mask(
    arr: np.ndarray, nodata: float, max_dim: int = 400
) -> tuple[np.ndarray, int]:
    """Downsampled (~max_dim, reference warp.py:94) valid-data mask,
    dilated 3x 8-connected: block-any of `arr != nodata`."""
    h, w = arr.shape
    f = max(1, int(np.ceil(max(h, w) / max_dim)))
    ph, pw = (-h) % f, (-w) % f
    valid = arr != nodata
    if ph or pw:
        valid = np.pad(valid, ((0, ph), (0, pw)))
    coarse = valid.reshape(valid.shape[0] // f, f, valid.shape[1] // f, f).any(axis=(1, 3))
    return _dilate8(coarse, 3), f


def _tile_ring_in_mask_coords(
    t: TileRecord,
    factor: int,
    src_crs: str | int,
    src_extent: tuple[float, float, float, float],
    arr_shape: tuple[int, int],
    n_edge: int = 64,
) -> np.ndarray:
    """The tile footprint boundary as a closed ring of 4 * n_edge
    reprojected vertices in coarse-mask cell coordinates (col, row)."""
    ts = t.tile_size
    e = np.linspace(0.0, ts, n_edge)
    bx = np.concatenate([t.ll_x + e, np.full_like(e, t.ll_x + ts), t.ll_x + ts - e, np.full_like(e, t.ll_x)])
    by = np.concatenate([np.full_like(e, t.ll_y), t.ll_y + e, np.full_like(e, t.ll_y + ts), t.ll_y + ts - e])
    lon, lat = aeqd_inverse(t.subgrid, bx, by)
    sx, sy = crs_forward(src_crs, lon, lat)
    x_min, y_min, x_max, y_max = src_extent
    h, w = arr_shape
    res_x = (x_max - x_min) / w
    res_y = (y_max - y_min) / h
    cx = (sx - x_min) / (res_x * factor)
    cy = (y_max - sy) / (res_y * factor)
    ring = np.column_stack([cx, cy])
    return np.vstack([ring, ring[:1]])


def _tile_intersects_mask(
    t: TileRecord,
    mask: np.ndarray,
    factor: int,
    src_crs: str | int,
    src_extent: tuple[float, float, float, float],
    arr_shape: tuple[int, int],
) -> bool:
    """EXACT tile ∩ dilated-coarse-mask test (reference accurate
    boundary, warp.py:79-156): the reference polygonizes the dilated
    mask and intersects tiles with the polygons — but that polygon IS
    the union of the mask's true cells, so tile ∩ polygon ≠ ∅ iff
    (a) the tile boundary crosses a true cell,
    (b) the tile center lies in a true cell (tile inside the region), or
    (c) some true cell's center lies inside the tile (region inside
        the tile).
    (a) uses the engine's exact segment/grid-cell marking
    (geom.boundary_cells) on the reprojected footprint densified to
    half a cell, so the polyline cannot skip cells;
    (b)/(c) are point-in-cell / point-in-ring tests. No sampling."""
    from equi7grid_spark.geom import boundary_cells, densify_ring, points_in_rings

    coarse = _tile_ring_in_mask_coords(t, factor, src_crs, src_extent, arr_shape)
    ring = densify_ring(coarse, 0.5)
    nr, nc = mask.shape
    # (a) cells crossed by the footprint boundary
    bx, by = boundary_cells([ring], 1.0, (0.0, 0.0))
    inb = (by >= 0) & (by < nr) & (bx >= 0) & (bx < nc)
    if inb.any() and mask[by[inb], bx[inb]].any():
        return True
    # (b) tile interior covers the cell under its center
    cxy = ring[:-1].mean(axis=0)
    ci, ri = int(np.floor(cxy[0])), int(np.floor(cxy[1]))
    if 0 <= ri < nr and 0 <= ci < nc and mask[ri, ci]:
        return True
    # (c) mask region strictly inside the tile: test true-cell centers
    # (bbox rejection first — the common disjoint case must stay cheap)
    rr, cc = np.nonzero(mask)
    if rr.size:
        bb = ring.min(axis=0), ring.max(axis=0)
        m = (
            (cc + 0.5 >= bb[0][0]) & (cc + 0.5 <= bb[1][0])
            & (rr + 0.5 >= bb[0][1]) & (rr + 0.5 <= bb[1][1])
        )
        if not m.any():
            return False
        # the un-densified ring is the same polygon with ~40x fewer
        # edges; no center tested here lies on its boundary, because
        # (a) found every true cell uncrossed
        inside = points_in_rings(cc[m] + 0.5, rr[m] + 0.5, [coarse])
        return bool(inside.any())
    return False


def overlapping_tiles(
    crs: str | int,
    extent: tuple[float, float, float, float],
    tiling_id: str,
    *,
    grid: GridConfig | None = None,
    cover_land: bool = False,
    arr: np.ndarray | None = None,
    nodata: float | None = None,
    accurate_boundary: bool = False,
) -> list[TileRecord]:
    """Tiles overlapping a raster footprint (reference
    get_overlapping_tiles, warp.py:333-401).

    With ``accurate_boundary`` and pixel data available, candidates
    from the dilated-valid-mask bbox search are filtered by the EXACT
    tile ∩ dilated-coarse-mask intersection (_tile_intersects_mask) —
    the same tile set the reference selects from its polygonized
    boundary (warp.py:79-156), since that polygon is exactly the union
    of the mask's true cells."""
    bbox = raster_geog_bbox(
        crs, extent, arr=arr, nodata=nodata, accurate_boundary=accurate_boundary
    )
    tiles = get_tiles_in_geog_bbox(bbox, tiling_id, cover_land=cover_land, grid=grid)
    if accurate_boundary and arr is not None and nodata is not None:
        valid = arr != nodata
        if not valid.all():
            mask, factor = _coarse_valid_mask(arr, nodata)
            tiles = [
                t for t in tiles
                if _tile_intersects_mask(t, mask, factor, crs, extent, arr.shape)
            ]
    return tiles


def _bilinear(arr: np.ndarray, row_f: np.ndarray, col_f: np.ndarray, nodata: float):
    """Nodata-aware bilinear gather: nodata corners get zero weight with
    renormalization; all-nodata → nodata."""
    h, w = arr.shape
    r0 = np.floor(row_f).astype(np.int64)
    c0 = np.floor(col_f).astype(np.int64)
    fr = row_f - r0
    fc = col_f - c0
    out = np.zeros(row_f.shape, dtype=np.float64)
    wsum = np.zeros(row_f.shape, dtype=np.float64)
    for dr, dc, wgt in (
        (0, 0, (1 - fr) * (1 - fc)),
        (0, 1, (1 - fr) * fc),
        (1, 0, fr * (1 - fc)),
        (1, 1, fr * fc),
    ):
        rr = np.clip(r0 + dr, 0, h - 1)
        cc = np.clip(c0 + dc, 0, w - 1)
        inb = (r0 + dr >= 0) & (r0 + dr < h) & (c0 + dc >= 0) & (c0 + dc < w)
        v = arr[rr, cc].astype(np.float64)
        ok = inb & (v != nodata)
        out += np.where(ok, wgt * v, 0.0)
        wsum += np.where(ok, wgt, 0.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        res = np.where(wsum > 0, out / np.where(wsum == 0, 1.0, wsum), float(nodata))
    return res


def _tile_to_source(
    shape: tuple[int, int],
    src_crs: str | int,
    src_extent: tuple[float, float, float, float],
    subgrid: str,
    ll_x: float,
    ll_y: float,
    tile_size: float,
    sampling: float,
):
    """The map from target pixels of one tile, given as absolute float
    row and col indices, to continuous source pixel coordinates
    (row_f, col_f) of one raster: pixel center (geotrans = (x_min, s,
    0, y_max, 0, -s), reference warp.py:291) -> lon/lat (geodesic
    direct) -> source CRS -> source pixel, where source pixel centers
    sit at integer values."""
    x_min, y_min, x_max, y_max = src_extent
    h, w = shape
    res_x = (x_max - x_min) / w
    res_y = (y_max - y_min) / h

    def to_source(rows: np.ndarray, cols: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        x = ll_x + (cols + 0.5) * sampling
        y = (ll_y + tile_size) - (rows + 0.5) * sampling
        lon, lat = aeqd_inverse(subgrid, x, y)
        sx, sy = crs_forward(src_crs, lon, lat)
        return (y_max - sy) / res_y - 0.5, (sx - x_min) / res_x - 0.5

    return to_source


def _in_bounds(
    row_f: np.ndarray, col_f: np.ndarray, shape: tuple[int, int], resampling: str
) -> np.ndarray:
    """The warp's in-bounds test, shared by the gather and the window
    search: the rounded source pixel lies in the raster (nearest), or
    the point lies within half a pixel of the outer pixel centers
    (bilinear)."""
    h, w = shape
    if resampling == "nearest":
        ri, ci = np.round(row_f), np.round(col_f)
        return (ri >= 0) & (ri < h) & (ci >= 0) & (ci < w)
    if resampling == "bilinear":
        return (row_f >= -0.5) & (row_f <= h - 0.5) & (col_f >= -0.5) & (col_f <= w - 0.5)
    raise ValueError(f"unknown resampling {resampling!r}")


# Largest pixel stride of the lattice of seed pixels tested in every
# window search (a tile gets at least 4 x 4 seeds): a footprint whose
# boundary image does not bound its interior (a raster around the
# antipode of the tile's projection center, or a global lon/lat raster
# whose boundary is the antimeridian) still seeds the window wherever
# it covers a lattice pixel.
_SEED_STRIDE = 16


def target_window(
    shape: tuple[int, int],
    src_crs: str | int,
    src_extent: tuple[float, float, float, float],
    subgrid: str,
    ll_x: float,
    ll_y: float,
    tile_size: float,
    sampling: float,
    resampling: str = "nearest",
    densify_n: int = 64,
) -> tuple[int, int, int, int]:
    """The target pixel window (r0, r1, c0, c1), half-open, outside
    which no pixel of the tile passes the warp's in-bounds test for this
    raster; (0, 0, 0, 0) when no pixel can.

    The densified source footprint is forward-projected into the tile's
    pixel grid; its bbox, joined with the bbox of the passing seed
    lattice pixels, plus one pixel and clamped to the tile, is the
    first window. Then every side grows while any pixel on its border
    passes, by 1, 2, 4, ... pixels on successive rounds (a larger
    window costs warp time, never correctness). A footprint image that
    is not finite gives the whole tile."""
    n = int(round(tile_size / sampling))
    to_source = _tile_to_source(
        shape, src_crs, src_extent, subgrid, ll_x, ll_y, tile_size, sampling
    )

    def passes(rows: np.ndarray, cols: np.ndarray) -> np.ndarray:
        return _in_bounds(*to_source(rows, cols), shape, resampling)

    lon, lat = crs_inverse(src_crs, *_footprint_ring(src_extent, densify_n))
    tx, ty = aeqd_forward(subgrid, lon, lat)
    rows = (ll_y + tile_size - ty) / sampling - 0.5
    cols = (tx - ll_x) / sampling - 0.5
    if not (np.isfinite(rows).all() and np.isfinite(cols).all()):
        return (0, n, 0, n)
    stride = max(1, min(_SEED_STRIDE, n // 4))
    seed = np.arange(stride // 2, n, stride, dtype=np.float64)
    sr, sc = np.meshgrid(seed, seed, indexing="ij")
    sr, sc = sr.ravel(), sc.ravel()
    hit = passes(sr, sc)
    rows = np.concatenate([rows, sr[hit]])
    cols = np.concatenate([cols, sc[hit]])
    r0 = max(0, int(np.floor(rows.min())) - 1)
    r1 = min(n, int(np.floor(rows.max())) + 2)
    c0 = max(0, int(np.floor(cols.min())) - 1)
    c1 = min(n, int(np.floor(cols.max())) + 2)
    if r0 >= r1 or c0 >= c1:
        return (0, 0, 0, 0)
    step = 1
    while (r0, r1, c0, c1) != (0, n, 0, n):
        # one projection tests the four border lines: top, bottom, left, right
        rr = np.arange(r0, r1, dtype=np.float64)
        cc = np.arange(c0, c1, dtype=np.float64)
        hit = passes(
            np.concatenate([np.full_like(cc, r0), np.full_like(cc, r1 - 1), rr, rr]),
            np.concatenate([cc, cc, np.full_like(rr, c0), np.full_like(rr, c1 - 1)]),
        )
        top, bottom, left, right = (
            part.any() for part in np.split(hit, np.cumsum([cc.size, cc.size, rr.size]))
        )
        grow = (top and r0 > 0, bottom and r1 < n, left and c0 > 0, right and c1 < n)
        if not any(grow):
            break
        r0, r1 = max(0, r0 - step * grow[0]), min(n, r1 + step * grow[1])
        c0, c1 = max(0, c0 - step * grow[2]), min(n, c1 + step * grow[3])
        step *= 2
    return (r0, r1, c0, c1)


def warp_image_to_tile(
    arr: np.ndarray,
    src_crs: str | int,
    src_extent: tuple[float, float, float, float],
    nodata: float,
    subgrid: str,
    ll_x: float,
    ll_y: float,
    tile_size: float,
    sampling: float,
    resampling: str = "nearest",
    window: tuple[int, int, int, int] | None = None,
) -> np.ndarray:
    """Inverse-warp one image into one tile grid (reference
    resample_tile, warp.py:205-330). Returns the tile array in the
    source dtype with nodata fill.

    Only the pixels of `window` (r0, r1, c0, c1; target_window's
    result) are projected and gathered, the rest of the tile is
    nodata; the default window is the whole tile."""
    n = int(round(tile_size / sampling))
    r0, r1, c0, c1 = window or (0, n, 0, n)
    to_source = _tile_to_source(
        arr.shape, src_crs, src_extent, subgrid, ll_x, ll_y, tile_size, sampling
    )
    rows, cols = np.meshgrid(
        np.arange(r0, r1, dtype=np.float64), np.arange(c0, c1, dtype=np.float64),
        indexing="ij",
    )
    row_f, col_f = to_source(rows.ravel(), cols.ravel())
    inb = _in_bounds(row_f, col_f, arr.shape, resampling)
    row_f, col_f = row_f[inb], col_f[inb]
    if resampling == "nearest":
        vals = arr[np.round(row_f).astype(np.int64), np.round(col_f).astype(np.int64)]
    else:
        vals = _bilinear(arr, row_f, col_f, nodata)
    out = np.full((n, n), nodata, dtype=np.float64)
    out[r0:r1, c0:c1][inb.reshape(r1 - r0, c1 - c0)] = vals
    return out.astype(arr.dtype)


def resample_to_equi7_tiles(
    rasters: DataFrame,
    tiling_id: str = "T6",
    sampling: float | None = None,
    *,
    grid: GridConfig | None = None,
    resampling: str = "nearest",
    out_fmt: str = "raw",
    accurate_boundary: bool = True,
    cover_land: bool = False,
    naming_fn=None,
) -> DataFrame:
    """Distributed resample: every input raster row fans out to one
    output row per overlapping tile (reference resample_to_equi7_tiles,
    warp.py:424-578, with Spark tasks replacing mp.Pool).

    Input schema: image_id, bytes, fmt, dtype, w, h, crs,
    x_min, y_min, x_max, y_max, nodata.

    `out_fmt` "png" and "q8" store the tile as 8-bit pixels clipped to
    0..255. A row whose nodata is not an integer in 0..255 gets null
    `bytes` in those formats: the clip would turn its nodata pixels into
    valid values. "raw" keeps the source dtype for every row.
    """
    grid = grid or GridConfig()
    ts = float(TILING_ID_TO_SIZE[tiling_id])
    if sampling is None:
        sampling = grid.sampling.get(tiling_id)
    if sampling is None:
        raise ValueError(f"no sampling configured for {tiling_id}")
    s = float(sampling)
    n_px = int(round(ts / s))
    name_fn = naming_fn or default_naming

    # Two-stage shape: a PLAN pass finds each raster's overlapping
    # tiles (decode + bbox + coarse-mask check) and, per (raster,
    # tile), the target pixel window the raster can reach
    # (target_window: a footprint projection plus a few border lines,
    # cheap); the (raster, tile) fan-out is exploded into ROWS and
    # hash-repartitioned, and the WARP pass (the expensive part: one
    # inverse projection per window pixel, up to (ts/s)^2 per tile)
    # runs one task per (raster, tile). A single-pass shape would warp
    # every tile of a raster sequentially inside that raster's scan
    # task: a one-raster input (the bench fixture, and any skewed real
    # batch where one giant raster spans many tiles) would serialize
    # the whole job onto one core. The exchange duplicates the raster
    # payload once per overlapping tile; tile overlap degree is small
    # (a raster spans ~(w_m/ts+1)(h_m/ts+1) tiles) and the alternative
    # is zero parallelism across a raster's tiles. The raster is
    # re-decoded in the warp task: decode is a single vectorized pass,
    # well under the window's inverse projection.
    plan_cols = [
        "image_id", "bytes", "fmt", "dtype", "w", "h", "crs",
        "x_min", "y_min", "x_max", "y_max", "nodata",
        "subgrid", "tilename", "ll_x", "ll_y",
        "win_r0", "win_r1", "win_c0", "win_c1",
    ]
    plan_schema = (
        "image_id string, bytes binary, fmt string, dtype string,"
        " w int, h int, crs string, x_min double, y_min double,"
        " x_max double, y_max double, nodata double,"
        " subgrid string, tilename string, ll_x double, ll_y double,"
        " win_r0 int, win_r1 int, win_c0 int, win_c1 int"
    )

    def plan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for row, arr in zip(pdf.to_dict("records"), decode_batch(pdf)):
                if arr is None:
                    continue  # undecodable raster: no tiles, no rows
                extent = (row["x_min"], row["y_min"], row["x_max"], row["y_max"])
                tiles = overlapping_tiles(
                    row["crs"], extent, tiling_id,
                    grid=grid, cover_land=cover_land,
                    arr=arr, nodata=row["nodata"],
                    accurate_boundary=accurate_boundary,
                )
                for t in tiles:
                    window = target_window(
                        arr.shape, row["crs"], extent, t.subgrid,
                        t.ll_x, t.ll_y, ts, s, resampling,
                    )
                    out_rows.append(
                        (*(row[k] for k in plan_cols[:12]),
                         t.subgrid, t.tilename, t.ll_x, t.ll_y, *window)
                    )
            yield pd.DataFrame(out_rows, columns=plan_cols)

    def warp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            # every planned row decoded in the plan pass, so arr is set
            for row, arr in zip(pdf.to_dict("records"), decode_batch(pdf)):
                extent = (row["x_min"], row["y_min"], row["x_max"], row["y_max"])
                warped = warp_image_to_tile(
                    arr, row["crs"], extent, row["nodata"],
                    row["subgrid"], row["ll_x"], row["ll_y"], ts, s,
                    resampling,
                    (row["win_r0"], row["win_r1"], row["win_c0"], row["win_c1"]),
                )
                nodata = float(row["nodata"])
                n_valid = int((warped != nodata).sum())
                if out_fmt == "raw":
                    blob = warped.tobytes()
                elif nodata.is_integer() and 0 <= nodata <= 255:
                    blob = encode(np.clip(warped, 0, 255).astype(np.uint8), out_fmt)
                else:
                    blob = None
                out_rows.append(
                    {
                        "image_id": row["image_id"],
                        "subgrid": row["subgrid"],
                        "tilename": row["tilename"],
                        "out_name": name_fn(row["image_id"], row["tilename"]),
                        "bytes": blob,
                        "w": n_px,
                        "h": n_px,
                        "fmt": out_fmt,
                        "dtype": str(warped.dtype),
                        "nodata": nodata,
                        "ll_x": row["ll_x"],
                        "ll_y": row["ll_y"],
                        "sampling": s,
                        "n_valid": n_valid,
                    }
                )
            yield pd.DataFrame(
                out_rows,
                columns=[
                    "image_id", "subgrid", "tilename", "out_name", "bytes",
                    "w", "h", "fmt", "dtype", "nodata", "ll_x", "ll_y",
                    "sampling", "n_valid",
                ],
            )

    # Explicit partition count: a keyed repartition(cols) shuffle is
    # AQE-coalescible, and the (raster, tile) rows are KB-sized — AQE
    # folds them back into ONE post-shuffle partition and re-serializes
    # the warps it exists to spread. Partition BYTES say nothing about
    # warp COST here (each row expands to a projection of its window,
    # up to (ts/s)^2 points),
    # so pin the fan-out to the session's parallelism (scale-adaptive,
    # not a local constant).
    n_out = rasters.sparkSession.sparkContext.defaultParallelism
    planned = rasters.mapInPandas(plan, schema=plan_schema).repartition(
        n_out, "image_id", "tilename"
    )
    return planned.mapInPandas(warp, schema=OUTPUT_SCHEMA)
