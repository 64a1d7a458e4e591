"""Vectorized planar geometry primitives (NumPy, GEOS-free).

Point-in-polygon (even-odd), polygon densification, and exact
"which cells of a regular grid does this polygon intersect" marking.
These are the building blocks for zone assignment (reference
get_systems_from_lonlat, core.py:436), the tile catalog (tiles
intersecting a projected zone polygon) and ROI tile search (reference
get_tiles_in_geog_bbox/get_tiles_in_geom, core.py:230-290,454-518).

Grid-cell marking works because Equi7 tiles *are* the cells of a
uniform square grid anchored at multiples of the tile size
(reference min_xy values are all multiples of every standard tile
size, _create_grids.py:44-80): a tile intersects a polygon iff its
grid cell is crossed by the polygon boundary or its center lies
inside the polygon.
"""

from __future__ import annotations

import numpy as np

# Treat a point this close to a gridline (in cell units) as touching it.
_EDGE_EPS = 1e-9


def points_in_rings(
    px: np.ndarray, py: np.ndarray, rings: list[np.ndarray], chunk: int = 4_000_000
) -> np.ndarray:
    """Even-odd point-in-polygon test for one polygon (exterior + holes).

    px/py: point coordinate arrays; rings: list of (n,2) arrays.
    Returns a boolean array. Edges are tested with the standard
    crossing-number rule; holes flip parity naturally.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)

    x1s, y1s, x2s, y2s = [], [], [], []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if r.shape[0] < 3:
            continue
        if not (r[0] == r[-1]).all():
            r = np.vstack([r, r[:1]])
        x1s.append(r[:-1, 0]); y1s.append(r[:-1, 1])
        x2s.append(r[1:, 0]); y2s.append(r[1:, 1])
    if not x1s:
        return inside
    x1 = np.concatenate(x1s); y1 = np.concatenate(y1s)
    x2 = np.concatenate(x2s); y2 = np.concatenate(y2s)

    # Chunk points to bound the points x edges broadcast (~chunk elements).
    n = px.size
    flat_px = px.ravel(); flat_py = py.ravel()
    out = inside.ravel()
    max_pts = max(1, chunk // max(1, x1.size))
    for i0 in range(0, n, max_pts):
        sl = slice(i0, min(n, i0 + max_pts))
        X = flat_px[sl][:, None]
        Y = flat_py[sl][:, None]
        cond = (y1 > Y) != (y2 > Y)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_int = x1 + (Y - y1) * (x2 - x1) / np.where(y2 == y1, 1.0, (y2 - y1))
        crossing = cond & (X < x_int)
        out[sl] = (crossing.sum(axis=1) % 2).astype(bool)
    return out.reshape(px.shape)


def points_in_polys(px: np.ndarray, py: np.ndarray, polys: list[list[np.ndarray]]) -> np.ndarray:
    """True where the point is inside any polygon piece (pieces disjoint)."""
    px = np.asarray(px, dtype=np.float64)
    res = np.zeros(px.shape, dtype=bool)
    for rings in polys:
        res |= points_in_rings(px, py, rings)
    return res


def _ragged_fraction(n_sub: np.ndarray, reps: np.ndarray) -> np.ndarray:
    """k / n_sub[i] for k in 0..n_sub[i]-1, segment after segment
    (`reps` is np.repeat(arange, n_sub)): each element's index minus
    its segment's start offset, so no Python loop over segments."""
    starts = np.repeat(np.cumsum(n_sub) - n_sub, n_sub)
    return (np.arange(reps.size) - starts) / n_sub[reps]


def densify_ring(ring: np.ndarray, max_seg: float) -> np.ndarray:
    """Insert vertices so no segment exceeds `max_seg` (in ring units).

    Mirrors the reference's 0.1-degree segmentize-before-reproject
    (DEF_SEG_LEN_DEG, reference core.py:25,406-410). Interpolation is
    linear in the input coordinate space.
    """
    r = np.asarray(ring, dtype=np.float64)
    if not (r[0] == r[-1]).all():
        r = np.vstack([r, r[:1]])
    d = np.hypot(np.diff(r[:, 0]), np.diff(r[:, 1]))
    n_sub = np.maximum(1, np.ceil(d / max_seg).astype(np.int64))
    if (n_sub == 1).all():
        return r
    total = int(n_sub.sum()) + 1
    out = np.empty((total, 2), dtype=np.float64)
    # Vectorized ragged interpolation.
    starts = r[:-1]
    deltas = r[1:] - r[:-1]
    reps = np.repeat(np.arange(len(n_sub)), n_sub)
    within = _ragged_fraction(n_sub, reps)
    out[:-1] = starts[reps] + deltas[reps] * within[:, None]
    out[-1] = r[-1]
    return out


def _segment_cells(
    ax: np.ndarray, ay: np.ndarray, bx: np.ndarray, by: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Exact grid cells crossed by segments already in *cell units* and
    already subdivided so each segment spans <= 1 gridline per axis.

    Returns (ix, iy) arrays of marked cells (with duplicates).
    """
    ix0 = np.floor(ax).astype(np.int64); iy0 = np.floor(ay).astype(np.int64)
    ix1 = np.floor(bx).astype(np.int64); iy1 = np.floor(by).astype(np.int64)

    cells_x = [ix0, ix1]
    cells_y = [iy0, iy1]

    # Intermediate cell when the segment crosses both a vertical and a
    # horizontal gridline: the cell entered after the first crossing.
    both = (ix0 != ix1) & (iy0 != iy1)
    if both.any():
        axb = ax[both]; ayb = ay[both]; bxb = bx[both]; byb = by[both]
        gx = np.maximum(ix0[both], ix1[both]).astype(np.float64)
        gy = np.maximum(iy0[both], iy1[both]).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            tx = (gx - axb) / np.where(bxb == axb, 1.0, bxb - axb)
            ty = (gy - ayb) / np.where(byb == ayb, 1.0, byb - ayb)
        x_first = tx < ty
        mid_x = np.where(x_first, ix1[both], ix0[both])
        mid_y = np.where(x_first, iy0[both], iy1[both])
        cells_x.append(mid_x)
        cells_y.append(mid_y)

    # Touch handling: a vertex exactly on a gridline also touches the
    # cell below/left of it (shapely `intersects` counts touching).
    for cx, cy in ((ax, ay), (bx, by)):
        fx = cx - np.floor(cx)
        fy = cy - np.floor(cy)
        on_x = fx < _EDGE_EPS
        on_y = fy < _EDGE_EPS
        if on_x.any():
            cells_x.append(np.floor(cx[on_x]).astype(np.int64) - 1)
            cells_y.append(np.floor(cy[on_x]).astype(np.int64))
        if on_y.any():
            cells_x.append(np.floor(cx[on_y]).astype(np.int64))
            cells_y.append(np.floor(cy[on_y]).astype(np.int64) - 1)
        if (on_x & on_y).any():
            m = on_x & on_y
            cells_x.append(np.floor(cx[m]).astype(np.int64) - 1)
            cells_y.append(np.floor(cy[m]).astype(np.int64) - 1)

    return np.concatenate(cells_x), np.concatenate(cells_y)


def boundary_cells(
    rings: list[np.ndarray], cell_size: float, origin: tuple[float, float] = (0.0, 0.0)
) -> tuple[np.ndarray, np.ndarray]:
    """Cells of a uniform grid crossed (or touched) by the ring boundary.

    Returns unique (ix, iy) int arrays.
    """
    all_x, all_y = [], []
    ox, oy = origin
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not (r[0] == r[-1]).all():
            r = np.vstack([r, r[:1]])
        a = (r[:-1] - (ox, oy)) / cell_size
        b = (r[1:] - (ox, oy)) / cell_size
        # Subdivide long edges until each spans <= 1 cell per axis.
        span = np.maximum(np.abs(b[:, 0] - a[:, 0]), np.abs(b[:, 1] - a[:, 1]))
        n_sub = np.maximum(1, np.ceil(span + 1e-12).astype(np.int64))
        reps = np.repeat(np.arange(len(n_sub)), n_sub)
        frac0 = _ragged_fraction(n_sub, reps)
        frac1 = frac0 + 1.0 / n_sub[reps]
        ax = a[reps, 0] + (b[reps, 0] - a[reps, 0]) * frac0
        ay = a[reps, 1] + (b[reps, 1] - a[reps, 1]) * frac0
        bx = a[reps, 0] + (b[reps, 0] - a[reps, 0]) * frac1
        by = a[reps, 1] + (b[reps, 1] - a[reps, 1]) * frac1
        cx, cy = _segment_cells(ax, ay, bx, by)
        all_x.append(cx)
        all_y.append(cy)
    if not all_x:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    cx = np.concatenate(all_x)
    cy = np.concatenate(all_y)
    key = cx * np.int64(1 << 32) + (cy + (1 << 30))
    _, idx = np.unique(key, return_index=True)
    return cx[idx], cy[idx]


def cells_intersecting_polys(
    polys: list[list[np.ndarray]],
    cell_size: float,
    origin: tuple[float, float] = (0.0, 0.0),
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All grid cells whose square intersects the polygon set.

    Returns (ix, iy, is_boundary): unique cell indices plus a flag
    telling whether the polygon boundary crosses the cell (False means
    the cell is strictly interior).
    """
    ox, oy = origin
    out_x, out_y, out_b = [], [], []
    for rings in polys:
        bx, by = boundary_cells(rings, cell_size, origin)
        bset_key = set(zip(bx.tolist(), by.tolist()))
        # Interior fill: candidate cells in the piece bbox, minus
        # boundary cells, decided by center PIP.
        ext = np.asarray(rings[0], dtype=np.float64)
        ix_min = int(np.floor((ext[:, 0].min() - ox) / cell_size))
        ix_max = int(np.floor((ext[:, 0].max() - ox) / cell_size))
        iy_min = int(np.floor((ext[:, 1].min() - oy) / cell_size))
        iy_max = int(np.floor((ext[:, 1].max() - oy) / cell_size))
        gx, gy = np.meshgrid(
            np.arange(ix_min, ix_max + 1), np.arange(iy_min, iy_max + 1), indexing="ij"
        )
        gx = gx.ravel(); gy = gy.ravel()
        not_boundary = np.array(
            [(int(x), int(y)) not in bset_key for x, y in zip(gx, gy)], dtype=bool
        ) if len(bset_key) else np.ones(gx.shape, bool)
        cand_x = gx[not_boundary]; cand_y = gy[not_boundary]
        if cand_x.size:
            cx_world = ox + (cand_x + 0.5) * cell_size
            cy_world = oy + (cand_y + 0.5) * cell_size
            inside = points_in_rings(cx_world, cy_world, rings)
            cand_x = cand_x[inside]; cand_y = cand_y[inside]
        out_x.append(np.concatenate([bx, cand_x]))
        out_y.append(np.concatenate([by, cand_y]))
        out_b.append(np.concatenate([np.ones(bx.size, bool), np.zeros(cand_x.size, bool)]))
    cx = np.concatenate(out_x) if out_x else np.empty(0, np.int64)
    cy = np.concatenate(out_y) if out_y else np.empty(0, np.int64)
    cb = np.concatenate(out_b) if out_b else np.empty(0, bool)
    key = cx * np.int64(1 << 32) + (cy + (1 << 30))
    order = np.argsort(key, kind="stable")
    key_s = key[order]
    first = np.ones(key_s.size, dtype=bool)
    first[1:] = key_s[1:] != key_s[:-1]
    # A cell marked both boundary (in one piece) and interior keeps boundary=True.
    sel = order[first]
    # boundary flag: OR over duplicates
    b_or = np.zeros(sel.size, dtype=bool)
    grp = np.cumsum(first) - 1
    np.maximum.at(b_or, grp, cb[order])
    return cx[sel], cy[sel], b_or


def bbox_ring(x_min: float, y_min: float, x_max: float, y_max: float) -> np.ndarray:
    """Closed CCW rectangle ring."""
    return np.array(
        [
            [x_min, y_min],
            [x_max, y_min],
            [x_max, y_max],
            [x_min, y_max],
            [x_min, y_min],
        ],
        dtype=np.float64,
    )
