"""Exact point-in-zone structures for the compiled kernel.

Resolves the primary zone (boundary_cands) and the buffered zone
membership (membership_cands) of points in prefilter-BOUNDARY 1-degree
cells without a general PIP, so the compiled kernel (baked into the
jar by scripts/build_zonedata.py, read by ZoneData and ZoneMembers)
and the DuckDB oracle (functions/zones_sql) can run it. The idea: even-odd parity of
a point P relative to a zone polygon equals the (precomputed) parity
of a per-cell reference point R, XOR the number of polygon edges
crossed by the two-leg axis-parallel path R -> (R.x, P.y) -> P. Both
legs stay inside the cell, so only edges near the cell can cross —
the per-cell candidate edge lists are tiny (vs ~6k edges/zone for the
infinite-ray test).

Per boundary cell, candidates are the zones in system_order up to and
including the first prefilter-IN zone; an IN candidate carries no
edges and ref_par=True (trivially inside). The first candidate whose
parity test passes is the primary zone (reference
get_systems_from_lonlat ordering, core.py:436).

R is placed at irrational-ish fractions of the cell so it cannot
coincide with polygon vertices or axis-aligned edges; its parity is
computed once, exactly, with geom.points_in_polys. Ties (a data point
exactly on a polygon edge) remain measure-zero as in every even-odd
test in this engine.

Validated two ways: a NumPy twin of the kernel's parity test
(`_numpy_parity`; resolve_numpy and membership_numpy certify the
structures against zones.zone_membership on every boundary cell,
tests/test_zones_pip_membership.py) and the kernel's own answers
against the same NumPy golden (tests/test_assign_jvm.py,
tests/test_kernel_jar.py).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from equi7grid_spark.constants import DEFAULT_SYSTEM_ORDER
from equi7grid_spark.geom import points_in_polys
from equi7grid_spark.zones import (
    PF_BOUNDARY,
    PF_IN,
    _zone_edges,
    decided_cell_codes,
    load_prefilter,
    load_zone_polys,
)

# in-cell position of the reference point (avoid rational alignments)
_REF_FX = 0.512938471029384
_REF_FY = 0.487102938475610


@lru_cache(maxsize=2)
def boundary_cands(
    system_order: tuple[str, ...] = DEFAULT_SYSTEM_ORDER,
) -> list[dict]:
    """One entry per prefilter-BOUNDARY cell:

    {cell_id, cands: [{zc, ref_par, refx, refy,
                       edges: float64[n,4] (x1,y1,x2,y2)}, ...]}

    cands is ordered by system_order and truncated after the first
    prefilter-IN zone.
    """
    order = tuple(system_order)
    pf = load_prefilter("std")
    polys = load_zone_polys("std")
    codes = decided_cell_codes(order)
    out: list[dict] = []
    for ix, iy in np.argwhere(codes == -2):
        lon0, lat0 = float(ix) - 180.0, float(iy) - 90.0
        refx = lon0 + _REF_FX
        refy = lat0 + _REF_FY
        cands = []
        for j, cc in enumerate(order):
            st = pf[cc][ix, iy]
            if st == PF_IN:
                cands.append(
                    {
                        "zc": int(j),
                        "ref_par": True,
                        "refx": refx,
                        "refy": refy,
                        "edges": np.empty((0, 4), dtype=np.float64),
                    }
                )
                break
            if st != PF_BOUNDARY:
                continue
            x1, y1, x2, y2, lat_lo, lat_hi, lon_hi = _zone_edges(cc, "std")
            lon_lo = np.minimum(x1, x2)
            m = (
                (lat_hi >= lat0)
                & (lat_lo <= lat0 + 1.0)
                & (lon_hi >= lon0)
                & (lon_lo <= lon0 + 1.0)
            )
            ref_par = bool(
                points_in_polys(
                    np.array([refx]), np.array([refy]), polys[cc]
                )[0]
            )
            cands.append(
                {
                    "zc": int(j),
                    "ref_par": ref_par,
                    "refx": refx,
                    "refy": refy,
                    "edges": np.stack([x1[m], y1[m], x2[m], y2[m]], axis=1),
                }
            )
        out.append({"cell_id": int(ix * 180 + iy), "cands": cands})
    return out


@lru_cache(maxsize=4)
def membership_cands(
    variant: str = "bfrd",
    system_order: tuple[str, ...] = DEFAULT_SYSTEM_ORDER,
) -> tuple[list[tuple[int, int]], list[dict]]:
    """Per-zone MEMBERSHIP structure (no ordering/truncation — buffered
    zones overlap, so every zone tests independently; reference
    search_tiles_in_roi over buffered grids, tests/test_equi7grid.py:
    412-418):

    (in_pairs, cands) where in_pairs is [(cell_id, zc)] for every
    (1-degree cell, zone) the prefilter fully decides IN, and cands is
    one entry per prefilter-BOUNDARY (cell, zone):
    {cell_id, zc, ref_par, refx, refy, edges float64[n,4]} — the same
    two-leg parity structure as boundary_cands, against the variant's
    polygons. A point is a member of zone zc iff (cell, zc) in
    in_pairs, or the parity test of the matching cand passes.
    """
    order = tuple(system_order)
    pf = load_prefilter(variant)
    polys = load_zone_polys(variant)
    in_pairs: list[tuple[int, int]] = []
    cands: list[dict] = []
    for j, cc in enumerate(order):
        st = pf[cc]
        for ix, iy in np.argwhere(st == PF_IN):
            in_pairs.append((int(ix * 180 + iy), j))
        x1, y1, x2, y2, lat_lo, lat_hi, lon_hi = _zone_edges(cc, variant)
        lon_lo = np.minimum(x1, x2)
        for ix, iy in np.argwhere(st == PF_BOUNDARY):
            lon0, lat0 = float(ix) - 180.0, float(iy) - 90.0
            refx = lon0 + _REF_FX
            refy = lat0 + _REF_FY
            m = (
                (lat_hi >= lat0)
                & (lat_lo <= lat0 + 1.0)
                & (lon_hi >= lon0)
                & (lon_lo <= lon0 + 1.0)
            )
            ref_par = bool(
                points_in_polys(
                    np.array([refx]), np.array([refy]), polys[cc]
                )[0]
            )
            cands.append(
                {
                    "cell_id": int(ix * 180 + iy),
                    "zc": int(j),
                    "ref_par": ref_par,
                    "refx": refx,
                    "refy": refy,
                    "edges": np.stack([x1[m], y1[m], x2[m], y2[m]], axis=1),
                }
            )
    return in_pairs, cands


def membership_numpy(
    lon: np.ndarray, lat: np.ndarray, variant: str = "bfrd"
) -> np.ndarray:
    """[n_points, n_zones] membership via the cand structure — the
    validation twin certifying membership_cands against
    zones.zone_membership (same role as resolve_numpy for std)."""
    in_pairs, cands = membership_cands(variant)
    order_n = len(DEFAULT_SYSTEM_ORDER)
    ix = np.clip(np.floor(lon + 180.0).astype(np.int64), 0, 359)
    iy = np.clip(np.floor(lat + 90.0).astype(np.int64), 0, 179)
    cell = ix * 180 + iy
    member = np.zeros((lon.size, order_n), dtype=bool)
    in_set = set(in_pairs)
    for cid in np.unique(cell):
        m = cell == cid
        for j in range(order_n):
            if (int(cid), j) in in_set:
                member[m, j] = True
    by_cell: dict[int, list[dict]] = {}
    for c in cands:
        by_cell.setdefault(c["cell_id"], []).append(c)
    for cid, cc in by_cell.items():
        m = cell == cid
        if not m.any():
            continue
        for cand in cc:
            member[m, cand["zc"]] = _numpy_parity(cand, lon[m], lat[m])
    return member


def _numpy_parity(cand: dict, X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """NumPy twin of the kernel's parity test (ZoneData.parity)."""
    e = cand["edges"]
    refx, refy = cand["refx"], cand["refy"]
    par = np.full(X.shape, cand["ref_par"], dtype=bool)
    if e.shape[0] == 0:
        return par
    x1, y1, x2, y2 = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
    Xc, Yc = X[:, None], Y[:, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        x_int = x1 + (Yc - y1) * (x2 - x1) / np.where(y2 == y1, 1.0, y2 - y1)
        y_int = y1 + (refx - x1) * (y2 - y1) / np.where(x2 == x1, 1.0, x2 - x1)
    # both legs are symmetric intervals: P can lie on either side of R
    xlo = np.minimum(Xc, refx)
    xhi = np.maximum(Xc, refx)
    h = ((y1 > Yc) != (y2 > Yc)) & (xlo < x_int) & (x_int <= xhi)
    ylo = np.minimum(Yc, refy)
    yhi = np.maximum(Yc, refy)
    v = ((x1 > refx) != (x2 > refx)) & (ylo < y_int) & (y_int <= yhi)
    flips = (h != v).sum(axis=1) % 2
    return par != flips.astype(bool)


def resolve_numpy(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Primary zone code for boundary-cell points via the cand
    structure (validation twin of the kernel's ZoneData.zoneCode)."""
    idx = {c["cell_id"]: c["cands"] for c in boundary_cands()}
    ix = np.clip(np.floor(lon + 180.0).astype(np.int64), 0, 359)
    iy = np.clip(np.floor(lat + 90.0).astype(np.int64), 0, 179)
    cell = ix * 180 + iy
    out = np.full(lon.shape, -1, dtype=np.int8)
    for cid in np.unique(cell):
        cands = idx.get(int(cid))
        if cands is None:
            raise ValueError(f"cell {cid} is not a boundary cell")
        m = cell == cid
        undecided = np.ones(m.sum(), dtype=bool)
        res = np.full(m.sum(), -1, dtype=np.int8)
        for cand in cands:
            hit = undecided & _numpy_parity(cand, lon[m], lat[m])
            res[hit] = cand["zc"]
            undecided &= ~hit
        out[m] = res
    return out
