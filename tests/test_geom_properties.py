"""Property tests for the geometric core (geom.py, clip.py): verify the
grid-cell marking and convex clipping against brute-force membership
sampling on seeded random polygons. These guard the primitives every
golden depends on."""

import numpy as np
import pytest

from equi7grid_spark.clip import clip_ring_convex, ensure_ccw
from equi7grid_spark.geom import (
    bbox_ring,
    cells_intersecting_polys,
    points_in_rings,
)


def random_polygon(rng, n=12, r0=2.0, r1=8.0, cx=0.0, cy=0.0):
    """Star-shaped (hence simple) polygon around (cx, cy)."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(r0, r1, n)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


@pytest.mark.parametrize("seed", range(8))
def test_cells_intersecting_matches_bruteforce(seed):
    rng = np.random.default_rng(seed)
    ring = random_polygon(rng)
    ix, iy, _ = cells_intersecting_polys([[ring]], 1.0)
    marked = set(zip(ix.tolist(), iy.tolist()))

    # brute force: cell intersects polygon iff any of a dense sample of
    # cell points is inside, or a polygon vertex/edge-sample is in the cell
    k = 30
    cand = set()
    for gx in range(-10, 11):
        for gy in range(-10, 11):
            xs = gx + (np.arange(k) + 0.5) / k
            ys = gy + (np.arange(k) + 0.5) / k
            X, Y = np.meshgrid(xs, ys)
            if points_in_rings(X.ravel(), Y.ravel(), [ring]).any():
                cand.add((gx, gy))
    # edge samples (catch cells the polygon only clips through)
    for i in range(len(ring) - 1):
        t = np.linspace(0, 1, 200)
        ex = ring[i, 0] + t * (ring[i + 1, 0] - ring[i, 0])
        ey = ring[i, 1] + t * (ring[i + 1, 1] - ring[i, 1])
        cand.update(zip(np.floor(ex).astype(int).tolist(), np.floor(ey).astype(int).tolist()))

    # marked must cover everything brute force finds; extras only from
    # exact touches the sampling can't see (allow a small margin)
    missing = cand - marked
    assert not missing, f"cells missed: {sorted(missing)[:5]}"
    extras = marked - cand
    assert len(extras) <= 3, f"too many extra cells: {sorted(extras)[:8]}"


@pytest.mark.parametrize("seed", range(8))
def test_clip_matches_membership(seed):
    rng = np.random.default_rng(100 + seed)
    subject = random_polygon(rng)
    x0, x1 = sorted(rng.uniform(-6, 6, 2))
    y0, y1 = sorted(rng.uniform(-6, 6, 2))
    window = bbox_ring(x0, y0, x1, y1)
    clipped = clip_ring_convex(subject, window)

    pts = rng.uniform(-9, 9, (4000, 2))
    in_subject = points_in_rings(pts[:, 0], pts[:, 1], [ensure_ccw(subject)])
    in_window = (pts[:, 0] > x0) & (pts[:, 0] < x1) & (pts[:, 1] > y0) & (pts[:, 1] < y1)
    expected = in_subject & in_window
    if clipped is None:
        assert expected.sum() == 0
        return
    got = points_in_rings(pts[:, 0], pts[:, 1], [clipped])
    # allow disagreement only within a hair of the boundary
    disagree = got != expected
    if disagree.any():
        bad = pts[disagree]
        d_edge = np.minimum.reduce([
            np.abs(bad[:, 0] - x0), np.abs(bad[:, 0] - x1),
            np.abs(bad[:, 1] - y0), np.abs(bad[:, 1] - y1),
        ])
        assert d_edge.max() < 1e-6, f"clip mismatch away from boundary: {bad[:3]}"


def test_ragged_fraction_equals_per_segment_loop():
    """The loop-free ragged fractions of densify_ring and boundary_cells
    are bit-identical to the per-segment arange loop they replace."""
    from equi7grid_spark.geom import _ragged_fraction

    rng = np.random.default_rng(5)
    for _ in range(2000):
        n_sub = rng.integers(1, 60, size=int(rng.integers(1, 40)))
        reps = np.repeat(np.arange(n_sub.size), n_sub)
        want = np.concatenate([np.arange(k) for k in n_sub]) / n_sub[reps]
        got = _ragged_fraction(n_sub, reps)
        assert got.dtype == want.dtype and got.tobytes() == want.tobytes()
