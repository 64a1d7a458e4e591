"""Polygon clipping against convex windows (Sutherland–Hodgman, NumPy).

Used to compute ROI ∩ zone in geographic space before densify+project —
the engine's equivalent of the reference's shapely intersection inside
`get_tiles_in_geog_bbox` (reference core.py:230-261 via pytileproj).
ROI windows are always convex here (bboxes, or convex quadrilateral
ROIs split at the antimeridian), so Sutherland–Hodgman is exact up to
zero-area bridge edges for multi-component results, which do not
change the even-odd region.
"""

from __future__ import annotations

import numpy as np


def _signed_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]) / 2.0)


def ensure_ccw(ring: np.ndarray) -> np.ndarray:
    r = np.asarray(ring, dtype=np.float64)
    if not (r[0] == r[-1]).all():
        r = np.vstack([r, r[:1]])
    if _signed_area(r) < 0:
        r = r[::-1].copy()
    return r


def clip_ring_convex(subject: np.ndarray, clip_ring: np.ndarray) -> np.ndarray | None:
    """Clip a subject ring by a convex CCW window. Returns the clipped
    closed ring (possibly with zero-area bridges) or None if empty."""
    clip = ensure_ccw(clip_ring)
    pts = np.asarray(subject, dtype=np.float64)
    if (pts[0] == pts[-1]).all():
        pts = pts[:-1]
    for i in range(len(clip) - 1):
        if len(pts) == 0:
            return None
        ax, ay = clip[i]
        bx, by = clip[i + 1]
        ex, ey = bx - ax, by - ay
        # signed distance (positive = inside for CCW window)
        side = ex * (pts[:, 1] - ay) - ey * (pts[:, 0] - ax)
        inside = side >= -1e-12
        if inside.all():
            continue
        if not inside.any():
            return None
        nxt = np.roll(np.arange(len(pts)), -1)
        out_pts = []
        for j in range(len(pts)):
            k = nxt[j]
            p_in, q_in = inside[j], inside[k]
            if p_in:
                out_pts.append(pts[j])
            if p_in != q_in:
                # intersection of segment with the clip line
                denom = side[j] - side[k]
                t = side[j] / denom if denom != 0 else 0.0
                out_pts.append(pts[j] + (pts[k] - pts[j]) * t)
        pts = np.asarray(out_pts, dtype=np.float64)
    if len(pts) < 3:
        return None
    ring = np.vstack([pts, pts[:1]])
    if abs(_signed_area(ring)) < 1e-30:
        return None
    return ring
