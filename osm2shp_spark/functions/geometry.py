"""Pure-NumPy geometry kernels (no shapely/pyproj in this environment),
called per geometry from ``mapInPandas`` / ``applyInPandas`` groups and
as test references. They cover:

- exact point-in-polygon (ray casting) — the reference kernel the N3
  spatial join's SQL refine (``operators.spatial.pnpoly_sql``) is
  bit-identical to,
- Douglas–Peucker simplification — parity with the GRASS
  ``v.generalize method=douglas`` step (reference mapgen.sh:59,68,77,86),
- dedup/degenerate cleaning — parity with ``v.clean rmdupl`` /
  ``rmline`` (mapgen.sh:60-61,69-70).

WKB encoding for the content-addressed geometry lineage is the batch
kernel :func:`functions.udfs.wkb_udf`.
"""

from __future__ import annotations

import numpy as np


# ---------------------------------------------------------------------------
# point in polygon
# ---------------------------------------------------------------------------

def points_in_polygon(
    px: np.ndarray, py: np.ndarray, poly_x: np.ndarray, poly_y: np.ndarray
) -> np.ndarray:
    """Vectorized even-odd ray cast: bool per point.

    The ring may be open or closed (first==last); both handled. Points
    exactly on an edge follow the half-open crossing convention
    (deterministic, but fixtures avoid boundary coincidences).
    """
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    x = np.asarray(poly_x, np.float64)
    y = np.asarray(poly_y, np.float64)
    if len(x) >= 2 and x[0] == x[-1] and y[0] == y[-1]:
        x, y = x[:-1], y[:-1]
    n = len(x)
    inside = np.zeros(len(px), dtype=bool)
    if n < 3:
        return inside
    x1, y1 = x, y
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    for i in range(n):
        cond = (y1[i] > py) != (y2[i] > py)
        if not cond.any():
            continue
        t = (py - y1[i]) / (y2[i] - y1[i])
        xi = x1[i] + t * (x2[i] - x1[i])
        inside ^= cond & (px < xi)
    return inside


# ---------------------------------------------------------------------------
# simplification (Douglas–Peucker; GRASS v.generalize parity)
# ---------------------------------------------------------------------------

def douglas_peucker_mask(xs: np.ndarray, ys: np.ndarray, eps: float) -> np.ndarray:
    """Keep-mask for perpendicular-distance DP with threshold ``eps``
    (same planar-degree threshold semantics as the reference's GRASS
    step: 0.002 for big/medium roads + rail, 0.001 for small roads).

    Iterative stack implementation; distances vectorized per segment.
    """
    xs = np.asarray(xs, np.float64)
    ys = np.asarray(ys, np.float64)
    n = len(xs)
    keep = np.zeros(n, dtype=bool)
    if n == 0:
        return keep
    keep[0] = keep[-1] = True
    if n <= 2:
        return keep
    stack = [(0, n - 1)]
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        seg_x = xs[a + 1 : b]
        seg_y = ys[a + 1 : b]
        dx = xs[b] - xs[a]
        dy = ys[b] - ys[a]
        # sqrt(dx*dx + dy*dy), NOT np.hypot: hypot is a different
        # (correctly-rounded two-norm) algorithm, and the DuckDB DP
        # oracle can only express the sqrt form — identical text =
        # identical IEEE results = identical keep decisions at the
        # eps boundary. No overflow risk at coordinate magnitudes.
        norm = np.sqrt(dx * dx + dy * dy)
        if norm == 0.0:
            d = np.sqrt(
                (seg_x - xs[a]) * (seg_x - xs[a])
                + (seg_y - ys[a]) * (seg_y - ys[a])
            )
        else:
            d = np.abs(dy * seg_x - dx * seg_y + xs[b] * ys[a] - ys[b] * xs[a]) / norm
        imax = int(np.argmax(d))
        if d[imax] > eps:
            split = a + 1 + imax
            keep[split] = True
            stack.append((a, split))
            stack.append((split, b))
    return keep


def simplify(xs: np.ndarray, ys: np.ndarray, eps: float) -> tuple[np.ndarray, np.ndarray]:
    m = douglas_peucker_mask(xs, ys, eps)
    return np.asarray(xs)[m], np.asarray(ys)[m]


# ---------------------------------------------------------------------------
# cleaning (GRASS v.clean parity: rmdupl, rmline)
# ---------------------------------------------------------------------------

def drop_consecutive_duplicates(xs: np.ndarray, ys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Remove consecutive duplicate vertices (v.clean tool=rmdupl)."""
    xs = np.asarray(xs, np.float64)
    ys = np.asarray(ys, np.float64)
    if len(xs) == 0:
        return xs, ys
    keep = np.ones(len(xs), dtype=bool)
    keep[1:] = (xs[1:] != xs[:-1]) | (ys[1:] != ys[:-1])
    return xs[keep], ys[keep]


def is_degenerate_line(xs: np.ndarray, ys: np.ndarray) -> bool:
    """v.clean tool=rmline: fewer than 2 distinct vertices / zero length."""
    xs2, _ = drop_consecutive_duplicates(xs, ys)
    return len(xs2) < 2
