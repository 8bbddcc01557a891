"""Aperture-7 hexagonal multi-resolution grid (N1) — H3-style, pure NumPy.

Provides the hex-cell index columns the north rule asks for (res 7-12):
point → hex cell id per resolution, k-ring neighbors, resolution
arithmetic. The construction follows the published H3 *scheme* —
hexagonal cells, aperture 7 (each coarser cell covers ~7 finer ones),
successive grids rotated by atan(√3/5) ≈ 19.1° — but deliberately does
NOT reproduce canonical H3 cell numbers: the exact base-cell/icosahedron
tables of the H3 library are not re-derivable from memory in this
offline sandbox, and SURVEY §7 M3 fixes the contract accordingly:
**internal determinism** (the same cell function on index and probe
side), which is all the engine's joins require. Documented deviation;
swap in the real `h3-py` bindings in production via the same column
API.

Geometry: equirectangular local projection (lon·cos(lat₀), lat) around
a fixed reference latitude; fine for index/join purposes at web-map
latitudes, and the kNN operator always finishes with an exact
refinement, so index distortion never affects results.

Cell id layout (int64): res(4 bits) | q+OFFSET (30 bits signed-offset)
| r+OFFSET (30 bits). Axial hex coordinates q, r.
"""

from __future__ import annotations

import numpy as np

#: resolution-0 hex circumradius in projected degrees — ~10 deg, sized
#: so res 7-12 cell extents track the published H3 scale (res 7 ≈ 1 km)
_RES0_SIZE = 10.0
_APERTURE_SQRT = np.sqrt(7.0)
#: inter-resolution rotation: atan(sqrt(3)/5) (aperture-7 lattice angle)
_ROT = np.arctan2(np.sqrt(3.0), 5.0)
_REF_LAT = 47.5
_COS_REF = np.cos(np.radians(_REF_LAT))

_OFFSET = 1 << 29
_MASK30 = (1 << 30) - 1


def res_size(res: int) -> float:
    return _RES0_SIZE / (_APERTURE_SQRT**res)


def _project(lon, lat):
    x = np.asarray(lon, np.float64) * _COS_REF
    y = np.asarray(lat, np.float64)
    return x, y


def _rotate(x, y, res: int):
    a = _ROT * res
    c, s = np.cos(a), np.sin(a)
    return c * x + s * y, -s * x + c * y


def _axial_round(qf, rf):
    """Cube-coordinate rounding (standard hex-grid algorithm)."""
    xf, zf = qf, rf
    yf = -xf - zf
    rx, ry, rz = np.round(xf), np.round(yf), np.round(zf)
    dx, dy, dz = np.abs(rx - xf), np.abs(ry - yf), np.abs(rz - zf)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & (dz > dy)
    rx = np.where(fix_x, -ry - rz, rx)
    rz = np.where(fix_z, -rx - ry, rz)
    return rx.astype(np.int64), rz.astype(np.int64)


def hex_qr(lon, lat, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Axial (q, r) of the res-``res`` hex containing each point."""
    x, y = _project(lon, lat)
    x, y = _rotate(x, y, res)
    size = res_size(res)
    qf = (np.sqrt(3.0) / 3.0 * x - 1.0 / 3.0 * y) / size
    rf = (2.0 / 3.0 * y) / size
    return _axial_round(qf, rf)


def pack(res: int, q: np.ndarray, r: np.ndarray) -> np.ndarray:
    q = np.asarray(q, np.int64) + _OFFSET
    r = np.asarray(r, np.int64) + _OFFSET
    if ((q < 0) | (q > _MASK30) | (r < 0) | (r > _MASK30)).any():
        raise ValueError("hex coordinate out of packable range")
    return (np.int64(res) << np.int64(60)) | (q << np.int64(30)) | r


def unpack(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, np.int64)
    res = (cell >> np.int64(60)) & np.int64(0xF)
    q = ((cell >> np.int64(30)) & np.int64(_MASK30)) - _OFFSET
    r = (cell & np.int64(_MASK30)) - _OFFSET
    return res, q, r


def hex_cell(lon, lat, res: int) -> np.ndarray:
    q, r = hex_qr(lon, lat, res)
    return pack(res, q, r)


def hex_center(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) center of each cell."""
    res, q, r = unpack(cell)
    out_lon = np.empty(len(np.atleast_1d(q)), np.float64)
    out_lat = np.empty_like(out_lon)
    res = np.atleast_1d(res)
    q = np.atleast_1d(q)
    r = np.atleast_1d(r)
    for rv in np.unique(res):
        m = res == rv
        size = res_size(int(rv))
        x = size * np.sqrt(3.0) * (q[m] + r[m] / 2.0)
        y = size * 1.5 * r[m]
        a = _ROT * int(rv)
        c, s = np.cos(a), np.sin(a)
        xr, yr = c * x - s * y, s * x + c * y
        out_lon[m] = xr / _COS_REF
        out_lat[m] = yr
    return out_lon, out_lat


def k_ring(cell: int, k: int) -> np.ndarray:
    """All cells within grid distance k of ``cell`` (same resolution)."""
    res, q0, r0 = (int(v) for v in (lambda t: (t[0][0], t[1][0], t[2][0]))(
        tuple(np.atleast_1d(a) for a in unpack(np.array([cell])))
    ))
    cells = []
    for dq in range(-k, k + 1):
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
            cells.append((q0 + dq, r0 + dr))
    qs = np.array([c[0] for c in cells], np.int64)
    rs = np.array([c[1] for c in cells], np.int64)
    return pack(res, qs, rs)


def grid_distance(cell_a: int, cell_b: int) -> int:
    """Hex grid distance between two same-res cells."""
    _, qa, ra = unpack(np.array([cell_a]))
    _, qb, rb = unpack(np.array([cell_b]))
    dq = int(qa[0] - qb[0])
    dr = int(ra[0] - rb[0])
    return int((abs(dq) + abs(dr) + abs(dq + dr)) // 2)
