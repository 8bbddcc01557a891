"""Pure-NumPy S2 cell indexing (N2), implementing the published
algorithm from the public s2geometry library docs/source structure:

    lat/lng → unit XYZ → cube face + (u,v) → quadratic (s,t) →
    30-bit (i,j) → Hilbert-curve position via 4-bit lookup tables →
    64-bit cell id = face(3) | position(2·level) | trailing 1

All point paths are vectorized over numpy arrays (the engine calls
them from flat Arrow UDFs). Tokens are the standard hex
form with trailing zeros stripped.

Covering: :func:`bbox_covering` returns a guaranteed superset of
level-L cells intersecting a small lat/lng rectangle by enumerating
the (i,j) rectangle spanned by the rect's boundary samples padded by
one cell — exact-superset for regions contained in a single face
(our fixtures; multi-face rects fall back to per-face corner
projection). Used for polygon prefilters where a superset is the
correctness requirement.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
_MAX_SIZE = 1 << MAX_LEVEL
_POS_BITS = 2 * MAX_LEVEL + 1
_LOOKUP_BITS = 4
_SWAP_MASK = 1
_INVERT_MASK = 2

_POS_TO_IJ = (
    (0, 1, 3, 2),
    (0, 2, 3, 1),
    (3, 2, 0, 1),
    (3, 1, 0, 2),
)
_POS_TO_ORIENTATION = (_SWAP_MASK, 0, 0, _INVERT_MASK | _SWAP_MASK)


def _build_lookup() -> tuple[np.ndarray, np.ndarray]:
    lookup_pos = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.uint64)
    lookup_ij = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.uint64)

    def init(level, i, j, orig_orientation, pos, orientation):
        if level == _LOOKUP_BITS:
            ij = (i << _LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig_orientation] = (pos << 2) + orientation
            lookup_ij[(pos << 2) + orig_orientation] = (ij << 2) + orientation
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        r = _POS_TO_IJ[orientation]
        for index in range(4):
            init(
                level,
                i + (r[index] >> 1),
                j + (r[index] & 1),
                orig_orientation,
                pos + index,
                orientation ^ _POS_TO_ORIENTATION[index],
            )

    for o in range(4):
        init(0, 0, 0, o, 0, o)
    return lookup_pos, lookup_ij


_LOOKUP_POS, _LOOKUP_IJ = _build_lookup()


# ---------------------------------------------------------------------------
# lat/lng → face,(u,v) → (s,t) → (i,j)
# ---------------------------------------------------------------------------

def latlng_to_xyz(lat_deg, lng_deg):
    lat = np.radians(np.asarray(lat_deg, np.float64))
    lng = np.radians(np.asarray(lng_deg, np.float64))
    cos_lat = np.cos(lat)
    return cos_lat * np.cos(lng), cos_lat * np.sin(lng), np.sin(lat)


def xyz_to_face_uv(x, y, z):
    """Largest-absolute-component face selection + gnomonic (u,v)."""
    x = np.asarray(x, np.float64)
    y = np.asarray(y, np.float64)
    z = np.asarray(z, np.float64)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az),
        np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    ).astype(np.int64)
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (ue, ve, de) in enumerate(
        (
            (lambda: y / x, lambda: z / x, None),
            (lambda: -x / y, lambda: z / y, None),
            (lambda: -x / z, lambda: -y / z, None),
            (lambda: z / x, lambda: y / x, None),
            (lambda: z / y, lambda: -x / y, None),
            (lambda: -y / z, lambda: -x / z, None),
        )
    ):
        m = face == f
        if m.any():
            with np.errstate(divide="ignore", invalid="ignore"):
                u[m] = ue()[m]
                v[m] = ve()[m]
    return face, u, v


def uv_to_st(u):
    """Quadratic projection (the s2geometry default)."""
    u = np.asarray(u, np.float64)
    with np.errstate(invalid="ignore"):
        return np.where(
            u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u), 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u)
        )


def st_to_ij(s):
    i = np.floor(np.asarray(s, np.float64) * _MAX_SIZE).astype(np.int64)
    return np.clip(i, 0, _MAX_SIZE - 1)


# ---------------------------------------------------------------------------
# (face, i, j) → cell id (Hilbert), vectorized
# ---------------------------------------------------------------------------

def face_ij_to_id(face, i, j) -> np.ndarray:
    face = np.asarray(face, np.uint64)
    i = np.asarray(i, np.uint64)
    j = np.asarray(j, np.uint64)
    n = face << np.uint64(_POS_BITS - 1)
    bits = face & np.uint64(_SWAP_MASK)
    mask = np.uint64((1 << _LOOKUP_BITS) - 1)
    for k in range(7, -1, -1):
        sh = np.uint64(k * _LOOKUP_BITS)
        bits += ((i >> sh) & mask) << np.uint64(_LOOKUP_BITS + 2)
        bits += ((j >> sh) & mask) << np.uint64(2)
        bits = _LOOKUP_POS[bits]
        n |= (bits >> np.uint64(2)) << np.uint64(k * 2 * _LOOKUP_BITS)
        bits &= np.uint64(_SWAP_MASK | _INVERT_MASK)
    return n * np.uint64(2) + np.uint64(1)


def id_to_face_ij(ids) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of :func:`face_ij_to_id` (leaf ids)."""
    ids = np.asarray(ids, np.uint64)
    face = (ids >> np.uint64(_POS_BITS)).astype(np.int64)
    n = ids >> np.uint64(1)
    i = np.zeros_like(ids)
    j = np.zeros_like(ids)
    bits = (face.astype(np.uint64)) & np.uint64(_SWAP_MASK)
    nbits = (_MAX_LEVEL_REMAINDER := MAX_LEVEL - 7 * _LOOKUP_BITS)
    for k in range(7, -1, -1):
        nb = nbits if k == 7 else _LOOKUP_BITS
        chunk = (n >> np.uint64(k * 2 * _LOOKUP_BITS)) & np.uint64((1 << (2 * nb)) - 1)
        bits += chunk << np.uint64(2)
        bits = _LOOKUP_IJ[bits]
        i += (bits >> np.uint64(_LOOKUP_BITS + 2)) << np.uint64(k * _LOOKUP_BITS)
        j += ((bits >> np.uint64(2)) & np.uint64((1 << _LOOKUP_BITS) - 1)) << np.uint64(
            k * _LOOKUP_BITS
        )
        bits &= np.uint64(_SWAP_MASK | _INVERT_MASK)
    return face, i.astype(np.int64), j.astype(np.int64)


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

def cell_id(lat_deg, lng_deg, level: int = MAX_LEVEL) -> np.ndarray:
    """Leaf-or-coarser cell id(s) for point(s); vectorized."""
    x, y, z = latlng_to_xyz(lat_deg, lng_deg)
    face, u, v = xyz_to_face_uv(x, y, z)
    i = st_to_ij(uv_to_st(u))
    j = st_to_ij(uv_to_st(v))
    leaf = face_ij_to_id(face, i, j)
    if level >= MAX_LEVEL:
        return leaf
    return parent(leaf, level)


def lsb_for_level(level: int) -> np.uint64:
    return np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))


def parent(ids, level: int) -> np.ndarray:
    ids = np.asarray(ids, np.uint64)
    new_lsb = lsb_for_level(level)
    # (id & -new_lsb) | new_lsb, with -x in uint64 = ~x + 1
    neg = (~new_lsb) + np.uint64(1)
    return (ids & neg) | new_lsb


def level_of(ids) -> np.ndarray:
    ids = np.asarray(ids, np.uint64)
    lsb = ids & ((~ids) + np.uint64(1))
    # level = MAX_LEVEL - (trailing zeros / 2)
    tz = np.zeros(ids.shape, dtype=np.int64)
    v = lsb.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        m = (v & np.uint64((1 << shift) - 1)) == 0
        has = v != 0
        sel = m & has
        tz[sel] += shift
        v[sel] >>= np.uint64(shift)
    return MAX_LEVEL - tz // 2


def token(ids) -> np.ndarray:
    """Standard S2 token: 16-hex-digit id, trailing zeros stripped.

    Batch-vectorized: ONE ``hexlify`` over the whole big-endian id
    buffer formats every digit, and the per-id keep-length comes from
    vectorized trailing-zero-bit math (lowest-set-bit is a power of
    two, exact in float64, so ``log2`` recovers the bit index); the
    only per-row Python left is a constant-time string slice (~10x
    cheaper than per-id ``format``+``rstrip``)."""
    import binascii

    ids = np.atleast_1d(np.asarray(ids, np.uint64))
    n = len(ids)
    out = np.empty(n, dtype=object)
    if n == 0:
        return out
    hexstr = binascii.hexlify(ids.astype(">u8").tobytes()).decode("ascii")
    low = ids & (np.uint64(0) - ids)  # lowest set bit (0 for id==0)
    nz = ids != 0
    tz = np.zeros(n, np.int64)
    tz[nz] = np.round(np.log2(low[nz].astype(np.float64))).astype(np.int64)
    keep = np.where(nz, 16 - tz // 4, 0)
    for i, k in enumerate(keep.tolist()):
        out[i] = hexstr[i * 16 : i * 16 + k] if k else "X"
    return out


def token_to_id(tok: str) -> int:
    return int(tok.ljust(16, "0"), 16)


def cell_center_latlng(ids) -> tuple[np.ndarray, np.ndarray]:
    """Approximate center (uv center of the cell's leaf ij) — used for
    ring-expansion distance bounds, not for exact geometry."""
    ids = np.atleast_1d(np.asarray(ids, np.uint64))
    lvl = level_of(ids)
    face, i, j = id_to_face_ij(_leaf_of(ids))
    size = np.left_shift(np.int64(1), MAX_LEVEL - lvl)
    s = ((i // size) * size + size * 0.5) / _MAX_SIZE
    t = ((j // size) * size + size * 0.5) / _MAX_SIZE
    u = _st_to_uv(s)
    v = _st_to_uv(t)
    x, y, z = _face_uv_to_xyz(face, u, v)
    norm = np.sqrt(x * x + y * y + z * z)
    lat = np.degrees(np.arcsin(z / norm))
    lng = np.degrees(np.arctan2(y, x))
    return lat, lng


def _leaf_of(ids) -> np.ndarray:
    """Minimum leaf contained in each cell (id - lsb + 1)."""
    ids = np.asarray(ids, np.uint64)
    lsb = ids & ((~ids) + np.uint64(1))
    return ids - lsb + np.uint64(1)


def _st_to_uv(s):
    s = np.asarray(s, np.float64)
    return np.where(
        s >= 0.5,
        (1.0 / 3.0) * (4.0 * s * s - 1.0),
        (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)),
    )


def _face_uv_to_xyz(face, u, v):
    face = np.asarray(face)
    u = np.asarray(u, np.float64)
    v = np.asarray(v, np.float64)
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    frames = (
        (lambda u, v: (np.ones_like(u), u, v)),
        (lambda u, v: (-u, np.ones_like(u), v)),
        (lambda u, v: (-u, -v, np.ones_like(u))),
        (lambda u, v: (-np.ones_like(u), -v, -u)),
        (lambda u, v: (v, -np.ones_like(u), -u)),
        (lambda u, v: (v, u, -np.ones_like(u))),
    )
    for f, fn in enumerate(frames):
        m = face == f
        if np.any(m):
            xf, yf, zf = fn(u[m], v[m])
            x[m], y[m], z[m] = xf, yf, zf
    return x, y, z


# ---------------------------------------------------------------------------
# covering
# ---------------------------------------------------------------------------

def bbox_covering(
    lng_min: float,
    lat_min: float,
    lng_max: float,
    lat_max: float,
    level: int,
    max_cells: int = 4096,
) -> np.ndarray:
    """Level-``level`` cell ids forming a superset cover of the rect.

    Single-face fast path: enumerate the padded (i,j) rectangle spanned
    by 8 boundary samples. If the rect spans faces (not our fixture
    domain), cover each face's clipped sample set the same way.
    Raises if the cover would exceed ``max_cells`` — pick a coarser
    level instead (:func:`fitting_covering` does this).
    """
    lats = np.array(
        [lat_min, lat_min, lat_max, lat_max, (lat_min + lat_max) / 2,
         lat_min, lat_max, (lat_min + lat_max) / 2],
        np.float64,
    )
    lngs = np.array(
        [lng_min, lng_max, lng_min, lng_max, (lng_min + lng_max) / 2,
         (lng_min + lng_max) / 2, (lng_min + lng_max) / 2, lng_min],
        np.float64,
    )
    x, y, z = latlng_to_xyz(lats, lngs)
    face, u, v = xyz_to_face_uv(x, y, z)
    shift = MAX_LEVEL - level
    out = []
    for f in np.unique(face):
        m = face == f
        i = st_to_ij(uv_to_st(u[m])) >> shift
        j = st_to_ij(uv_to_st(v[m])) >> shift
        max_ij = (1 << level) - 1
        i0, i1 = max(int(i.min()) - 1, 0), min(int(i.max()) + 1, max_ij)
        j0, j1 = max(int(j.min()) - 1, 0), min(int(j.max()) + 1, max_ij)
        n = (i1 - i0 + 1) * (j1 - j0 + 1)
        if n > max_cells:
            raise ValueError(
                f"covering at level {level} needs {n} cells > max_cells={max_cells}"
            )
        ii, jj = np.meshgrid(
            np.arange(i0, i1 + 1, dtype=np.int64),
            np.arange(j0, j1 + 1, dtype=np.int64),
            indexing="ij",
        )
        leaf_i = ii.ravel() << shift
        leaf_j = jj.ravel() << shift
        ids = face_ij_to_id(np.full(leaf_i.shape, f, np.int64), leaf_i, leaf_j)
        out.append(parent(ids, level))
    return np.unique(np.concatenate(out))


def bbox_covering_batch(
    lng_min: np.ndarray,
    lat_min: np.ndarray,
    lng_max: np.ndarray,
    lat_max: np.ndarray,
    level: int,
    max_cells: int = 4096,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized :func:`bbox_covering` over n bboxes at once: ONE
    xyz/face/uv pass for all 8n boundary samples and a repeat/cumsum
    flat enumeration of every bbox's (i,j) rectangle — no per-bbox
    Python math. Returns flat ``(ids, counts, over)``: row k's cells are
    the next ``counts[k]`` ids, identical to the scalar output; a row
    over ``max_cells`` is flagged in ``over`` and gets none (the batch
    never raises). Bboxes whose samples span >1 face (not the fixture
    domain) fall back to the scalar path row-wise."""
    lng_min = np.asarray(lng_min, np.float64)
    lat_min = np.asarray(lat_min, np.float64)
    lng_max = np.asarray(lng_max, np.float64)
    lat_max = np.asarray(lat_max, np.float64)
    n = len(lng_min)
    midx = (lng_min + lng_max) / 2
    midy = (lat_min + lat_max) / 2
    lats = np.stack(
        [lat_min, lat_min, lat_max, lat_max, midy, lat_min, lat_max, midy], axis=1
    )
    lngs = np.stack(
        [lng_min, lng_max, lng_min, lng_max, midx, midx, midx, lng_min], axis=1
    )
    x, y, z = latlng_to_xyz(lats.ravel(), lngs.ravel())
    face, u, v = xyz_to_face_uv(x, y, z)
    shift = MAX_LEVEL - level
    face = face.reshape(n, 8)
    i = (st_to_ij(uv_to_st(u)) >> shift).reshape(n, 8)
    j = (st_to_ij(uv_to_st(v)) >> shift).reshape(n, 8)
    multi = (face != face[:, :1]).any(axis=1)
    max_ij = (1 << level) - 1
    i0 = np.clip(i.min(axis=1) - 1, 0, max_ij)
    i1 = np.clip(i.max(axis=1) + 1, 0, max_ij)
    j0 = np.clip(j.min(axis=1) - 1, 0, max_ij)
    j1 = np.clip(j.max(axis=1) + 1, 0, max_ij)
    ni, nj = i1 - i0 + 1, j1 - j0 + 1
    counts = np.where(multi, 0, ni * nj)
    over = counts > max_cells
    counts[over] = 0
    owner = np.repeat(np.arange(n), counts)
    ends = np.cumsum(counts)
    rank = np.arange(counts.sum()) - np.repeat(ends - counts, counts)
    ii = i0[owner] + rank // nj[owner]
    jj = j0[owner] + rank % nj[owner]
    ids = [parent(face_ij_to_id(face[:, 0][owner], ii << shift, jj << shift), level)]
    owners = [owner]
    for k in np.flatnonzero(multi):
        try:
            cover = bbox_covering(
                float(lng_min[k]), float(lat_min[k]),
                float(lng_max[k]), float(lat_max[k]), level, max_cells,
            )
        except ValueError:
            over[k] = True
            continue
        ids.append(cover)
        owners.append(np.full(len(cover), k))
    ids, owner = np.concatenate(ids), np.concatenate(owners)
    # sort within each bbox's slice → byte-identical to the scalar path
    order = np.lexsort((ids, owner))
    return ids[order], np.bincount(owner, minlength=n), over


def fitting_covering(
    lng_min, lat_min, lng_max, lat_max, level: int, max_cells: int,
    step: int = 2, min_level: int = 0,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Each row's cover at the finest of ``level``, ``level - step``,
    ... (not below ``min_level``) that fits ``max_cells``: one
    :func:`bbox_covering_batch` call per level over the rows still over
    budget. Returns ``(levels, ids, counts)``; raises ``ValueError``
    when a row does not fit at ``min_level``."""
    boxes = [np.asarray(a, np.float64) for a in (lng_min, lat_min, lng_max, lat_max)]
    n = len(boxes[0])
    levels = np.full(n, level, np.int32)
    rows = np.arange(n)
    ids, owners = [], []
    while True:
        part, counts, over = bbox_covering_batch(
            *(b[rows] for b in boxes), level, max_cells
        )
        levels[rows] = level
        ids.append(part)
        owners.append(np.repeat(rows, counts))
        rows = rows[over]
        if not len(rows):
            break
        if level <= min_level:
            raise ValueError(f"no covering level fits max_cells={max_cells}")
        level = max(level - step, min_level)
    owner = np.concatenate(owners)
    order = np.argsort(owner, kind="stable")
    return levels, np.concatenate(ids)[order], np.bincount(owner, minlength=n)
