"""Arrow UDFs binding the NumPy kernels to Spark columns (N1/N2 cell
assignment, geometry digests). Every UDF is one flat kernel, pa.Array
in and out: list columns are read through their Arrow offsets and
values, so there is no per-row Python; loops run over cover levels
and hex resolutions only.

S2 ids are uint64; Spark LongType stores their two's-complement view
(bit pattern preserved; equality joins and grouping are unaffected).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm2shp_spark.functions import hexgrid, s2

#: the north rule's hex resolution family
HEX_RESOLUTIONS = (7, 8, 9, 10, 11, 12)


def _np(a: pa.Array) -> np.ndarray:
    return a.to_numpy(zero_copy_only=False)


def _flat(a: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Values and 0-based offsets of a list column (slice-aware:
    ``a.values`` ignores the slice, ``a.offsets`` does not)."""
    offsets = a.offsets.to_numpy()
    values = a.values.slice(offsets[0], offsets[-1] - offsets[0])
    return _np(values), offsets - offsets[0]


def _offsets(counts: np.ndarray) -> np.ndarray:
    return np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)


def _lists(counts: np.ndarray, values) -> pa.Array:
    """List column whose row k holds the next ``counts[k]`` values."""
    return pa.ListArray.from_arrays(_offsets(counts), values)


def token_lists(ids: np.ndarray, counts: np.ndarray) -> pa.Array:
    """``list<string>`` of S2 tokens in the flat layout of
    :func:`s2.bbox_covering_batch`: one token pass over all rows."""
    return _lists(counts, pa.array(s2.token(ids), pa.string()))


def s2_token_udf(level: int):
    # (lon, lat) argument order, matching every sibling factory in
    # this module — the underlying s2.cell_id takes (lat, lon), and a
    # transposed call is a valid point elsewhere on the globe, so an
    # order mismatch here would fail silently
    @F.arrow_udf(T.StringType())
    def _f(lon: pa.Array, lat: pa.Array) -> pa.Array:
        return pa.array(s2.token(s2.cell_id(_np(lat), _np(lon), level)), pa.string())

    return _f


def hex_cell_udf(res: int):
    @F.arrow_udf(T.LongType())
    def _f(lon: pa.Array, lat: pa.Array) -> pa.Array:
        return pa.array(hexgrid.hex_cell(_np(lon), _np(lat), res))

    return _f


def cell_family_udf(s2_level: int, hex_resolutions: tuple[int, ...]):
    """One struct-returning UDF computing the whole cell-index column
    family in a single Arrow pass. One serde round-trip instead of one
    per column — at 10M rows this is the difference between a
    serde-bound and a compute-bound stage (measured ~4x)."""
    schema = T.StructType([
        T.StructField("s2_cell", T.LongType()),
        T.StructField("s2_token", T.StringType()),
    ] + [T.StructField(f"hex_r{r}", T.LongType()) for r in hex_resolutions])

    @F.arrow_udf(schema)
    def _f(lon: pa.Array, lat: pa.Array) -> pa.Array:
        lo, la = _np(lon), _np(lat)
        ids = s2.cell_id(la, lo, s2_level)
        cols = [pa.array(ids.astype(np.int64)), pa.array(s2.token(ids), pa.string())]
        cols += [pa.array(hexgrid.hex_cell(lo, la, r)) for r in hex_resolutions]
        return pa.StructArray.from_arrays(cols, names=schema.names)

    return _f


def with_point_cells(
    df: DataFrame,
    s2_level: int = 12,
    hex_resolutions: tuple[int, ...] = HEX_RESOLUTIONS,
) -> DataFrame:
    """Add the standard cell-index column family to a point table:
    ``s2_cell`` + ``s2_token`` at ``s2_level``, ``hex_r{res}`` per res.
    """
    fam = cell_family_udf(s2_level, hex_resolutions)
    out = df.withColumn("_cells", fam(F.col("lon"), F.col("lat")))
    for f in fam.returnType.names:
        out = out.withColumn(f, F.col(f"_cells.{f}"))
    return out.drop("_cells")


def way_cells_udf(s2_level: int, hex_resolutions: tuple[int, ...]):
    """Geometry cell assignment (north rule: every assembled
    linestring/polygon carries H3-style cells res 7-12 + S2 covering
    tokens): per way, the distinct vertex hex cells per resolution in
    ascending order and an S2 bbox-covering token set. The covering
    level adapts downward (level -2 per step, :func:`s2.fitting_covering`)
    until the cover fits 64 cells — the same guarantee the PIP tile
    explode relies on: a superset, never a miss. A zero-vertex way
    keeps ``s2_level`` and empty arrays. One Arrow pass for the whole
    family."""
    schema = T.StructType([
        T.StructField("s2_cover_level", T.IntegerType()),
        T.StructField("s2_cover_tokens", T.ArrayType(T.StringType())),
    ] + [
        T.StructField(f"hex_r{r}_cells", T.ArrayType(T.LongType()))
        for r in hex_resolutions
    ])

    @F.arrow_udf(schema)
    def _f(lons: pa.Array, lats: pa.Array) -> pa.Array:
        lo, offsets = _flat(lons)
        la, _ = _flat(lats)
        n = len(lons)
        counts = np.diff(offsets)
        rows = np.flatnonzero(counts)
        starts = offsets[rows]
        levels = np.full(n, s2_level, np.int32)
        ntok = np.zeros(n, np.int64)
        levels[rows], ids, ntok[rows] = s2.fitting_covering(
            np.minimum.reduceat(lo, starts), np.minimum.reduceat(la, starts),
            np.maximum.reduceat(lo, starts), np.maximum.reduceat(la, starts),
            s2_level, max_cells=64,
        )
        cols = [pa.array(levels), token_lists(ids, ntok)]
        owner = np.repeat(np.arange(n), counts)
        for r in hex_resolutions:
            cells = hexgrid.hex_cell(lo, la, r)
            order = np.lexsort((cells, owner))
            cells, own = cells[order], owner[order]
            first = np.ones(len(cells), bool)
            first[1:] = (cells[1:] != cells[:-1]) | (own[1:] != own[:-1])
            cols.append(_lists(np.bincount(own[first], minlength=n), cells[first]))
        return pa.StructArray.from_arrays(cols, names=schema.names)

    return _f


def with_way_cells(
    df: DataFrame,
    s2_level: int = 12,
    hex_resolutions: tuple[int, ...] = HEX_RESOLUTIONS,
) -> DataFrame:
    """Add the geometry cell-index family to an assembled-ways table
    (requires lons/lats array columns)."""
    fam = way_cells_udf(s2_level, hex_resolutions)
    out = df.withColumn("_wc", fam(F.col("lons"), F.col("lats")))
    for f in fam.returnType.names:
        out = out.withColumn(f, F.col(f"_wc.{f}"))
    return out.drop("_wc")


def _binary(sizes: np.ndarray, data: np.ndarray) -> pa.Array:
    """Binary column whose row k holds the next ``sizes[k]`` bytes."""
    return pa.BinaryArray.from_buffers(
        pa.binary(), len(sizes), [None, pa.py_buffer(_offsets(sizes)), pa.py_buffer(data)]
    )


@F.arrow_udf(T.BinaryType())
def wkb_udf(kind: pa.Array, lons: pa.Array, lats: pa.Array) -> pa.Array:
    """OGC SFA little-endian WKB of a batch of ways, one encoder pass: a
    ``polygon`` is ``<BIII`` (one ring) + coordinates, its ring closed
    by repeating the first vertex when first ≠ last (an empty ring
    stays empty); any other kind is a ``<BII`` linestring."""
    lo, offsets = _flat(lons)
    la, _ = _flat(lats)
    n = len(kind)
    poly = _np(pc.fill_null(pc.equal(kind, "polygon"), False))
    counts = np.diff(offsets)
    ring = np.flatnonzero(poly & (counts > 0))
    head, tail = offsets[ring], offsets[ring + 1] - 1
    close = np.zeros(n, np.int64)
    close[ring] = (lo[head] != lo[tail]) | (la[head] != la[tail])
    nv = counts + close
    # source vertex of every output vertex: the row's own, then its
    # first vertex again as the closing one
    owner = np.repeat(np.arange(n), nv)
    rank = np.arange(len(owner)) - np.repeat(np.cumsum(nv) - nv, nv)
    src = offsets[owner] + np.where(rank < counts[owner], rank, 0)
    coords = np.stack([lo[src], la[src]], axis=1).astype("<f8")
    # byte order, then type + vertex count (line) or type + ring count
    # + vertex count (polygon) as uint32 words
    words = np.stack([np.where(poly, 3, 2), np.where(poly, 1, nv), nv], axis=1)
    hdr = np.column_stack([np.ones(n, np.uint8), words.astype("<u4").view(np.uint8)])
    hlen = np.where(poly, 13, 9)
    hbytes = hdr[np.arange(13) < hlen[:, None]]
    return pc.binary_join_element_wise(
        _binary(hlen, hbytes), _binary(16 * nv, coords), b""
    )


def with_geometry_meta(df: DataFrame) -> DataFrame:
    """Add wkb + sha1 digest + bbox columns to an assembled-ways table."""
    return (
        df.withColumn("wkb", wkb_udf("kind", "lons", "lats"))
        .withColumn("geom_digest", F.sha1("wkb"))
        .withColumn("lon_min", F.array_min("lons"))
        .withColumn("lon_max", F.array_max("lons"))
        .withColumn("lat_min", F.array_min("lats"))
        .withColumn("lat_max", F.array_max("lats"))
    )
