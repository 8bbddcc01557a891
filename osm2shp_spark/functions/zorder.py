"""Z-order (Morton) spatial data layout.

At 100 TB the dominant cost of every spatial query is the scan, and a
scan only skips data the layout lets it skip: parquet prunes row
groups / files by column min-max statistics, so points written in
random order give every file the full lon/lat extent and nothing ever
prunes. Interleaving the bits of quantized (lon, lat) into a single
Morton key and range-partitioning + sorting the write by that key
gives each output file a narrow contiguous zkey interval — a compact
spatial rectangle-of-rectangles — and any bbox query becomes a small
set of zkey range predicates that Catalyst pushes into the parquet
scan (`PushedFilters: [GreaterThanOrEqual(zkey,..), ...]`).

Everything here is Catalyst-only (shift/and/or column expressions —
whole-stage codegen, no Python), and the key arithmetic has an exact
SQL twin for the DuckDB oracle (same IEEE-double quantization, same
magic-number bit spreading via `<<`/`&`/`|`, which both dialects
share).

No counterpart in the reference (osm2shp appends shapes in arrival
order — ``SHPWriteObject(shp_, -1, obj)``, osm/shapefile.cc:32-49);
this is the Spark-native answer to the same user need — fast spatial
access to the output — at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: default fixture extent (sources/synthetic.py nodes live in this box)
DEFAULT_BBOX = (8.0, 47.0, 9.0, 48.0)
BITS = 16  # per axis → 32-bit zkey

#: (shift, mask) steps spreading a 16-bit int to even bit positions
_SPREAD = ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555))


# ---------------------------------------------------------------------------
# Catalyst column expressions
# ---------------------------------------------------------------------------

def quantize_col(c: Column, lo: float, hi: float) -> Column:
    """[lo, hi] → integer grid [0, 2**BITS - 1] (clamped)."""
    n = (1 << BITS) - 1
    q = F.floor((c - F.lit(float(lo))) / F.lit(float(hi - lo)) * F.lit(float(n)))
    return F.greatest(F.lit(0), F.least(F.lit(n), q)).cast("long")


def _spread_col(c: Column) -> Column:
    for shift, mask in _SPREAD:
        c = (c.bitwiseOR(F.shiftleft(c, shift))).bitwiseAND(F.lit(mask))
    return c


def zkey_col(lon: Column, lat: Column) -> Column:
    """Morton key column: bit-interleaved quantized (lon, lat) over
    ``DEFAULT_BBOX``; lon in the even bits, lat in the odd."""
    qx = _spread_col(quantize_col(lon, DEFAULT_BBOX[0], DEFAULT_BBOX[2]))
    qy = _spread_col(quantize_col(lat, DEFAULT_BBOX[1], DEFAULT_BBOX[3]))
    return qx.bitwiseOR(F.shiftleft(qy, 1))


# ---------------------------------------------------------------------------
# portable SQL twin (DuckDB oracle / Spark SQL — shared dialect subset)
# ---------------------------------------------------------------------------

def quantize_sql(expr: str, lo: float, hi: float) -> str:
    n = (1 << BITS) - 1
    q = f"CAST(FLOOR(({expr} - {lo!r}e0) / {hi - lo!r}e0 * {float(n)!r}e0) AS BIGINT)"
    return f"GREATEST(0, LEAST({n}, {q}))"


def _spread_sql(expr: str) -> str:
    for shift, mask in _SPREAD:
        expr = f"((({expr}) | (({expr}) << {shift})) & {mask})"
    return expr


def zkey_sql(lon_expr: str, lat_expr: str) -> str:
    """SQL rendering of :func:`zkey_col` — evaluates identically in
    DuckDB and Spark SQL (IEEE doubles, two's-complement bit ops).
    The spread steps reference the quantized sub-expression multiple
    times; both optimizers CSE it, and the values stay < 2^32 so no
    sign/overflow divergence is possible."""
    qx = _spread_sql(quantize_sql(lon_expr, DEFAULT_BBOX[0], DEFAULT_BBOX[2]))
    qy = _spread_sql(quantize_sql(lat_expr, DEFAULT_BBOX[1], DEFAULT_BBOX[3]))
    return f"(({qx}) | (({qy}) << 1))"


# ---------------------------------------------------------------------------
# layout writer + pruned reader
# ---------------------------------------------------------------------------

def zorder_write(df: DataFrame, path: str, target_files: int = 8) -> None:
    """Write ``df`` parquet laid out by Morton key: range-partition on
    zkey (one shuffle, contiguous key interval per output file) then
    sort within partitions so row-group min-max stats are tight too.
    ``target_files`` stands in for the cluster-size-derived file count
    a real deployment would compute from bytes/file."""
    (
        df.withColumn("zkey", zkey_col(F.col("lon"), F.col("lat")))
        .repartitionByRange(target_files, "zkey")
        .sortWithinPartitions("zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def _interleave_int(x: int, y: int) -> int:
    z = 0
    for i in range(BITS):
        z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
    return z


def zkey_ranges(
    bbox_query: tuple[float, float, float, float],
) -> list[tuple[int, int]]:
    """Decompose a query bbox into a small list of contiguous zkey
    intervals (merged quadtree cells at the coarsest level that keeps
    the cell count ≤ 64). The union of intervals is a
    SUPERSET of the bbox's keys — callers re-filter on lon/lat for
    exactness; the intervals only exist to prune the scan."""

    def _q(v: float, lo: float, hi: float) -> int:
        # math.floor, NOT int(): the write path (quantize_col /
        # quantize_sql) floors, and int() truncates toward zero —
        # below-bbox corners would pre-clamp to 0 instead of -1, an
        # off-by-one only the clamp happens to hide today. One
        # formula, one rounding.
        import math

        n = (1 << BITS) - 1
        return max(0, min(n, math.floor((v - lo) / (hi - lo) * n)))

    x0, y0, x1, y1 = DEFAULT_BBOX
    qx0, qx1 = _q(bbox_query[0], x0, x1), _q(bbox_query[2], x0, x1)
    qy0, qy1 = _q(bbox_query[1], y0, y1), _q(bbox_query[3], y0, y1)
    # finest-to-coarsest: stop at the smallest cell side whose count
    # fits the budget — the tightest covering, hence the most pruning
    for s in range(BITS + 1):  # cell side = 2**s grid steps
        cx0, cx1, cy0, cy1 = qx0 >> s, qx1 >> s, qy0 >> s, qy1 >> s
        if (cx1 - cx0 + 1) * (cy1 - cy0 + 1) <= 64:
            break
    span = 1 << (2 * s)  # keys per cell
    starts = sorted(
        _interleave_int(cx << s, cy << s)
        for cx in range(cx0, cx1 + 1)
        for cy in range(cy0, cy1 + 1)
    )
    merged: list[list[int]] = []
    for st in starts:
        if merged and st == merged[-1][1] + 1:
            merged[-1][1] = st + span - 1
        else:
            merged.append([st, st + span - 1])
    return [(a, b) for a, b in merged]


def read_bbox(
    spark, path: str, bbox_query: tuple[float, float, float, float]
) -> DataFrame:
    """Read a zorder_write layout restricted to a bbox: OR-of-zkey-range
    predicates prune files/row-groups at the scan (visible as
    PushedFilters), then an exact lon/lat filter on the survivors."""
    df = spark.read.parquet(path)
    ranges = zkey_ranges(bbox_query)
    key_pred = None
    for a, b in ranges:
        p = (F.col("zkey") >= a) & (F.col("zkey") <= b)
        key_pred = p if key_pred is None else key_pred | p
    return df.filter(key_pred).filter(
        (F.col("lon") >= bbox_query[0]) & (F.col("lon") <= bbox_query[2])
        & (F.col("lat") >= bbox_query[1]) & (F.col("lat") <= bbox_query[3])
    )
