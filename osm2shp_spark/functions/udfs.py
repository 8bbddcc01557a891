"""Arrow-vectorized pandas UDFs binding the NumPy kernels to Spark
columns (N1/N2 cell assignment, geometry digests). Everything here is
batch-vectorized — no per-row Python (BASELINE input_hint).

S2 ids are uint64; Spark LongType stores their two's-complement view
(bit pattern preserved; equality joins and grouping are unaffected).
"""

from __future__ import annotations

import pandas as pd
import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm2shp_spark.functions import geometry as G
from osm2shp_spark.functions import hexgrid, s2

#: the north rule's hex resolution family
HEX_RESOLUTIONS = (7, 8, 9, 10, 11, 12)


def s2_token_udf(level: int):
    # (lon, lat) argument order, matching every sibling factory in
    # this module — the underlying s2.cell_id takes (lat, lon), and a
    # transposed call is a valid point elsewhere on the globe, so an
    # order mismatch here would fail silently
    @F.pandas_udf(T.StringType())
    def _f(lon: pd.Series, lat: pd.Series) -> pd.Series:
        ids = s2.cell_id(lat.to_numpy(np.float64), lon.to_numpy(np.float64), level)
        return pd.Series(s2.token(ids))

    return _f


def hex_cell_udf(res: int):
    @F.pandas_udf(T.LongType())
    def _f(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(
            hexgrid.hex_cell(lon.to_numpy(np.float64), lat.to_numpy(np.float64), res)
        )

    return _f


def cell_family_udf(s2_level: int, hex_resolutions: tuple[int, ...]):
    """One struct-returning pandas UDF computing the whole cell-index
    column family in a single Arrow pass. One serde round-trip instead
    of one per column — at 10M rows this is the difference between a
    serde-bound and a compute-bound stage (measured ~4x)."""
    fields = [
        T.StructField("s2_cell", T.LongType()),
        T.StructField("s2_token", T.StringType()),
    ] + [T.StructField(f"hex_r{r}", T.LongType()) for r in hex_resolutions]

    @F.pandas_udf(T.StructType(fields))
    def _f(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        lo = lon.to_numpy(np.float64)
        la = lat.to_numpy(np.float64)
        ids = s2.cell_id(la, lo, s2_level)
        out = {
            "s2_cell": ids.astype(np.int64),
            "s2_token": s2.token(ids),
        }
        for r in hex_resolutions:
            out[f"hex_r{r}"] = hexgrid.hex_cell(lo, la, r)
        return pd.DataFrame(out)

    return _f


def with_point_cells(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    s2_level: int = 12,
    hex_resolutions: tuple[int, ...] = HEX_RESOLUTIONS,
) -> DataFrame:
    """Add the standard cell-index column family to a point table:
    ``s2_cell`` + ``s2_token`` at ``s2_level``, ``hex_r{res}`` per res.
    """
    fam = cell_family_udf(s2_level, hex_resolutions)
    out = df.withColumn("_cells", fam(F.col(lon_col), F.col(lat_col)))
    for f in ["s2_cell", "s2_token"] + [f"hex_r{r}" for r in hex_resolutions]:
        out = out.withColumn(f, F.col(f"_cells.{f}"))
    return out.drop("_cells")


def way_cells_udf(s2_level: int, hex_resolutions: tuple[int, ...]):
    """Geometry cell assignment (north rule: every assembled
    linestring/polygon carries H3-style cells res 7-12 + S2 covering
    tokens): per way, the distinct vertex hex cells per resolution and
    an S2 bbox-covering token set. The covering level adapts downward
    (level -2 per step) until the cover fits ``max_cells`` — the same
    guarantee the PIP tile explode relies on: a superset, never a
    miss. One Arrow pass for the whole family."""
    fields = [
        T.StructField("s2_cover_level", T.IntegerType()),
        T.StructField("s2_cover_tokens", T.ArrayType(T.StringType())),
    ] + [
        T.StructField(f"hex_r{r}_cells", T.ArrayType(T.LongType()))
        for r in hex_resolutions
    ]

    @F.pandas_udf(T.StructType(fields))
    def _f(lons: pd.Series, lats: pd.Series) -> pd.DataFrame:
        out: dict[str, list] = {
            "s2_cover_level": [],
            "s2_cover_tokens": [],
        }
        for r in hex_resolutions:
            out[f"hex_r{r}_cells"] = []
        for lo, la in zip(lons, lats):
            lo = np.asarray(lo, np.float64)
            la = np.asarray(la, np.float64)
            if len(lo) == 0:
                # degenerate geometry: empty cover, no cells (a bare
                # min() here would raise inside the adaptive loop)
                out["s2_cover_level"].append(s2_level)
                out["s2_cover_tokens"].append([])
                for r in hex_resolutions:
                    out[f"hex_r{r}_cells"].append([])
                continue
            level = s2_level
            # adapt DOWNWARD only while the cover budget is exceeded;
            # level 0 is a single face cell and always fits, so any
            # other ValueError must surface — a bare retry loop here
            # once spun forever on degenerate input
            while True:
                try:
                    ids = s2.bbox_covering(
                        float(lo.min()), float(la.min()),
                        float(lo.max()), float(la.max()),
                        level, max_cells=64,
                    )
                    break
                except ValueError:
                    if level <= 0:
                        raise
                    level = max(level - 2, 0)
            out["s2_cover_level"].append(level)
            out["s2_cover_tokens"].append(list(s2.token(ids)))
            for r in hex_resolutions:
                out[f"hex_r{r}_cells"].append(
                    np.unique(hexgrid.hex_cell(lo, la, r)).tolist()
                )
        return pd.DataFrame(out)

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
    for f in ["s2_cover_level", "s2_cover_tokens"] + [
        f"hex_r{r}_cells" for r in hex_resolutions
    ]:
        out = out.withColumn(f, F.col(f"_wc.{f}"))
    return out.drop("_wc")


@F.pandas_udf(T.BinaryType())
def wkb_udf(kind: pd.Series, lons: pd.Series, lats: pd.Series) -> pd.Series:
    out = [
        G.wkb_for(k, lo, la)
        for k, lo, la in zip(kind, lons, lats)
    ]
    return pd.Series(out)


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
