"""Geometry generalization — the mapgen.sh GRASS post-processing
(O21-O24) as engine operators over assembled-ways tables:

- Douglas–Peucker simplification (``v.generalize method=douglas``,
  thresholds 0.002/0.001 per layer — mapgen.sh:59,68,77,86)
- consecutive-duplicate removal + degenerate-line drop
  (``v.clean rmdupl`` / ``rmline`` — mapgen.sh:60-61)
- geometry-digest dedup (drop identical geometries)

All per-geometry work is vectorized NumPy in one ``mapInPandas`` pass;
zero shuffle (map-side only), so it composes with the layer-partitioned
write for free.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2shp_spark.functions import geometry as G

#: the reference's per-layer DP thresholds (mapgen.sh:59,68,77,86),
#: read at call time; point/polygon layers pass through untouched
#: (mapgen.sh:54)
LAYER_THRESHOLDS: dict[str, float] = {
    "roadbig_line": 0.002,
    "roadmedium_line": 0.002,
    "railway_line": 0.002,
    "roadsmall_line": 0.001,
    "water_line": 0.001,
}

GENERALIZED_SCHEMA = (
    "way_id BIGINT, layer STRING, kind STRING, n_pts INT, "
    "lons ARRAY<DOUBLE>, lats ARRAY<DOUBLE>"
)


def generalize_ways(assembled: DataFrame) -> DataFrame:
    """Simplify + clean assembled line geometries.

    Per layer: DP-simplify at its threshold (layers without one pass
    through), drop consecutive duplicates, drop degenerate results
    (<2 distinct vertices — v.clean rmline).
    """
    th = LAYER_THRESHOLDS

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                xs = np.asarray(r.lons, np.float64)
                ys = np.asarray(r.lats, np.float64)
                if r.kind != "line":
                    # point/polygon layers pass through UNTOUCHED
                    # (mapgen.sh:54 runs v.generalize/v.clean on the
                    # line layers only) — rmdupl on a polygon ring
                    # would silently break row-for-row parity
                    rows.append(
                        (r.way_id, r.layer, r.kind, len(xs), xs.tolist(), ys.tolist())
                    )
                    continue
                eps = th.get(r.layer, 0.0)
                if eps > 0.0:
                    xs, ys = G.simplify(xs, ys, eps)
                xs, ys = G.drop_consecutive_duplicates(xs, ys)
                if G.is_degenerate_line(xs, ys):
                    continue
                rows.append(
                    (r.way_id, r.layer, r.kind, len(xs), xs.tolist(), ys.tolist())
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["way_id", "layer", "kind", "n_pts", "lons", "lats"],
                )

    return assembled.select(
        "way_id", "layer", "kind", "n_pts", "lons", "lats"
    ).mapInPandas(run, schema=GENERALIZED_SCHEMA)


def dedup_geometries(assembled: DataFrame) -> DataFrame:
    """Drop rows whose geometry digest duplicates an earlier one
    (rmdupl at the dataset level): keep the smallest way_id per digest.
    """
    from osm2shp_spark.functions.udfs import wkb_udf

    withd = assembled.withColumn(
        "geom_digest", F.sha1(wkb_udf("kind", "lons", "lats"))
    )
    w_min = withd.groupBy("geom_digest").agg(F.min("way_id").alias("way_id"))
    return withd.join(w_min, ["geom_digest", "way_id"], "left_semi").drop(
        "geom_digest"
    )
