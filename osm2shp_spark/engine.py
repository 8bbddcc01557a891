"""Top-level engine pipeline — the lifecycle the reference runs as
``osm2shp <planet> <base>`` + ``mapgen.sh`` (SURVEY §3.5), as one lazy
DataFrame DAG with durable lineage:

    nodes ──select(id,lon,lat)───────────────┐ (build side)
    ways ──filter──classify(kind,layer)──posexplode──JOIN──groupBy
          ──count==n_refs──assemble──[cells/digests]──write + manifest
    nodes ──filter(id>0 ∧ name)──classify──[cells]──write + manifest
    images ──[cells]──PIP layer classify──write + manifest

Outputs are layer-partitioned Parquet (the one-shapefile-per-layer
sink of osm/shapefile.cc:9-13 as partition dirs), CRS fixed EPSG:4326
(the reference never reprojects — osm/shapefile.cc:65-79), and every
stage appends per-partition lineage for resumability (N7).
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from osm2shp_spark.functions.udfs import (
    with_geometry_meta,
    with_point_cells,
    with_way_cells,
)
from osm2shp_spark.operators.assemble import assemble_ways_auto
from osm2shp_spark.operators.classify import classify_nodes
from osm2shp_spark.operators.skew import adaptive_cells
from osm2shp_spark.operators.spatial import pip_join
from osm2shp_spark.plans.manifest import Manifest, partition_lineage
from osm2shp_spark.sources.tables import write_partitioned

CRS = "EPSG:4326"


@dataclass
class RunResult:
    snapshot_id: str
    counts: dict = field(default_factory=dict)
    outputs: dict = field(default_factory=dict)


def _export_stage(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    stage: str,
    manifest: Manifest,
    snapshot: str,
) -> int:
    """Write one layer-partitioned output plus its lineage and return
    its row count WITHOUT a dedicated post-write ``count()`` rescan (at
    100 TB those are real jobs): an ``Observation`` rides the lineage
    append, whose per-partition ``row_count`` rows sum to the rows
    written (the digest pass reads the written data once anyway — that
    scan is the lineage feature, not overhead)."""
    obs = Observation(f"rows_{stage}")
    write_partitioned(df, path, ["layer"])
    # explicit schema: a zero-row partitioned write leaves only
    # _SUCCESS, and a bare read-back would raise
    # UNABLE_TO_INFER_SCHEMA, aborting the run AFTER the data
    # landed (an empty extract is a valid outcome, not an error)
    written = spark.read.schema(df.schema).parquet(path).withColumn(
        # digest partition: layer alone funnels an entire layer's
        # row hashes into ONE collect_list buffer (OOM/straggler at
        # scale); bucketing by the stable leading id column bounds
        # every group while staying deterministic across re-reads
        "part_key",
        F.xxhash64("layer")
        + F.pmod(F.xxhash64(F.col(df.columns[0])), F.lit(256)),
    )
    lineage = partition_lineage(written, stage, "part_key", snapshot)
    manifest.append(lineage.observe(obs, F.sum("row_count").alias("n")))
    # sum over zero lineage rows is NULL
    return int(obs.get["n"] or 0)


def run(
    spark: SparkSession,
    nodes: DataFrame,
    ways: DataFrame,
    out_dir: str,
    images: DataFrame | None = None,
) -> RunResult:
    """Run the full pipeline; returns per-output counts.

    ``nodes``/``ways`` must carry the extracted ``tag_*`` columns (use
    ``operators.classify.extract_tags`` for the raw OSM map shape);
    ``images`` needs (image_id, lon, lat) at minimum.
    """
    snapshot = uuid.uuid4().hex
    res = RunResult(snapshot_id=snapshot)
    manifest = Manifest(spark, os.path.join(out_dir, "_manifest"))

    # --- ways: assemble + geometry meta + cells --------------------------
    # strategy auto-selected by size stats (salted mega-way / general
    # Catalyst) — operators/assemble.py; every
    # assembled geometry carries hex cells res 7-12 + S2 covering
    # tokens (north rule), one Arrow pass each family
    assembled = with_way_cells(with_geometry_meta(assemble_ways_auto(nodes, ways)))
    way_out = os.path.join(out_dir, "ways")
    res.outputs["ways"] = way_out
    res.counts["exported_ways"] = _export_stage(
        spark, assembled, way_out, "ways", manifest, snapshot
    )

    # --- nodes: point export + cells --------------------------------------
    points = with_point_cells(classify_nodes(nodes))
    node_out = os.path.join(out_dir, "points")
    res.outputs["points"] = node_out
    res.counts["exported_nodes"] = _export_stage(
        spark, points, node_out, "points", manifest, snapshot
    )

    # --- images: cell index + PIP layer classification --------------------
    if images is not None:
        # north-rule adaptive cell splitting in the hot path: dense
        # cells re-index at finer resolution before the written index
        # feeds downstream rollups/joins (operators/skew.py)
        indexed = adaptive_cells(
            with_point_cells(images),
            base_res=9,
            hot_threshold=1000,
            # with_point_cells just computed this exact cell id —
            # reuse the column instead of a second full-table Arrow
            # pass through hex_cell_udf
            cell_col="hex_r9",
        )
        # read the assembly back from the table just written instead of
        # re-executing the pipeline's most expensive DAG (the exploded
        # node join + two shuffles + geometry/cell Arrow passes) once
        # for pip_join's dimension-stats collect and again for the
        # classified write
        polys = (
            spark.read.schema(assembled.schema)
            .parquet(way_out)
            .filter(F.col("kind") == "polygon")
            .select(F.col("way_id").alias("poly_id"), "layer", "lons", "lats")
        )
        classified = pip_join(
            indexed,
            polys,
            tuple(indexed.columns),
            ("poly_id", "layer"),
        )
        img_out = os.path.join(out_dir, "images_classified")
        res.outputs["images_classified"] = img_out
        res.counts["classified_images"] = _export_stage(
            spark,
            classified,
            img_out,
            "images_classified",
            manifest,
            snapshot,
        )

    # CRS sidecar (O16): constant table property, never reprojected
    with open(os.path.join(out_dir, "crs.txt"), "w") as f:
        f.write(CRS + "\n")
    return res
