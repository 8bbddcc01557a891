"""End-to-end engine.run: the full pipeline writes layer-partitioned
outputs + CRS sidecar + lineage manifest."""

from __future__ import annotations

import os

from conftest import SF_SMALL

from osm2shp_spark import engine
from osm2shp_spark.plans.manifest import Manifest
from osm2shp_spark.sources.synthetic import (
    synthetic_images,
    synthetic_nodes,
    synthetic_ways,
)


def test_engine_run_end_to_end(spark, tmp_path, monkeypatch):
    def no_read(self):
        raise AssertionError("engine.run read the manifest back")

    # each stage's count rides its lineage append: the run never reads
    # the manifest back
    monkeypatch.setattr(Manifest, "read", no_read)
    out = str(tmp_path / "out")
    res = engine.run(
        spark,
        synthetic_nodes(spark, SF_SMALL),
        synthetic_ways(spark, SF_SMALL),
        out,
        images=synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat"),
    )
    monkeypatch.undo()
    for key, stage in (
        ("exported_ways", "ways"),
        ("exported_nodes", "points"),
        ("classified_images", "images_classified"),
    ):
        written = spark.read.parquet(res.outputs[stage]).count()
        assert res.counts[key] == written > 0, key

    # layer-partitioned directories (the one-file-per-layer sink)
    way_layers = {
        d.split("=")[1]
        for d in os.listdir(res.outputs["ways"])
        if d.startswith("layer=")
    }
    assert "roadbig_line" in way_layers and "water_area" in way_layers

    # CRS sidecar (O16): fixed EPSG:4326, never reprojected
    assert open(os.path.join(out, "crs.txt")).read().strip() == "EPSG:4326"

    # geometry meta + cell columns present
    ways = spark.read.parquet(res.outputs["ways"])
    assert {"wkb", "geom_digest", "lon_min"} <= set(ways.columns)
    pts = spark.read.parquet(res.outputs["points"])
    assert {"s2_cell", "s2_token", "hex_r7"} <= set(pts.columns)

    # images classified against polygon layers only
    imgs = spark.read.parquet(res.outputs["images_classified"])
    assert set(r.layer for r in imgs.select("layer").distinct().collect()) <= {
        "water_area"
    }

    # lineage rows for every stage
    m = Manifest(spark, os.path.join(out, "_manifest"))
    stages = {r.stage for r in m.read().select("stage").distinct().collect()}
    assert stages == {"ways", "points", "images_classified"}


def test_engine_zero_row_stage_does_not_abort(spark, tmp_path):
    """An extract whose nodes classify to nothing must complete with a
    zero count, not die on UNABLE_TO_INFER_SCHEMA when the lineage pass
    reads back the empty partitioned points table."""
    from pyspark.sql import functions as F

    from osm2shp_spark.operators.classify import extract_tags

    nodes = extract_tags(
        spark.createDataFrame(
            [(1, 8.0, 47.0, {"highway": "crossing"})],  # routes nowhere
            "id BIGINT, lon DOUBLE, lat DOUBLE, tags MAP<STRING,STRING>",
        )
    )
    ways = extract_tags(
        spark.createDataFrame(
            [(10, [1, 1], {"highway": "motorway"})],
            "id BIGINT, refs ARRAY<BIGINT>, tags MAP<STRING,STRING>",
        )
    )
    res = engine.run(spark, nodes, ways, str(tmp_path / "out"))
    assert res.counts["exported_nodes"] == 0
