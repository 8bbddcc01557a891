"""OSM XML ingestion (O1): the engine must accept the reference's
actual input — planet.osm(.gz|.bz2), osm2shp.cc:12-17 — and produce
tables that drive the pipeline to identical results.

Strategy: render the synthetic sf0.001 nodes/ways tables to XML,
ingest them back through sources/osmxml.py, and assert (a) row-for-row
table equality and (b) identical assembled geometry through the full
flagship join. Plus codec coverage (gz/bz2) and an end-to-end CLI run
from a raw .osm file."""

from __future__ import annotations

import bz2
import gzip
import json
import os
import subprocess
import sys

import pytest

from conftest import SF_SMALL
from parity import canon_rows

from osm2shp_spark.operators.assemble import assemble_ways
from osm2shp_spark.operators.classify import extract_tags
from osm2shp_spark.sources import osmxml
from osm2shp_spark.sources.osmxml import (
    convert_osm_to_parquet,
    parse_osm_xml,
    render_osm_xml,
)
from osm2shp_spark.sources.synthetic import synthetic_nodes, synthetic_ways

#: tag_<key> column → OSM tag key (the reference's lookup keys)
_NODE_TAGS = {"tag_place": "place", "tag_name": "name"}
_WAY_TAGS = {
    "tag_highway": "highway",
    "tag_railway": "railway",
    "tag_waterway": "waterway",
    "tag_natural": "natural",
    "tag_landuse": "landuse",
    "tag_area": "area",
}


def _table_rows(spark, sf_dir):
    nodes = synthetic_nodes(spark, sf_dir).collect()
    ways = synthetic_ways(spark, sf_dir).collect()
    node_rows = [
        (
            r.id,
            r.lon,
            r.lat,
            {k: getattr(r, c) for c, k in _NODE_TAGS.items() if getattr(r, c) is not None},
        )
        for r in nodes
    ]
    way_rows = [
        (
            r.id,
            list(r.refs),
            {k: getattr(r, c) for c, k in _WAY_TAGS.items() if getattr(r, c) is not None},
        )
        for r in ways
    ]
    return node_rows, way_rows


@pytest.fixture(scope="module")
def osm_file(spark, tmp_path_factory):
    node_rows, way_rows = _table_rows(spark, SF_SMALL)
    data = render_osm_xml(node_rows, way_rows)
    p = tmp_path_factory.mktemp("osm") / "fixture.osm"
    p.write_bytes(data)
    return str(p), node_rows, way_rows


def test_parse_round_trips_rows(osm_file):
    path, node_rows, way_rows = osm_file
    parsed_nodes, parsed_ways = [], []
    with open(path, "rb") as f:
        for kind, row in parse_osm_xml(f):
            (parsed_nodes if kind == "node" else parsed_ways).append(row)
    assert len(parsed_nodes) == len(node_rows)
    assert len(parsed_ways) == len(way_rows)

    # multiset comparison — the fixture deliberately carries a
    # duplicate id 0 (staging-filter edge: part key 0 + region -0)
    def _canon_n(rows):
        return sorted(
            (nid, lon, lat, tuple(sorted(dict(tags).items())))
            for nid, lon, lat, tags in rows
        )

    def _canon_w(rows):
        return sorted(
            (wid, tuple(refs), tuple(sorted(dict(tags).items())))
            for wid, refs, tags in rows
        )

    # exact float round-trip (repr-rendered lon/lat)
    assert _canon_n(parsed_nodes) == _canon_n(node_rows)
    assert _canon_w(parsed_ways) == _canon_w(way_rows)


@pytest.mark.parametrize("codec", ["plain", "gz", "bz2"])
def test_compressed_variants(osm_file, tmp_path, codec, monkeypatch):
    path, node_rows, _ = osm_file
    data = open(path, "rb").read()
    if codec == "gz":
        path = str(tmp_path / "f.osm.gz")
        with gzip.open(path, "wb") as f:
            f.write(data)
    elif codec == "bz2":
        path = str(tmp_path / "f.osm.bz2")
        with bz2.open(path, "wb") as f:
            f.write(data)
    out = str(tmp_path / f"tables_{codec}")
    monkeypatch.setattr(osmxml, "DEFAULT_BATCH_ROWS", 100)  # several row groups
    counts = convert_osm_to_parquet(path, out)
    assert counts["nodes"] == len(node_rows)
    assert os.path.exists(os.path.join(out, "ways.parquet"))


def test_ingested_tables_assemble_identically(spark, osm_file, tmp_path, monkeypatch):
    """The flagship join over ingested-from-XML tables must equal the
    join over the original tables, row for row."""
    path, _, _ = osm_file
    out = str(tmp_path / "tables")
    monkeypatch.setattr(osmxml, "DEFAULT_BATCH_ROWS", 1000)
    convert_osm_to_parquet(path, out)
    nodes_x = extract_tags(spark.read.parquet(os.path.join(out, "nodes.parquet")))
    ways_x = extract_tags(spark.read.parquet(os.path.join(out, "ways.parquet")))
    got = assemble_ways(nodes_x, ways_x).toPandas()
    want = assemble_ways(
        synthetic_nodes(spark, SF_SMALL), synthetic_ways(spark, SF_SMALL)
    ).toPandas()
    assert canon_rows(got) == canon_rows(want)


def test_cli_end_to_end_from_osm_file(osm_file, tmp_path):
    """`python -m osm2shp_spark.cli fixture.osm out/` — the reference's
    exact invocation shape — runs ingestion + the full pipeline."""
    path, node_rows, way_rows = osm_file
    out = str(tmp_path / "run")
    proc = subprocess.run(
        [sys.executable, "-m", "osm2shp_spark.cli", path, out,
         "--master", "local[4]"],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["counts"]["exported_ways"] > 0
    assert res["counts"]["exported_nodes"] > 0
    assert res["counts"]["ingested_nodes"] == len(node_rows)
    assert res["counts"]["ingested_ways"] == len(way_rows)
    assert os.path.exists(os.path.join(out, "crs.txt"))
