"""OSM PBF ingestion (O1, the reference's primary input —
osm2shp.cc:1): encoder/decoder round-trip through the blob-parallel
reader, pipeline equality through the flagship join, and the CLI's
ingest.

PBF quantizes coordinates to 100 nanodegrees (granularity 100 ×
1e-9 scale — the real format's resolution), so coordinate expectations
use the same quantization formula, exactly."""

from __future__ import annotations

import os

import pytest

from conftest import SF_SMALL

from osm2shp_spark.operators.assemble import assemble_ways
from osm2shp_spark.operators.classify import extract_tags
from osm2shp_spark.sources.osmpbf import (
    COORD_SCALE,
    GRANULARITY_DEFAULT,
    blob_index,
    encode_osm_pbf,
    read_pbf_distributed,
)
from osm2shp_spark.sources.synthetic import synthetic_nodes, synthetic_ways
from test_osmxml import _table_rows


def _quant(x: float) -> float:
    """The PBF wire quantization (100 nanodegree grid), exactly as the
    encoder+decoder compute it (floor(x*1e7+0.5) — the dialect-shared
    arithmetic the pbf_roundtrip gate oracle recomputes)."""
    import math

    return COORD_SCALE * (GRANULARITY_DEFAULT * int(math.floor(x * 1e7 + 0.5)))


@pytest.fixture(scope="module")
def pbf_file(spark, tmp_path_factory):
    node_rows, way_rows = _table_rows(spark, SF_SMALL)
    data = encode_osm_pbf(node_rows, way_rows, entities_per_blob=50)
    p = tmp_path_factory.mktemp("pbf") / "fixture.osm.pbf"
    p.write_bytes(data)
    return str(p), node_rows, way_rows


def test_blob_index_covers_file(pbf_file):
    path, node_rows, way_rows = pbf_file
    idx = blob_index(path)
    assert all(t == "OSMData" for t, _, _ in idx)
    # 50 entities per blob → multiple independent splits (the point)
    assert len(idx) >= (len(node_rows) + len(way_rows)) // 50
    # last blob ends exactly at EOF
    t, off, size = idx[-1]
    assert off + size == os.path.getsize(path)


def test_decode_round_trips_rows(spark, pbf_file):
    path, node_rows, way_rows = pbf_file
    nodes_df, ways_df = read_pbf_distributed(spark, path)
    got_nodes = [(r.id, r.lon, r.lat, r.tags) for r in nodes_df.collect()]
    got_ways = [(r.id, r.refs, r.tags) for r in ways_df.collect()]
    assert len(got_nodes) == len(node_rows)
    assert len(got_ways) == len(way_rows)

    def canon_n(rows, quantize):
        return sorted(
            (
                nid,
                _quant(lon) if quantize else lon,
                _quant(lat) if quantize else lat,
                tuple(sorted(dict(tags).items())),
            )
            for nid, lon, lat, tags in rows
        )

    assert canon_n(got_nodes, False) == canon_n(node_rows, True)
    assert sorted(
        (wid, tuple(refs), tuple(sorted(dict(tags).items())))
        for wid, refs, tags in got_ways
    ) == sorted(
        (wid, tuple(refs), tuple(sorted(dict(tags).items())))
        for wid, refs, tags in way_rows
    )


def test_pbf_pipeline_matches_original_tables(spark, pbf_file, tmp_path):
    """Flagship join over PBF-ingested tables routes, resolves and
    drops exactly the same ways as the original tables (coordinates
    differ only by the format's 100-nanodegree grid, which is proven
    exactly in test_decode_round_trips_rows and cannot change
    classification, resolution or ordering)."""
    path, _, _ = pbf_file
    nodes_p, ways_p = read_pbf_distributed(spark, path)
    got = assemble_ways(extract_tags(nodes_p), extract_tags(ways_p)).toPandas()
    want = assemble_ways(
        synthetic_nodes(spark, SF_SMALL), synthetic_ways(spark, SF_SMALL)
    ).toPandas()
    assert len(got) == len(want)
    assert sorted(got["way_id"]) == sorted(want["way_id"])
    assert sorted(zip(got["way_id"], got["layer"], got["kind"], got["n_pts"])) == \
        sorted(zip(want["way_id"], want["layer"], want["kind"], want["n_pts"]))


def test_cli_end_to_end_from_pbf(pbf_file, tmp_path):
    import json
    import subprocess
    import sys

    path, node_rows, way_rows = pbf_file
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


# ---------------------------------------------------------------------------
# wire-primitive property tests
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

from osm2shp_spark.sources.osmpbf import (
    _packed,
    _packed_varints,
    _read_varint,
    _write_varint,
    _zigzag,
    _unzigzag,
)


@given(st.integers(min_value=0, max_value=2**64 - 1))
@settings(max_examples=200, deadline=None)
def test_varint_round_trip(n):
    v, pos = _read_varint(_write_varint(n), 0)
    assert v == n


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
@settings(max_examples=200, deadline=None)
def test_zigzag_round_trip(n):
    assert _zigzag(_unzigzag(n)) == n


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62 - 1), max_size=50))
@settings(max_examples=100, deadline=None)
def test_packed_signed_round_trip(vals):
    buf = _packed(1, vals, zig=True)
    # strip the tag+length prefix to reach the packed body
    fields = list(__import__("osm2shp_spark.sources.osmpbf", fromlist=["_fields"])._fields(buf))
    assert len(fields) == 1
    assert _packed_varints(fields[0][2], zig=True) == vals


def test_block_entity_kinds_scanner():
    """The light tag walk must classify blobs without a full decode —
    the skip predicate the split distributed ingestion passes rely on."""
    from osm2shp_spark.sources.osmpbf import (
        _inflate_blob,
        blob_index,
        block_entity_kinds,
        encode_osm_pbf,
    )
    import tempfile, os

    nodes = [(i, 8.0 + i * 1e-4, 47.0, {"name": f"n{i}"}) for i in range(5)]
    ways = [(10, [0, 1, 2], {"highway": "residential"})]
    data = encode_osm_pbf(nodes, ways, entities_per_blob=4)
    with tempfile.NamedTemporaryFile(suffix=".pbf", delete=False) as f:
        f.write(data)
        path = f.name
    try:
        kinds = []
        with open(path, "rb") as fh:
            for btype, off, size in blob_index(path):
                if btype != "OSMData":
                    continue
                fh.seek(off)
                kinds.append(block_entity_kinds(_inflate_blob(fh.read(size))))
        assert any(k[0] for k in kinds) and any(k[1] for k in kinds)
        # every blob classified as holding at least one entity kind
        assert all(k[0] or k[1] for k in kinds)
    finally:
        os.unlink(path)
