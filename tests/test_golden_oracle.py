"""Golden-fixture check: engine vs the literal pure-Python oracle on a
randomized MAP-tagged OSM fixture (FIXTURES.md T1/T2) — row-for-row,
order-insensitive across rows, order-SENSITIVE within coord arrays."""

from __future__ import annotations

import numpy as np
import pytest

from osm2shp_spark.operators.assemble import assemble_ways, assembly_counters
from osm2shp_spark.operators import generalize
from osm2shp_spark.operators.classify import classify_nodes, extract_tags
from osm2shp_spark.operators.generalize import dedup_geometries, generalize_ways
from osm2shp_spark.oracle import run_oracle

NODE_SCHEMA = "id BIGINT, lon DOUBLE, lat DOUBLE, tags MAP<STRING,STRING>"
WAY_SCHEMA = "id BIGINT, refs ARRAY<BIGINT>, tags MAP<STRING,STRING>"

PLACES = ["city", "town", "suburb", "village", "hamlet", None]
WAY_TAGSETS = [
    {"highway": "motorway"},
    {"highway": "trunk"},
    {"highway": "primary"},
    {"highway": "secondary"},
    {"highway": "residential"},
    {"railway": "rail"},
    {"waterway": "river"},
    {"waterway": "canal"},
    {"natural": "water"},
    {"natural": "land"},
    {"natural": "wood"},
    {"natural": "woord"},
    {"waterway": "river", "landuse": "farm"},
    {"highway": "motorway", "area": "yes"},
    {},
    {"natural": "water", "area": "yes"},
]


@pytest.fixture(scope="module")
def fixture_data():
    rng = np.random.default_rng(42)
    nodes = []
    for i in range(1, 1501):
        tags = {}
        place = PLACES[i % len(PLACES)]
        if place:
            tags["place"] = place
        if i % 3 != 0:
            tags["name"] = ("n" * (i % 80)) or "x"
        nodes.append(
            {
                "id": i,
                "lon": float(rng.uniform(8, 9)),
                "lat": float(rng.uniform(47, 48)),
                "tags": tags,
            }
        )
    # id<=0 edge rows (handler.cc:87-88)
    for j in range(3):
        nodes.append(
            {
                "id": -j,
                "lon": 8.5,
                "lat": 47.5,
                "tags": {"place": "city", "name": "neg"},
            }
        )
    ways = []
    for i in range(1, 401):
        n = int(rng.integers(1, 30))
        refs = rng.integers(1, 1700, size=n).tolist()  # some refs miss (>1500)
        if i % 6 == 0 and n >= 3:
            refs.append(refs[0])  # closed ring (duplicate ref fan-out)
        tags = dict(WAY_TAGSETS[i % len(WAY_TAGSETS)])
        ways.append({"id": i, "refs": [int(r) for r in refs], "tags": tags})
    # one mega-way (skew fixture)
    ways.append(
        {
            "id": 9999,
            "refs": rng.integers(1, 1500, size=5000).tolist(),
            "tags": {"highway": "motorway"},
        }
    )
    return nodes, ways


@pytest.fixture(scope="module")
def spark_frames(spark, fixture_data):
    nodes, ways = fixture_data
    ndf = extract_tags(
        spark.createDataFrame(
            [(n["id"], n["lon"], n["lat"], n["tags"]) for n in nodes], NODE_SCHEMA
        )
    )
    wdf = extract_tags(
        spark.createDataFrame(
            [(w["id"], w["refs"], w["tags"]) for w in ways], WAY_SCHEMA
        )
    )
    return ndf, wdf


def test_points_row_for_row(spark_frames, fixture_data):
    ndf, _ = spark_frames
    nodes, _ = fixture_data
    oracle = run_oracle(nodes, [])
    got = {
        (r.node_id, r.layer, r.name, r.lon, r.lat)
        for r in classify_nodes(ndf).collect()
    }
    assert got == set(map(tuple, oracle.points))


def test_ways_row_for_row(spark_frames, fixture_data):
    ndf, wdf = spark_frames
    nodes, ways = fixture_data
    oracle = run_oracle(nodes, ways)
    got = {
        (r.way_id, r.layer, r.kind, tuple(r.lons), tuple(r.lats))
        for r in assemble_ways(ndf, wdf).collect()
    }
    want = {(w[0], w[1], w[2], tuple(w[3]), tuple(w[4])) for w in oracle.ways}
    assert got == want


def test_counters_match_oracle(spark_frames, fixture_data):
    ndf, wdf = spark_frames
    nodes, ways = fixture_data
    oracle = run_oracle(nodes, ways)
    c = assembly_counters(ndf, wdf).collect()[0]
    assert c.processed_ways == oracle.counters["processed_ways"]
    assert c.exported_ways == oracle.counters["exported_ways"]
    assert c.dropped_unresolved == oracle.counters["dropped_unresolved"]


def test_generalize_preserves_endpoints_and_drops_nothing_at_zero_eps(
    spark_frames, monkeypatch
):
    ndf, wdf = spark_frames
    assembled = assemble_ways(ndf, wdf)
    monkeypatch.setattr(generalize, "LAYER_THRESHOLDS", {})
    out = generalize_ways(assembled).toPandas()
    base = assembled.toPandas()
    # eps=0 for all layers → only consecutive-dup removal can shrink
    assert len(out) == len(
        base[~base.apply(lambda r: len(set(zip(r.lons, r.lats))) < 2 and r.kind == "line", axis=1)]
    )
    m = out.set_index("way_id")
    for _, r in base.iterrows():
        if r.way_id in m.index:
            g = m.loc[r.way_id]
            assert g.lons[0] == r.lons[0] and g.lons[-1] == r.lons[-1]


def test_simplification_reduces_vertices(spark_frames):
    ndf, wdf = spark_frames
    assembled = assemble_ways(ndf, wdf)
    out = generalize_ways(assembled).toPandas()
    base = assembled.toPandas()
    merged = out.merge(base, on="way_id", suffixes=("_g", "_b"))
    assert (merged.n_pts_g <= merged.n_pts_b).all()
    roads = merged[merged.layer_b.isin(["roadbig_line", "roadmedium_line"])]
    if len(roads) > 3:
        assert roads.n_pts_g.sum() < roads.n_pts_b.sum()


def test_dedup_geometries_idempotent(spark_frames):
    ndf, wdf = spark_frames
    assembled = assemble_ways(ndf, wdf)
    once = dedup_geometries(assembled)
    assert once.count() == dedup_geometries(once).count()
