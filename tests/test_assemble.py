"""Unit tests for classification + assembly semantics on hand-built
micro-fixtures (the reference edge cases, SURVEY §5.2), plus
equivalence of the assembly options and input orders."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL
from parity import canon_rows

from osm2shp_spark.operators.assemble import assemble_ways
from osm2shp_spark.operators.classify import (
    assert_unique_node_ids,
    classify_nodes,
    classify_ways,
    extract_tags,
    staged_nodes,
)
from osm2shp_spark.sources.synthetic import synthetic_nodes, synthetic_ways

NODE_SCHEMA = "id BIGINT, lon DOUBLE, lat DOUBLE, tags MAP<STRING,STRING>"
WAY_SCHEMA = "id BIGINT, refs ARRAY<BIGINT>, tags MAP<STRING,STRING>"


def _nodes(spark, rows):
    return extract_tags(spark.createDataFrame(rows, NODE_SCHEMA))


def _ways(spark, rows):
    return extract_tags(spark.createDataFrame(rows, WAY_SCHEMA))


@pytest.fixture(scope="module")
def grid_nodes(spark):
    # ids 1..9 at distinct coords; id 10 negative twin
    rows = [(i, 8.0 + i / 100.0, 47.0 + i / 100.0, {}) for i in range(1, 10)]
    rows.append((-5, 8.9, 47.9, {"name": "negative", "place": "city"}))
    return _nodes(spark, rows)


def _assembled(nodes, ways):
    rows = assemble_ways(nodes, ways).collect()
    return {r.way_id: r for r in rows}


class TestWayClassification:
    def test_first_match_wins(self, spark, grid_nodes):
        # motorway beats trunk even if both tags present? (single key —
        # use waterway=river vs canal is impossible; test rule priority
        # via two matching keys: highway=motorway + railway=rail)
        ways = _ways(spark, [(1, [1, 2, 3], {"highway": "motorway", "railway": "rail"})])
        out = _assembled(grid_nodes, ways)
        assert out[1].layer == "roadbig_line"

    def test_kind_decided_before_layer(self, spark, grid_nodes):
        # waterway=river + landuse → polygon-typed → matches no polygon
        # rule → dropped (handler.cc:111,116)
        ways = _ways(
            spark, [(1, [1, 2, 3, 1], {"waterway": "river", "landuse": "farm"})]
        )
        assert _assembled(grid_nodes, ways) == {}

    def test_woord_typo_wood_is_line(self, spark, grid_nodes):
        # natural=wood is NOT an area (upstream typo 'woord',
        # handler.cc:132) → line kind → no line rule → dropped;
        # natural=woord IS an area → polygon → no rule → dropped;
        # natural=water polygon → water_area
        ways = _ways(
            spark,
            [
                (1, [1, 2, 3, 1], {"natural": "wood"}),
                (2, [4, 5, 6, 4], {"natural": "woord"}),
                (3, [1, 2, 3, 1], {"natural": "water"}),
            ],
        )
        out = _assembled(grid_nodes, ways)
        assert set(out) == {3}
        assert out[3].layer == "water_area" and out[3].kind == "polygon"

    def test_min_vertex_counts_raw_refs(self, spark, grid_nodes):
        # 2-ref polygon dropped; 2-ref line kept; 1-ref line dropped;
        # duplicates count (closed 3-ring = 4 refs OK even though 3
        # distinct)
        ways = _ways(
            spark,
            [
                (1, [1, 2], {"natural": "water"}),
                (2, [1, 2], {"highway": "motorway"}),
                (3, [1], {"highway": "motorway"}),
                (4, [1, 2, 1], {"natural": "water", "area": "yes"}),
            ],
        )
        out = _assembled(grid_nodes, ways)
        assert set(out) == {2, 4}

    def test_closed_ring_duplicate_ref_fans_out(self, spark, grid_nodes):
        ways = _ways(spark, [(1, [1, 2, 3, 1], {"natural": "water"})])
        r = _assembled(grid_nodes, ways)[1]
        assert r.n_pts == 4
        assert r.lons[0] == r.lons[3] and r.lats[0] == r.lats[3]
        assert list(r.lons) == [8.01, 8.02, 8.03, 8.01]

    def test_all_or_nothing_resolution(self, spark, grid_nodes):
        # one unresolved ref (id 999 absent; id -5 present but id<=0 is
        # never staged) → whole way dropped (point_database.cc:104-109)
        ways = _ways(
            spark,
            [
                (1, [1, 2, 999], {"highway": "motorway"}),
                (2, [1, 2, -5], {"highway": "motorway"}),
                (3, [1, 2], {"highway": "motorway"}),
            ],
        )
        assert set(_assembled(grid_nodes, ways)) == {3}

    def test_coord_order_follows_ref_order(self, spark, grid_nodes):
        ways = _ways(spark, [(1, [3, 1, 2], {"highway": "trunk"})])
        r = _assembled(grid_nodes, ways)[1]
        assert list(r.lons) == [8.03, 8.01, 8.02]
        assert list(r.lats) == [47.03, 47.01, 47.02]


class TestNodeClassification:
    def test_named_filter_and_truncation(self, spark):
        long_name = "x" * 80
        nodes = _nodes(
            spark,
            [
                (1, 8.0, 47.0, {"place": "city", "name": long_name}),
                (2, 8.0, 47.0, {"place": "city"}),  # unnamed → dropped
                (3, 8.0, 47.0, {"place": "hamlet", "name": "h"}),  # no rule
                (-1, 8.0, 47.0, {"place": "city", "name": "neg"}),  # id<=0
                (4, 8.0, 47.0, {"name": "plain"}),  # no place
            ],
        )
        rows = classify_nodes(nodes).collect()
        assert len(rows) == 1
        assert rows[0].node_id == 1
        assert rows[0].layer == "city_point"
        assert len(rows[0].name) == 64

    def test_unnamed_nodes_still_resolve_ways(self, spark):
        nodes = _nodes(spark, [(1, 8.0, 47.0, {}), (2, 8.1, 47.1, {})])
        ways = _ways(spark, [(1, [1, 2], {"highway": "motorway"})])
        assert len(_assembled(nodes, ways)) == 1

    def test_unique_id_assertion(self, spark):
        nodes = _nodes(spark, [(1, 8.0, 47.0, {}), (1, 8.1, 47.1, {})])
        assert assert_unique_node_ids(nodes) == 1


class TestOrderInvariance:
    def test_input_order_invariance(self, spark):
        # property the reference LACKS (it depends on nodes physically
        # preceding ways in the dump): shuffling input partitions/order
        # must not change the result set
        nodes = synthetic_nodes(spark, SF_SMALL)
        ways = synthetic_ways(spark, SF_SMALL)
        a = assemble_ways(nodes, ways).toPandas()
        b = assemble_ways(
            nodes.orderBy(F.rand(seed=7)).repartition(13),
            ways.orderBy(F.rand(seed=11)).repartition(7),
        ).toPandas()
        assert canon_rows(a) == canon_rows(b)

    def test_staged_nodes_prunes_columns(self, spark):
        nodes = synthetic_nodes(spark, SF_SMALL)
        assert set(staged_nodes(nodes).columns) == {"id", "lon", "lat"}

    def test_classify_ways_keeps_layer_only(self, spark):
        ways = synthetic_ways(spark, SF_SMALL)
        df = classify_ways(ways)
        assert df.filter(F.col("layer").isNull()).count() == 0


class TestCompactPosEquivalence:
    def test_compact_pos_same_result(self, spark):
        nodes = synthetic_nodes(spark, SF_SMALL)
        ways = synthetic_ways(spark, SF_SMALL)
        a = assemble_ways(nodes, ways).toPandas()
        b = assemble_ways(nodes, ways, compact_pos=True).toPandas()
        assert canon_rows(a) == canon_rows(b)

    def test_auto_enables_compact_under_bound(self, spark):
        """The auto path proves max_refs <= 32767 from its stat pre-pass
        and must produce identical rows with the slim exchange."""
        from osm2shp_spark.operators.assemble import assemble_ways_auto

        nodes = synthetic_nodes(spark, SF_SMALL)
        ways = synthetic_ways(spark, SF_SMALL)
        out = assemble_ways_auto(nodes, ways)
        assert "chunk_id" not in out._jdf.queryExecution().toString()
        assert canon_rows(out.toPandas()) == canon_rows(
            assemble_ways(nodes, ways).toPandas()
        )


def test_rule_sql_escapes_quotes(spark):
    """The rule table is documented user-extensible: a tag value or
    layer containing a single quote must render as a valid SQL literal."""
    import osm2shp_spark.rules as R

    rule = R.LayerRule("l'eau", "line", "waterway", "l'oued")
    sql = R._match_sql(rule)
    assert "''" in sql
    # must parse and evaluate in Spark
    got = spark.createDataFrame([("l'oued",)], f"{R.tag_col('waterway')} STRING") \
        .selectExpr(f"{sql} AS m").collect()[0].m
    assert got is True


def test_generalize_leaves_polygons_untouched(spark):
    """mapgen.sh:54 runs v.generalize/v.clean on line layers only — a
    polygon ring with a consecutive duplicate vertex must pass through
    verbatim (no rmdupl), while the same shape as a line is cleaned."""
    from osm2shp_spark.operators.generalize import generalize_ways

    rows = [
        (1, "water_area", "polygon", 5,
         [8.0, 8.0, 8.1, 8.1, 8.0], [47.0, 47.0, 47.1, 47.1, 47.0]),
        (2, "water_line", "line", 3, [8.0, 8.0, 8.1], [47.0, 47.0, 47.1]),
    ]
    df = spark.createDataFrame(
        rows,
        "way_id LONG, layer STRING, kind STRING, n_pts INT, "
        "lons ARRAY<DOUBLE>, lats ARRAY<DOUBLE>",
    )
    got = {r.way_id: r for r in generalize_ways(df).collect()}
    assert got[1].n_pts == 5 and got[1].lons == rows[0][4]  # untouched
    assert got[2].n_pts == 2  # duplicate vertex removed on the line
