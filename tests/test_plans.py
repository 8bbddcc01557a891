"""Physical-plan assertions: the Catalyst behaviors the 100 TB design
relies on must actually appear in the plans (pushdown, pruning,
broadcast, no cartesian products in joins that must scale)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL

from osm2shp_spark.operators.assemble import assemble_ways
from osm2shp_spark.operators.classify import staged_nodes
from osm2shp_spark.operators.spatial import pip_join, tile_vector_stats
from osm2shp_spark.sources.tables import register_driver_tables
from osm2shp_spark.sources.synthetic import (
    synthetic_images,
    synthetic_nodes,
    synthetic_rects,
    synthetic_ways,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_to_parquet(spark):
    register_driver_tables(spark, SF_SMALL)
    df = spark.table("lineitem").filter(F.col("l_orderkey") == 42).select("l_quantity")
    p = _plan(df)
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]" in p


def test_column_pruning_staged_nodes(spark):
    """The join build side must scan only the columns it projects —
    Catalyst pruning pushes the 3-column schema into the part scan."""
    df = staged_nodes(synthetic_nodes(spark, SF_SMALL))
    p = _plan(df)
    # part has 6 columns; the staged projection needs p_partkey only
    # (lon/lat derive from it) — p_name must NOT be read for the
    # id>0-filtered branch... it is needed for tag_name in the union
    # source, so assert at least that p_type/p_brand/p_retailprice are
    # pruned away
    assert "p_type" not in p and "p_brand" not in p and "p_retailprice" not in p


def test_assembly_has_no_cartesian(spark):
    df = assemble_ways(
        synthetic_nodes(spark, SF_SMALL), synthetic_ways(spark, SF_SMALL)
    )
    p = _plan(df)
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p


def test_pip_prefilter_is_equi_join(spark):
    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    rects = synthetic_rects(spark, SF_SMALL).select(
        "rect_id",
        "layer",
        F.array("lon_min", "lon_max", "lon_max", "lon_min", "lon_min").alias("lons"),
        F.array("lat_min", "lat_min", "lat_max", "lat_max", "lat_min").alias("lats"),
    )
    p = _plan(pip_join(imgs, rects, ("image_id",), ("rect_id", "layer")))
    # the spatial predicate must have become a relational equi-join on
    # tile keys — never a cartesian/BNLJ over the full tables
    assert "CartesianProduct" not in p
    assert "tile_x" in p and "tile_y" in p


def test_assembly_shuffles_carry_tinyint_rule_index(spark):
    """The (layer, kind) strings must NOT ride the exploded ref join /
    reassembly shuffles — classification travels as the 1-byte _li
    pair index and decodes after the aggregate."""
    df = assemble_ways(
        synthetic_nodes(spark, SF_SMALL), synthetic_ways(spark, SF_SMALL)
    )
    p = _plan(df)
    assert "_li" in p
    # decode arrays appear once, above the final aggregate
    assert "roadbig_line" in p


def test_pip_jvm_refine_never_leaves_the_jvm(spark):
    """The PIP plan must contain NO Python execution node — the
    PNPOLY refine is a higher-order SQL filter —
    and must hash-broadcast the tiled polygon dimension under the
    vertex budget, so the point table neither shuffles nor crosses
    the Arrow channel."""
    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    rects = synthetic_rects(spark, SF_SMALL).select(
        "rect_id",
        "layer",
        F.array("lon_min", "lon_max", "lon_max", "lon_min", "lon_min").alias("lons"),
        F.array("lat_min", "lat_min", "lat_max", "lat_max", "lat_min").alias("lats"),
    )
    p = _plan(pip_join(imgs, rects, ("image_id",), ("rect_id", "layer")))
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p
    assert "BatchEvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "Exchange hashpartitioning" not in p  # point side: no shuffle


def test_tile_stats_partial_aggregation(spark):
    imgs = synthetic_images(spark, SF_SMALL)
    places = synthetic_nodes(spark, SF_SMALL).filter("id > 0").select("id", "lon", "lat")
    p = _plan(tile_vector_stats(imgs, places))
    # map-side partial aggregation before the shuffle (two-phase agg)
    assert p.count("HashAggregate") >= 4


def test_way_assembly_min_vertex_filter_before_join(spark):
    """The min-vertex/layer filters must run before the explode+join
    (the reference filters before resolution too, handler.cc:112-116)."""
    df = assemble_ways(
        synthetic_nodes(spark, SF_SMALL), synthetic_ways(spark, SF_SMALL)
    )
    p = _plan(df)
    assert "Generate" in p  # the posexplode is present
    assert "CASE WHEN" in p  # layer/kind classification stayed in plan


def test_auto_strategy_selection(spark, monkeypatch):
    """The size-estimate auto-selectors must pick the documented paths,
    read off the physical plan: salted assembly carries the chunk salt
    key, broadcast kNN is the numpy MapInPandas pass — also from the
    adaptive-tile entry point."""
    from osm2shp_spark.operators import assemble
    from osm2shp_spark.operators.spatial import knn_join_adaptive, knn_join_auto

    nodes = synthetic_nodes(spark, SF_SMALL)
    ways = synthetic_ways(spark, SF_SMALL)
    # default: the Catalyst general path (no salt key, no numpy pass)
    p = _plan(assemble.assemble_ways_auto(nodes, ways))
    assert "chunk_id" not in p and "MapInPandas" not in p
    # mega-way threshold trips -> salted
    monkeypatch.setattr(assemble, "MEGA_WAY_THRESHOLD", 2)
    assert "chunk_id" in _plan(assemble.assemble_ways_auto(nodes, ways))
    # small feature table -> zero-shuffle broadcast kNN
    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    feats = nodes.filter("id > 0").selectExpr("id AS node_id", "lon", "lat")
    assert "MapInPandas" in _plan(knn_join_auto(imgs, feats, k=3))
    assert "MapInPandas" in _plan(
        knn_join_adaptive(imgs, feats, k=3, hot_threshold=5)
    )
    # (over budget -> shuffle tile join: tests/test_spatial.py
    # test_knn_broadcast_oversize_falls_back_to_shuffle)


def test_pip_auto_broadcast_selection(spark, monkeypatch):
    """pip_join's default must auto-broadcast small polygon sets and
    switch the rings onto the join rows above the broadcast budget
    (both paths produce identical rows)."""
    from parity import canon_rows

    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    rects = synthetic_rects(spark, SF_SMALL).select(
        "rect_id",
        "layer",
        F.array("lon_min", "lon_max", "lon_max", "lon_min", "lon_min").alias("lons"),
        F.array("lat_min", "lat_min", "lat_max", "lat_max", "lat_min").alias("lats"),
    )
    auto = pip_join(imgs, rects, ("image_id",), ("rect_id", "layer"))
    rows_auto = canon_rows(auto.toPandas())
    # above-budget: no broadcast hint, the rings ride the join rows
    from osm2shp_spark.operators import _budget

    monkeypatch.setattr(_budget, "BROADCAST_BUDGET_BYTES", 0)
    riding = pip_join(imgs, rects, ("image_id",), ("rect_id", "layer"))
    assert canon_rows(riding.toPandas()) == rows_auto


def test_broadcast_budget_selects_both_sides(spark, monkeypatch):
    """Every budgeted selector shows its broadcast-side marker in the
    plan at the default budget and loses it at a zero budget: the PIP
    joins' BroadcastExchange (with the planner's own broadcast turned
    off) and the numpy MapInPandas pass of kNN and cosine top-k."""
    from osm2shp_spark.operators import _budget
    from osm2shp_spark.operators.similarity import cosine_topk
    from osm2shp_spark.operators.spatial import knn_join_auto, pip_join_s2

    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    rects = synthetic_rects(spark, SF_SMALL).select(
        "rect_id",
        "layer",
        F.array("lon_min", "lon_max", "lon_max", "lon_min", "lon_min").alias("lons"),
        F.array("lat_min", "lat_min", "lat_max", "lat_max", "lat_min").alias("lats"),
    )
    feats = synthetic_nodes(spark, SF_SMALL).filter("id > 0").selectExpr(
        "id AS node_id", "lon", "lat"
    )
    register_driver_tables(spark, SF_SMALL)
    emb = spark.table("embeddings")
    cases = [
        ("BroadcastExchange",
         lambda: pip_join(imgs, rects, ("image_id",), ("rect_id", "layer"))),
        ("BroadcastExchange",
         lambda: pip_join_s2(imgs, rects, ("image_id",), ("rect_id", "layer"))),
        ("MapInPandas", lambda: knn_join_auto(imgs, feats, k=3)),
        ("MapInPandas",
         lambda: cosine_topk(emb, emb.filter("vec_id % 50 = 0"), k=5)),
    ]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for marker, build in cases:
            assert marker in _plan(build())
            monkeypatch.setattr(_budget, "BROADCAST_BUDGET_BYTES", 0)
            assert marker not in _plan(build())
            monkeypatch.undo()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_partition_lineage_is_one_native_aggregate(spark):
    """Lineage digests stay in the JVM: no Python group map or UDF, and
    exactly one exchange, hash-partitioned on the part key."""
    from osm2shp_spark.plans.manifest import partition_lineage

    df = synthetic_images(spark, SF_SMALL).withColumn("part_key", F.col("img_key") % 7)
    lin = partition_lineage(df, "s", "part_key", snapshot_id="x")
    lin.collect()
    p = lin._jdf.queryExecution().executedPlan().executedPlan().toString()
    for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in p
    exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1
    assert "Exchange hashpartitioning(part_key#" in exchanges[0]


def test_way_assembly_salted_plan_is_two_stage(spark):
    """The registered mega-way query must actually execute the salted
    two-stage aggregation: the chunk salt key appears in the plan and
    there are two grouping stages (chunked assembly + chunk concat),
    each with partial aggregation."""
    from osm2shp_spark import queries as Q

    df = Q.q_way_assembly_salted(spark, SF_SMALL)
    p = _plan(df)
    assert "chunk_id" in p
    # collect_list aggregations surface as ObjectHashAggregate (or
    # SortAggregate fallback); two groupBys x (partial + final) = 4
    assert p.count("ObjectHashAggregate") + p.count("SortAggregate") >= 4
    assert "CartesianProduct" not in p


def test_zorder_read_query_pushes_key_ranges(spark):
    """The registered zorder_bbox_read query's scan must carry the
    zkey range predicates as PushedFilters (file/row-group pruning),
    plus the exact lon/lat refine."""
    from osm2shp_spark import queries as Q

    p = _plan(Q.REGISTRY["zorder_bbox_read"][0](spark, SF_SMALL))
    assert "PushedFilters" in p and "zkey" in p
    assert "GreaterThanOrEqual(zkey" in p or "LessThanOrEqual(zkey" in p


def test_ivf_flat_plan_shape(spark):
    """IVF assignment is an INTENTIONAL broadcast nested-loop of rows x
    n_cells (the standard IVF indexing bill); everything else must be
    hash joins — never an unbroadcast cartesian."""
    from osm2shp_spark import queries as Q

    p = _plan(Q.q_ann_cosine_ivf(spark, SF_SMALL))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # the n_cells assignment
    assert "BroadcastHashJoin" in p  # the cell-candidate join


def test_corpus_curation_plan_shape(spark):
    """The curation pipeline must stay all-JVM hash joins + partial
    aggregates (no cartesian, no Python stage)."""
    from osm2shp_spark import queries as Q

    p = _plan(Q.REGISTRY["corpus_curation"][0](spark, SF_SMALL))
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_defer_filters_keeps_classification_off_the_scan(spark):
    """r6: the classification predicates must NOT be extracted and
    pushed to the base-table scan (where the optimizer re-expands them
    into a per-base-row boolean tower on a possibly 1-split,
    single-task stage). The scan node's DataFilters carried the
    expanded ``CASE WHEN ... THEN true`` tower before the fix."""
    df = assemble_ways(
        synthetic_nodes(spark, SF_SMALL), synthetic_ways(spark, SF_SMALL)
    )
    p = _plan(df)
    assert "DataFilters: [CASE WHEN" not in p
    # the collapse barriers are single-element inline Generates
    assert "inline(array(struct" in p


def test_pip_dimension_side_has_collapse_barrier(spark):
    """r6: the polygon dimension side materializes the stripped rings
    through an inline Generate so the 16-probe rect test + edge
    rotation reference attributes instead of re-inlining the strip
    CASE (which blew past janino's 64 KB limit and paid a doomed
    compile on every execution)."""
    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    rects = synthetic_rects(spark, SF_SMALL).select(
        "rect_id",
        "layer",
        F.array("lon_min", "lon_max", "lon_max", "lon_min", "lon_min").alias("lons"),
        F.array("lat_min", "lat_min", "lat_max", "lat_max", "lat_min").alias("lats"),
    )
    p = _plan(pip_join(imgs, rects, ("image_id",), ("rect_id", "layer")))
    assert "inline(array(struct" in p


def test_collapse_barrier_rejects_unknown_keep_column(spark):
    """A ``keep`` name that is not a column must fail loudly instead of
    silently passing nothing outside the barrier."""
    from osm2shp_spark.operators._parallel import collapse_barrier

    df = spark.range(3).withColumn("v", F.col("id") * 2)
    assert collapse_barrier(df, keep=("id",)).columns == ["id", "v"]
    with pytest.raises(ValueError, match="way_id"):
        collapse_barrier(df, keep=("id", "way_id"))


def test_geometry_udfs_run_as_arrow_udfs(spark):
    """The way export and the point cells are flat Arrow UDFs: every
    ArrowEvalPython node carries eval type 250 (SQL_SCALAR_ARROW_UDF),
    and the WKB and way-cell UDFs share one node (one Arrow crossing)."""
    from pyspark.util import PythonEvalType

    from osm2shp_spark.functions.udfs import (
        with_geometry_meta,
        with_point_cells,
        with_way_cells,
    )

    ways = assemble_ways(synthetic_nodes(spark, SF_SMALL), synthetic_ways(spark, SF_SMALL))
    cases = (
        (with_way_cells(with_geometry_meta(ways)), 1),
        (with_point_cells(synthetic_images(spark, SF_SMALL)), 1),
    )
    for df, n_nodes in cases:
        p = df._jdf.queryExecution().executedPlan().toString()
        nodes = [ln.rstrip() for ln in p.splitlines() if "ArrowEvalPython" in ln]
        assert len(nodes) == n_nodes, nodes
        assert all(
            ln.endswith(f", {PythonEvalType.SQL_SCALAR_ARROW_UDF}") for ln in nodes
        )
        assert PythonEvalType.SQL_SCALAR_ARROW_UDF == 250


@pytest.mark.parametrize(
    "name", ["minhash_near_dups", "simhash_near_dups", "jaccard_pairs"]
)
def test_near_dup_self_joins_reuse_one_exchange(spark, name):
    """Each near-dup operator is one lazy plan that caches nothing: both
    sides of its self-join (and minhash's signature re-attach joins)
    read the signature stage through one shuffle that Spark reuses.
    ``InMemory`` alone would also match the scan's InMemoryFileIndex."""
    from osm2shp_spark.queries import queries

    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    df = queries()[name](spark, SF_SMALL)
    assert df.collect()
    assert cache.numCachedEntries() == before
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in p
    assert not re.search(r"\bInMemory(Relation|TableScan)\b", p)
    assert "ReusedExchange" in p
