"""Spatial operator tests: PIP vs brute force on general (non-rect)
polygons, kNN vs brute force in the equirectangular ``COS_REF`` metric,
cell-column plumbing."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL
from parity import canon_rows

from osm2shp_spark.functions import geometry as G
from osm2shp_spark.functions.udfs import with_geometry_meta, with_point_cells
from osm2shp_spark.operators.assemble import assemble_ways
from osm2shp_spark.operators import _budget
from osm2shp_spark.operators.spatial import (
    COS_REF2,
    knn_join,
    knn_join_auto,
    pip_join,
    tile_vector_stats,
)
from osm2shp_spark.sources.synthetic import (
    synthetic_images,
    synthetic_nodes,
    synthetic_ways,
)


def test_pip_general_polygons_vs_brute_force(spark):
    """Non-rectangular (triangle/pentagon) polygons: engine pip_join must
    equal O(n*m) NumPy brute force."""
    rng = np.random.default_rng(21)
    n = 2000
    pts = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lon": rng.uniform(7.9, 9.1, n),
            "lat": rng.uniform(46.9, 48.1, n),
        }
    )
    polys = []
    for g in range(12):
        cx, cy = rng.uniform(8, 9), rng.uniform(47, 48)
        k = rng.integers(3, 8)
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(0.05, 0.25, k)
        polys.append(
            {
                "poly_id": g,
                "lons": (cx + rad * np.cos(ang)).tolist(),
                "lats": (cy + rad * np.sin(ang)).tolist(),
            }
        )
    brute = set()
    for p in polys:
        m = G.points_in_polygon(
            pts.lon.to_numpy(), pts.lat.to_numpy(),
            np.array(p["lons"]), np.array(p["lats"]),
        )
        brute |= {(int(i), p["poly_id"]) for i in pts.pid[m]}

    sp_pts = spark.createDataFrame(pts)
    sp_polys = spark.createDataFrame(
        pd.DataFrame(polys), schema="poly_id LONG, lons ARRAY<DOUBLE>, lats ARRAY<DOUBLE>"
    )
    got = {
        (r.pid, r.poly_id)
        for r in pip_join(sp_pts, sp_polys, ("pid",), ("poly_id",)).collect()
    }
    assert got == brute


def test_knn_fallback_engages_and_stays_exact(spark):
    """Tiny tile size forces most points through the provable-radius
    escape; result must still equal brute force."""
    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    nodes = synthetic_nodes(spark, SF_SMALL).filter("id > 0").select(
        F.col("id").alias("node_id"), "lon", "lat"
    ).limit(50)
    a = knn_join(imgs, nodes, k=2, tile_size=0.001).toPandas()
    b = knn_join(imgs, nodes, k=2, tile_size=10.0).toPandas()  # one tile: pure brute
    assert canon_rows(a) == canon_rows(b)


def _knn_brute(pts: pd.DataFrame, feats: pd.DataFrame, k: int) -> list[tuple]:
    """NumPy brute force in knn_join's arithmetic: every point against
    every feature, ranked by (dist2, node_id), at most k per point."""
    fid = feats.node_id.to_numpy(np.int64)
    flon = feats.lon.to_numpy(np.float64)
    flat = feats.lat.to_numpy(np.float64)
    rows = []
    for pid, plon, plat in pts[["image_id", "lon", "lat"]].itertuples(index=False):
        dlon, dlat = plon - flon, plat - flat
        d2 = dlon * dlon * COS_REF2 + dlat * dlat
        for rank, i in enumerate(np.lexsort((fid, d2))[:k], start=1):
            rows.append((int(pid), rank, int(fid[i]), float(d2[i])))
    return canon_rows(
        pd.DataFrame(rows, columns=["image_id", "rank", "node_id", "dist2"])
    )


def _knn_case(name: str):
    """(points, features, k, tile_size) of one adversarial kNN input."""
    rng = np.random.default_rng(17)

    def near(n, x, y, r):
        return np.column_stack([x + rng.uniform(-r, r, n), y + rng.uniform(-r, r, n)])

    if name == "cluster_and_far":
        # a dense cluster, lone features and points all over the globe
        lone = [[120.0, -30.0], [-170.0, 60.0], [8.5, 47.5]]
        f = np.vstack([near(40, 8.0, 47.0, 0.001), lone])
        p = np.vstack([
            near(30, 8.0, 47.0, 0.01),
            np.column_stack([rng.uniform(-180, 180, 20), rng.uniform(-90, 90, 20)]),
        ])
        return p, f, 3, 0.001
    if name == "fewer_than_k":
        return near(25, 8.5, 47.5, 1.5), np.array([[8.0, 47.0], [9.0, 48.0]]), 3, 0.05
    if name == "grid_ties":
        # exact binary coordinates on tile boundaries, duplicate features:
        # many equal distances, decided by feature id
        g = np.arange(8) / 8
        f = np.array([[8 + x, 47 + y] for x in g for y in g] * 2)
        p = np.array([8.0, 47.0]) + rng.integers(-4, 20, (60, 2)) / 16
        return p, f, 4, 0.125
    if name == "poles_and_antimeridian":
        edge = [-180.0, -179.999, 179.999, 180.0]
        f = np.array([[x, y] for x in edge for y in (-90, 0, 90)] + [[0, 89.999]])
        p = np.array(
            [[x, y] for x in (-180, -90, 0, 180) for y in (-90, -89.999, 0, 90)]
        )
        return p, f, 2, 0.05
    if name == "outside_lon_lat_domain":
        f = np.array([[500.0, 300.0], [-700.0, 0.0], [8.0, 47.0], [8.1, 47.1]])
        p = np.array([[8.05, 47.05], [600.0, 250.0], [-1000.0, -1000.0], [0.0, 0.0]])
        return p, f, 2, 0.05
    assert name == "empty_features"
    return rng.uniform(0, 10, (20, 2)), np.empty((0, 2)), 2, 0.05


@pytest.mark.parametrize(
    "case",
    [
        "cluster_and_far",
        "fewer_than_k",
        "grid_ties",
        "poles_and_antimeridian",
        "outside_lon_lat_domain",
        "empty_features",
    ],
)
def test_knn_join_equals_numpy_brute_force(spark, case):
    """knn_join equals a NumPy brute force bit for bit on inputs built
    to break a tile search: a cluster with far-away points, fewer
    features than k, exact-binary grid ties, points and features at
    the poles and the antimeridian, coordinates outside the lon/lat
    domain, and no features at all."""
    p, f, k, tile_size = _knn_case(case)
    pts = pd.DataFrame(
        {"image_id": np.arange(len(p)), "lon": p[:, 0], "lat": p[:, 1]}
    )
    feats = pd.DataFrame(
        {"node_id": np.arange(100, 100 + len(f)), "lon": f[:, 0], "lat": f[:, 1]}
    )
    got = knn_join(
        spark.createDataFrame(pts, "image_id long, lon double, lat double"),
        spark.createDataFrame(feats, "node_id long, lon double, lat double"),
        k=k,
        tile_size=tile_size,
    )
    assert canon_rows(got.toPandas()) == _knn_brute(pts, feats, k)


@pytest.mark.parametrize("query", ["q_knn_places", "q_knn_places_adaptive"])
def test_over_budget_knn_queries_match_oracle(spark, duck, monkeypatch, query):
    """Over the broadcast budget both kNN queries take the shuffle
    knn_join and still reproduce the brute-force oracle."""
    from osm2shp_spark import queries as Q

    monkeypatch.setattr(_budget, "BROADCAST_BUDGET_BYTES", 0)
    got = getattr(Q, query)(spark, SF_SMALL)
    assert "MapInPandas" not in _plan(got)
    expect = canon_rows(duck.execute(Q._KNN_ORACLE).df())
    assert canon_rows(got.toPandas()) == expect


def test_knn_join_caches_nothing_across_calls(spark, monkeypatch):
    """Repeated over-budget, straggler-heavy kNN calls in one session
    hold no storage: no CacheManager entry and no new persistent RDD
    (persists and checkpoints both show up there) after N calls."""
    from osm2shp_spark.operators import _budget
    from osm2shp_spark.operators.spatial import knn_join_auto

    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    nodes = synthetic_nodes(spark, SF_SMALL).filter("id > 0").select(
        F.col("id").alias("node_id"), "lon", "lat"
    ).limit(50)
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    held_before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    monkeypatch.setattr(_budget, "BROADCAST_BUDGET_BYTES", 0)
    for k in (1, 2, 3, 2):
        out = knn_join_auto(imgs, nodes, k=k, tile_size=0.001)
        assert out.count() == 1500 * k
    assert cache.numCachedEntries() == 0
    held = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert held <= held_before


def _plan(df, mode: str = "formatted") -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def _broadcast_inputs(df) -> set[tuple[str, ...]]:
    """Input attribute names of each BroadcastExchange in the formatted
    plan."""
    out, lines = set(), _plan(df).splitlines()
    for i, line in enumerate(lines):
        if line.startswith("(") and line.split(") ", 1)[-1] == "BroadcastExchange":
            attrs = lines[i + 1].split(": ", 1)[1].strip("[]").split(", ")
            out.add(tuple(a.split("#")[0] for a in attrs if a))
    return out


def test_knn_oversize_fallback_never_broadcasts_features(spark, monkeypatch):
    """Over the broadcast budget no BroadcastExchange carries feature
    rows (no ``_fid``/``_flon``): the only broadcasts are the one-row
    straggler gate and the chosen levels — from knn_join directly and
    from knn_join_auto's over-budget route. A tiny tile size sends
    most points down the straggler path, and the rows equal the
    in-budget numpy path's bit for bit."""
    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    nodes = synthetic_nodes(spark, SF_SMALL).filter("id > 0").select(
        F.col("id").alias("node_id"), "lon", "lat"
    ).limit(50)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # 50 features x 24 B are far over a 10-byte budget
        monkeypatch.setattr(_budget, "BROADCAST_BUDGET_BYTES", 10)
        overs = [
            knn_join(imgs, nodes, k=2, tile_size=0.001),
            knn_join_auto(imgs, nodes, k=2, tile_size=0.001),
        ]
        monkeypatch.undo()
        under = canon_rows(
            knn_join_auto(imgs, nodes, k=2, tile_size=0.001).toPandas()
        )
        for over in overs:
            # the gate (no column left after pruning) and the levels
            assert _broadcast_inputs(over) == {(), ("_lvl",)}
            assert "MapInPandas" not in _plan(over)
            assert canon_rows(over.toPandas()) == under
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_knn_no_fallback_subtree_when_all_resolved(spark, tmp_path):
    """With every point provably resolved by the base pass, the
    straggler path's feature scans never run: its gate broadcast is
    empty, so AQE drops them and the executed plan scans the feature
    source once. A straggler-heavy call scans it three times."""
    src = str(tmp_path / "features")
    synthetic_nodes(spark, SF_SMALL).filter("id > 0").select(
        F.col("id").alias("node_id"), "lon", "lat"
    ).limit(50).write.parquet(src)
    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    nodes = spark.read.parquet(src)

    def scans(tile_size: float) -> int:
        out = knn_join(imgs, nodes, k=2, tile_size=tile_size)
        assert len(out.collect()) == 1500 * 2
        final = out._jdf.queryExecution().executedPlan().toString()
        final = final.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final
        return sum(
            1 for line in final.splitlines() if "FileScan" in line and src in line
        )

    # the scan's location is abbreviated in the plan string past this
    old = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try:
        # one globe-sized tile: every point sees every feature, all resolve
        assert scans(1000.0) == 1
        assert scans(0.001) == 3
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)


def test_knn_auto_empty_features_matches_shuffle(spark):
    """An empty feature table gives no neighbors on either kNN path:
    the broadcast path's driver bucket build must not index a row that
    is not there."""
    from osm2shp_spark.operators.spatial import knn_join_auto

    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    empty = synthetic_nodes(spark, SF_SMALL).select(
        F.col("id").alias("node_id"), "lon", "lat"
    ).limit(0)
    auto = knn_join_auto(imgs, empty, k=2).toPandas()
    shuffle = knn_join(imgs, empty, k=2).toPandas()
    assert len(auto) == 0
    assert canon_rows(auto) == canon_rows(shuffle)
    assert list(auto.columns) == list(shuffle.columns)


def test_knn_broadcast_oversize_falls_back_to_shuffle(spark, monkeypatch):
    """knn_join_auto must guard its broadcast path's driver collect:
    above the broadcast budget it routes to the shuffle knn_join
    (identical rows) instead of toPandas()-ing an unbounded table."""
    from osm2shp_spark.operators import _budget
    from osm2shp_spark.operators.spatial import knn_join_auto

    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    nodes = synthetic_nodes(spark, SF_SMALL).filter("id > 0").select(
        F.col("id").alias("node_id"), "lon", "lat"
    ).limit(50)
    monkeypatch.setattr(_budget, "BROADCAST_BUDGET_BYTES", 10)
    over = knn_join_auto(imgs, nodes, k=2)
    monkeypatch.undo()
    under = knn_join_auto(imgs, nodes, k=2)
    # the oversize call must NOT be the mapInPandas broadcast plan
    plan = over._jdf.queryExecution().explainString(
        over._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "MapInPandas" not in plan
    assert canon_rows(over.toPandas()) == canon_rows(under.toPandas())


def test_tile_stats_row_count_positive(spark):
    imgs = synthetic_images(spark, SF_SMALL)
    nodes = synthetic_nodes(spark, SF_SMALL).filter("id > 0").select("id", "lon", "lat")
    df = tile_vector_stats(imgs, nodes).toPandas()
    assert (df.n_images + df.n_features > 0).all()
    assert df.n_images.sum() == imgs.count()


def test_point_cell_columns(spark):
    df = with_point_cells(
        synthetic_images(spark, SF_SMALL).limit(200), s2_level=12
    ).toPandas()
    assert {"s2_cell", "s2_token", "hex_r7", "hex_r12"} <= set(df.columns)
    # all points in one small bbox share coarse cells mostly; uniqueness
    # grows with resolution
    assert df.hex_r12.nunique() >= df.hex_r7.nunique()
    # s2 token is the hex id with trailing zeros stripped
    for t, c in zip(df.s2_token[:20], df.s2_cell[:20]):
        assert format(np.uint64(c), "016x").rstrip("0") == t


def test_geometry_meta_columns(spark):
    ways = assemble_ways(
        synthetic_nodes(spark, SF_SMALL), synthetic_ways(spark, SF_SMALL)
    )
    df = with_geometry_meta(ways).toPandas()
    assert df.wkb.map(len).gt(9).all()
    assert df.geom_digest.map(len).eq(40).all()
    # the JVM sha1 is byte-identical to hashlib over the same WKB
    assert (df.geom_digest == df.wkb.map(lambda b: hashlib.sha1(b).hexdigest())).all()
    assert (df.lon_min <= df.lon_max).all()


def test_pip_s2_equals_flat_grid(spark, monkeypatch):
    """The S2-covering prefilter path must produce exactly the
    flat-grid path's rows (same exact refine, different superset
    prefilter) — on axis-aligned rects (strict-bbox branch), on
    diamonds (PNPOLY branch), above the broadcast budget, and on an
    empty polygon table."""
    from pyspark.sql import functions as F

    from parity import canon_rows

    from osm2shp_spark.operators import _budget
    from osm2shp_spark.operators.spatial import pip_join, pip_join_s2
    from osm2shp_spark.sources.synthetic import synthetic_images, synthetic_rects
    from conftest import SF_SMALL

    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    src = synthetic_rects(spark, SF_SMALL)
    rects = src.select(
        "rect_id",
        "layer",
        F.array("lon_min", "lon_max", "lon_max", "lon_min", "lon_min").alias("lons"),
        F.array("lat_min", "lat_min", "lat_max", "lat_max", "lat_min").alias("lats"),
    )
    mx = "(lon_min + lon_max) / 2"
    my = "(lat_min + lat_max) / 2"
    diamonds = src.select(
        "rect_id",
        "layer",
        F.expr(f"array(lon_min, {mx}, lon_max, {mx}, lon_min)").alias("lons"),
        F.expr(f"array({my}, lat_min, {my}, lat_max, {my})").alias("lats"),
    )

    def both(polys):
        a = canon_rows(pip_join(imgs, polys, ("image_id",), ("rect_id", "layer")).toPandas())
        b = canon_rows(pip_join_s2(imgs, polys, ("image_id",), ("rect_id", "layer")).toPandas())
        return a, b

    a, b = both(rects)
    assert a == b and len(a) > 0
    d, e = both(diamonds)
    assert d == e and len(d) > 0
    assert both(rects.limit(0)) == ([], [])
    # rings ride the join rows (above the broadcast budget): same rows
    monkeypatch.setattr(_budget, "BROADCAST_BUDGET_BYTES", 0)
    assert canon_rows(
        pip_join_s2(imgs, rects, ("image_id",), ("rect_id", "layer")).toPandas()
    ) == a


def test_knn_adaptive_tile_size(spark):
    """The density histogram must drive the tile size finer under the
    fixture's deliberate hot cluster, and the result must stay
    bit-identical to the fixed-size path (exactness is tile-size
    independent by the provable-radius construction)."""
    from parity import canon_rows

    from osm2shp_spark.operators.spatial import (
        TILE_SIZE,
        auto_tile_size,
        knn_join,
        knn_join_adaptive,
    )
    from osm2shp_spark.sources.synthetic import synthetic_images, synthetic_nodes
    from conftest import SF_SMALL

    imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
    feats = (
        synthetic_nodes(spark, SF_SMALL)
        .filter("id > 0")
        .selectExpr("id AS node_id", "lon", "lat")
    )
    # the nodes fixture packs ~10% of points into a 0.01x0.01 deg cell:
    # with a tiny threshold the histogram must react
    assert auto_tile_size(feats, hot_threshold=5) < TILE_SIZE
    out = knn_join_adaptive(imgs, feats, k=3, hot_threshold=5)
    assert canon_rows(out.toPandas()) == canon_rows(
        knn_join(imgs, feats, k=3, tile_size=TILE_SIZE).toPandas()
    )


def test_pnpoly_sql_bit_parity_randomized(spark):
    """Adversarial bit-parity check of the JVM refine kernel: evaluate
    ``pnpoly_sql`` directly over (point, ring) pairs and compare each
    boolean to the NumPy ``points_in_polygon`` kernel.

    Coordinates are snapped to 1/8 grid steps (exact binary fractions)
    so boundary coincidences actually happen: points ON vertices and
    edges, horizontal/vertical edges (division by zero in the crossing
    intercept), duplicate consecutive vertices, closed rings, and
    degenerate <3-vertex rings all occur in the sample. The two
    implementations share IEEE op order and the half-open crossing
    convention, so every pair must agree exactly.
    """
    from osm2shp_spark.operators.spatial import (
        _strip_closed_ring,
        _with_ring_edges,
        pnpoly_sql,
    )

    rng = np.random.default_rng(1234)
    rings = []
    for g in range(40):
        k = int(rng.integers(2, 9))  # includes degenerate 2-vertex rings
        xs = np.round(rng.uniform(0, 4, k) * 8) / 8
        ys = np.round(rng.uniform(0, 4, k) * 8) / 8
        if g % 3 == 0 and k >= 3:  # close a third of the rings
            xs = np.append(xs, xs[0])
            ys = np.append(ys, ys[0])
        if g % 5 == 0 and k >= 3:  # force a horizontal edge
            ys[1] = ys[0]
        if g % 7 == 0 and k >= 4:  # duplicate consecutive vertex
            xs[2], ys[2] = xs[1], ys[1]
        rings.append({"gid": g, "lons": xs.tolist(), "lats": ys.tolist()})

    npts = 80
    px = np.round(rng.uniform(0, 4, npts) * 8) / 8
    py = np.round(rng.uniform(0, 4, npts) * 8) / 8
    # plant exact vertex hits
    px[:10] = [r["lons"][0] for r in rings[:10]]
    py[:10] = [r["lats"][0] for r in rings[:10]]

    expect = {}
    for r in rings:
        m = G.points_in_polygon(px, py, np.array(r["lons"]), np.array(r["lats"]))
        for i in np.flatnonzero(m):
            expect[(int(i), r["gid"])] = True

    polys = spark.createDataFrame(
        pd.DataFrame(rings), schema="gid LONG, lons ARRAY<DOUBLE>, lats ARRAY<DOUBLE>"
    )
    polys = _with_ring_edges(_strip_closed_ring(polys))
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(npts), "_px": px, "_py": py})
    )
    got = {
        (r.pid, r.gid)
        for r in pts.crossJoin(polys.select("gid", "_edges"))
        .filter(F.expr(pnpoly_sql("_px", "_py")))
        .collect()
    }
    assert got == set(expect)


class TestKnnTileWindow:
    """knn_join's tile-keyed top-k aggregate must reuse the shuffle
    join's partitioning: no Exchange between the join and the
    aggregate."""

    def _inputs(self, spark):
        imgs = synthetic_images(spark, SF_SMALL).select("image_id", "lon", "lat")
        nodes = (
            synthetic_nodes(spark, SF_SMALL)
            .filter("id > 0")
            .select(F.col("id").alias("node_id"), "lon", "lat")
            .limit(200)
        )
        return imgs, nodes

    def test_tile_window_drops_an_exchange(self, spark):
        """With broadcast disabled, HashPartitioning(tile) satisfies the
        tile-keyed top-k aggregate's ClusteredDistribution (subset
        rule) — candidates must never re-shuffle between the join and
        the aggregate."""
        imgs, nodes = self._inputs(spark)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        def simple_plan(df) -> str:
            # simple mode: one line per node, tree-adjacent — the
            # child-chain scan below depends on that layout
            return df._jdf.queryExecution().explainString(
                df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "simple"
                )
            )

        try:
            pa = simple_plan(knn_join(imgs, nodes, k=2))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

        def exchange_under_topk_agg(plan: str, key_marker: str) -> bool:
            """True if the base pass's top-k aggregate (knn_join's only
            collect_list agg keyed by tile) re-shuffles candidates:
            walking down from each FINAL collect_list aggregate whose
            keys contain ``key_marker``, an Exchange before the partial
            aggregate means the candidate set crossed the wire."""
            lines = plan.splitlines()
            hits = []
            for i, line in enumerate(lines):
                if (
                    "collect_list" not in line
                    or "partial_collect_list" in line
                    or key_marker not in line.split("functions=")[0]
                ):
                    continue
                for nxt in lines[i + 1 :]:
                    if "partial_collect_list" in nxt:
                        hits.append(False)
                        break
                    if "Exchange" in nxt:
                        hits.append(True)
                        break
            assert hits, f"no top-k aggregate keyed by {key_marker} found"
            return any(hits)

        # tile-keyed aggregate rides the join's HashPartitioning(tile):
        # the full-candidate-set exchange must be gone
        assert not exchange_under_topk_agg(pa, "tile_x")
