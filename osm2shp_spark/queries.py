"""Query registry: every implemented operator exposed as a
(spark_fn, duckdb_oracle_sql) pair for the driver contract
(``__spark_entry__.py``).

The geo tables are derived from the driver parquet with engine-portable
arithmetic (see ``sources.synthetic``), so even the spatial pipeline is
SQL-oracle-checked, not just rows-only. Column names are aliased
identically on both sides — the driver sorts columns by name before
value-hashing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm2shp_spark.operators.assemble import assemble_ways, assembly_counters
from osm2shp_spark.operators.classify import classify_nodes
from osm2shp_spark.operators.spatial import (
    dist2_expr,
    pip_join,
    tile_expr,
    tile_vector_stats,
)
from osm2shp_spark.rules import (
    min_vertex_sql,
    node_layer_sql,
    way_kind_sql,
    way_layer_sql,
)
from osm2shp_spark.sources.synthetic import (
    IMAGES_SQL,
    NODES_SQL,
    RECTS_SQL,
    synthetic_images,
    synthetic_nodes,
    synthetic_rects,
    synthetic_ways,
    ways_sql,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

#: name -> (spark callable, duckdb oracle: SQL string, a zero-arg
#: callable returning SQL (lazy — golden-fixture oracles materialize
#: expected rows at call time, not at import), or None for rows-only)
REGISTRY: dict[str, tuple[QueryFn, str | Callable[[], str] | None]] = {}


def register(name: str, oracle: str | Callable[[], str] | None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Shared oracle CTE prelude (DuckDB dialect)
# ---------------------------------------------------------------------------

def _geo_ctes(ways_sql_text: str | None = None) -> str:
    return f"""
WITH nodes AS ({NODES_SQL}),
ways AS ({ways_sql_text or ways_sql('duckdb')}),
staged AS (SELECT id, lon, lat FROM nodes WHERE id > 0),
ways_kinded AS (
    SELECT *, len(refs) AS n_refs FROM (
        SELECT *, {way_kind_sql()} AS kind FROM ways
    ) k
),
ways_routed AS (
    SELECT id, refs, n_refs, kind, {way_layer_sql('kind')} AS layer
    FROM ways_kinded
    WHERE {min_vertex_sql('kind', 'n_refs')}
),
ways_layered AS (SELECT * FROM ways_routed WHERE layer IS NOT NULL),
ways_exploded AS (
    SELECT id, layer, kind, n_refs,
           unnest(refs) AS ref,
           generate_subscripts(refs, 1) AS pos
    FROM ways_layered
),
ways_joined AS (
    SELECT e.id, e.layer, e.kind, e.n_refs, e.pos, s.lon, s.lat
    FROM ways_exploded e JOIN staged s ON e.ref = s.id
),
ways_assembled AS (
    SELECT id AS way_id, layer, kind, CAST(n_refs AS INTEGER) AS n_pts,
           count(*) AS n_resolved,
           list(lon ORDER BY pos) AS lons,
           list(lat ORDER BY pos) AS lats,
           CAST(sum(CAST(floor(lon * 1e6 + 0.5e0) AS BIGINT))
                AS BIGINT) AS lon_qsum,
           CAST(sum(CAST(floor(lat * 1e6 + 0.5e0) AS BIGINT))
                AS BIGINT) AS lat_qsum,
           CAST(sum(pos * CAST(floor(lon * 1e6 + 0.5e0) AS BIGINT))
                AS BIGINT) AS lon_qwsum,
           CAST(sum(pos * CAST(floor(lat * 1e6 + 0.5e0) AS BIGINT))
                AS BIGINT) AS lat_qwsum
    FROM ways_joined
    GROUP BY id, layer, kind, n_refs
),
assembled AS (
    SELECT way_id, layer, kind, n_pts, lons, lats,
           lon_qsum, lat_qsum, lon_qwsum, lat_qwsum
    FROM ways_assembled WHERE n_resolved = n_pts
)
"""


# ---------------------------------------------------------------------------
# Flagship: way-geometry assembly (O3-O5, O7-O13)
# ---------------------------------------------------------------------------

#: BIGINT micro-degree quantizer, IEEE-identical in Spark and DuckDB
#: (floor, not round: DuckDB rounds float->int casts, Spark truncates —
#: floor(x*1e6 + 0.5) sidesteps both engines' cast conventions).
def _q6i(col: str) -> str:
    return f"CAST(floor({col} * 1e6 + 0.5e0) AS BIGINT)"


_WAY_ASSEMBLY_ORACLE = _geo_ctes() + """
SELECT way_id, layer, kind, n_pts,
       lons[1] AS first_lon, lats[1] AS first_lat,
       lons[-1] AS last_lon, lats[-1] AS last_lat,
       lon_qsum, lat_qsum, lon_qwsum, lat_qwsum
FROM assembled
"""


def _assembly_scalar_projection(assembled: DataFrame) -> DataFrame:
    """Project assembled coord arrays to gate-comparable scalars: exact
    first/last coords + quantized positional checksums (order-sensitive
    — any permutation or value drift changes lon_qwsum/lat_qwsum)."""
    qsum = lambda c: (  # noqa: E731
        f"aggregate(transform({c}, x -> {_q6i('x')}), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    qwsum = lambda c: (  # noqa: E731
        f"aggregate(zip_with({c}, sequence(1, size({c})), "
        f"(x, i) -> CAST(i AS BIGINT) * {_q6i('x')}), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return assembled.select(
        "way_id",
        "layer",
        "kind",
        "n_pts",
        F.element_at("lons", 1).alias("first_lon"),
        F.element_at("lats", 1).alias("first_lat"),
        F.element_at("lons", -1).alias("last_lon"),
        F.element_at("lats", -1).alias("last_lat"),
        F.expr(qsum("lons")).alias("lon_qsum"),
        F.expr(qsum("lats")).alias("lat_qsum"),
        F.expr(qwsum("lons")).alias("lon_qwsum"),
        F.expr(qwsum("lats")).alias("lat_qwsum"),
    )


@register("way_assembly", _WAY_ASSEMBLY_ORACLE)
def q_way_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship O12/O13 assembly. The operator itself returns the raw
    parallel coordinate arrays (``assemble_ways``, pytest-parity-
    checked); the driver gate cannot canonicalize ARRAY cells, so the
    registered projection carries FULL value coverage of the arrays as
    scalars (see ``_assembly_scalar_projection``)."""
    nodes = synthetic_nodes(spark, sf_dir)
    ways = synthetic_ways(spark, sf_dir)
    return _assembly_scalar_projection(assemble_ways(nodes, ways))


def _mega_assembly_oracle() -> str:
    from osm2shp_spark.sources.synthetic import mega_ways_sql

    return _geo_ctes(mega_ways_sql("duckdb")) + """
SELECT way_id, layer, kind, n_pts,
       lons[1] AS first_lon, lats[1] AS first_lat,
       lons[-1] AS last_lon, lats[-1] AS last_lat,
       lon_qsum, lat_qsum, lon_qwsum, lat_qwsum
FROM assembled
"""


def q_way_assembly_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N6 mega-way skew through the driver gate: the same flagship
    assembly over ways PLUS one 60k-ref mega-way
    (``sources.synthetic.mega_ways_sql``). ``assemble_ways_auto``'s
    ref-count stat detects it and routes the salted two-stage plan
    (skew.py: chunked groupBy bounds every reducer key at 1024 rows —
    reference semantics unchanged, osm/point_database.cc:48-112). The
    oracle is the path-independent assembly SQL over the same input,
    so a salting bug (lost chunk, wrong order) breaks the value hash;
    the strategy choice itself is plan-asserted in tests/test_plans.py.
    Gated via ``way_assembly_strategies``."""
    from osm2shp_spark.operators.assemble import assemble_ways_auto
    from osm2shp_spark.sources.synthetic import synthetic_mega_ways

    nodes = synthetic_nodes(spark, sf_dir)
    ways = synthetic_mega_ways(spark, sf_dir)
    return _assembly_scalar_projection(assemble_ways_auto(nodes, ways))


def _way_strategies_oracle() -> str:
    return f"""
SELECT 'salted' AS strategy, t.* FROM ({_mega_assembly_oracle()}) t
UNION ALL
SELECT 'mapside' AS strategy, t.* FROM ({_WAY_ASSEMBLY_ORACLE}) t
"""


@register("way_assembly_strategies", _way_strategies_oracle)
def q_way_assembly_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both ``assemble_ways_auto`` routes in ONE gate row (the driver
    records at most 50 registry entries, so intra-family variants share
    a row — each side still executes its full plan and is value-checked
    against its own path-independent SQL):

    - ``salted``: mega-way input routed onto the two-stage salted plan
      (bounded reducer keys);
    - ``mapside``: the standard input, routed onto the Catalyst join
      with the smallint ``compact_pos`` exchange — the call
      ``engine.run`` makes. The label names a map-side broadcast
      assembly that has since been deleted; it stays because it is
      part of the oracle SQL text.
    """
    from osm2shp_spark.operators.assemble import assemble_ways_auto

    salted = q_way_assembly_salted(spark, sf_dir).select(
        F.lit("salted").alias("strategy"), "*"
    )
    nodes = synthetic_nodes(spark, sf_dir)
    ways = synthetic_ways(spark, sf_dir)
    auto = _assembly_scalar_projection(assemble_ways_auto(nodes, ways)).select(
        F.lit("mapside").alias("strategy"), "*"
    )
    return salted.unionByName(auto)


@register("resumable_node_export", lambda: _NODE_EXPORT_ORACLE)
def q_resumable_node_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18/O19 resumability, value-checked in the gate: the node
    export runs through ``run_stage_resumable`` in two sessions — the
    first sees only a partition subset (a simulated crash mid-job),
    the second sees the full input and the manifest anti-join must
    process EXACTLY the missing partitions. The returned table is the
    union the two runs appended; the oracle is the plain one-shot SQL
    — any duplicate or gap from the resume logic breaks the value
    hash."""
    import tempfile as _tf

    from osm2shp_spark.operators.classify import classify_nodes
    from osm2shp_spark.plans.manifest import run_stage_resumable

    classified = classify_nodes(synthetic_nodes(spark, sf_dir)).withColumn(
        "part_key", F.xxhash64("layer")
    )
    work = _tf.mkdtemp(prefix="resume_gate_")
    out_dir = f"{work}/out"
    man_dir = f"{work}/manifest"
    first = classified.filter(F.col("part_key") % 2 == 0)
    run_stage_resumable(
        spark, first, "node_export", "part_key", lambda df: df, out_dir, man_dir
    )
    run_stage_resumable(
        spark, classified, "node_export", "part_key", lambda df: df, out_dir, man_dir
    )
    return spark.read.parquet(out_dir).select(
        "node_id", "layer", "name", "lon", "lat"
    )


# ---------------------------------------------------------------------------
# Generalization (O21-O23): Douglas-Peucker + rmdupl + rmline, oracle-
# checked by an INDEPENDENT recursive-CTE DP implementation in DuckDB
# ---------------------------------------------------------------------------

def _generalize_oracle() -> str:
    from osm2shp_spark.operators.generalize import LAYER_THRESHOLDS
    from osm2shp_spark.operators.spatial import dlit

    eps_case = (
        "CASE WHEN kind = 'line' THEN CASE layer "
        + " ".join(
            f"WHEN '{lay}' THEN {dlit(e)}"
            for lay, e in sorted(LAYER_THRESHOLDS.items())
        )
        + " ELSE 0e0 END ELSE 0e0 END"
    )
    # the exact perpendicular-distance formula of
    # functions/geometry.py:douglas_peucker_mask — same operator
    # order, same sqrt form, so keep decisions agree bitwise
    norm = (
        "sqrt((vb.x - va.x) * (vb.x - va.x) + (vb.y - va.y) * (vb.y - va.y))"
    )
    dist = f"""CASE WHEN {norm} = 0e0
        THEN sqrt((v.x - va.x) * (v.x - va.x) + (v.y - va.y) * (v.y - va.y))
        ELSE abs((vb.y - va.y) * v.x - (vb.x - va.x) * v.y
                 + vb.x * va.y - vb.y * va.x) / {norm} END"""
    q6 = "CAST(floor({c} * 1e6 + 0.5e0) AS BIGINT)"
    # the whole chain shares one WITH; RECURSIVE applies to `act` only
    geo = _geo_ctes().replace("\nWITH ", "\nWITH RECURSIVE ", 1)
    return (
        geo
        + f""",
heads AS (
    SELECT way_id, layer, kind, n_pts, {eps_case} AS eps FROM assembled
),
v AS (
    SELECT way_id, generate_subscripts(lons, 1) AS pos,
           unnest(lons) AS x, unnest(lats) AS y
    FROM assembled
),
act AS (
    SELECT way_id, 1 AS a, n_pts AS b, eps
    FROM heads WHERE eps > 0e0 AND n_pts > 2
    UNION ALL
    SELECT c.way_id, u.a2 AS a, u.b2 AS b, c.eps
    FROM (
        SELECT w.way_id, w.a, w.b, w.eps, w.pos AS split
        FROM (
            SELECT dd.*, ROW_NUMBER() OVER (
                       PARTITION BY dd.way_id, dd.a, dd.b
                       ORDER BY dd.d DESC, dd.pos ASC
                   ) AS rn
            FROM (
                SELECT s.way_id, s.a, s.b, s.eps, v.pos, {dist} AS d
                FROM act s
                JOIN v    ON v.way_id = s.way_id AND v.pos > s.a AND v.pos < s.b
                JOIN v va ON va.way_id = s.way_id AND va.pos = s.a
                JOIN v vb ON vb.way_id = s.way_id AND vb.pos = s.b
                WHERE s.b - s.a >= 2
            ) dd
        ) w
        WHERE w.rn = 1 AND w.d > w.eps
    ) c CROSS JOIN LATERAL (VALUES (c.a, c.split), (c.split, c.b)) u(a2, b2)
),
kept AS (
    SELECT way_id, a AS pos FROM act
    UNION
    SELECT way_id, b FROM act
    UNION
    SELECT v.way_id, v.pos
    FROM v JOIN heads h USING (way_id)
    WHERE h.eps = 0e0 OR h.n_pts <= 2
),
seq AS (
    SELECT k.way_id, h.kind AS _kind, v.pos, v.x, v.y,
           lag(v.x) OVER w AS px, lag(v.y) OVER w AS py
    FROM kept k JOIN v USING (way_id, pos) JOIN heads h USING (way_id)
    WINDOW w AS (PARTITION BY k.way_id ORDER BY v.pos)
),
ded AS (
    -- rmdupl applies to LINE kinds only (point/polygon layers pass
    -- through untouched, mapgen.sh:54 — mirrored in generalize_ways)
    SELECT way_id, pos, x, y,
           ROW_NUMBER() OVER (PARTITION BY way_id ORDER BY pos) AS i,
           COUNT(*) OVER (PARTITION BY way_id) AS n2
    FROM seq
    WHERE _kind <> 'line' OR px IS NULL OR x <> px OR y <> py
),
agg AS (
    SELECT way_id,
           CAST(max(n2) AS INTEGER) AS n_pts,
           max(CASE WHEN i = 1 THEN x END) AS first_lon,
           max(CASE WHEN i = 1 THEN y END) AS first_lat,
           max(CASE WHEN i = n2 THEN x END) AS last_lon,
           max(CASE WHEN i = n2 THEN y END) AS last_lat,
           CAST(sum({q6.format(c='x')}) AS BIGINT) AS lon_qsum,
           CAST(sum({q6.format(c='y')}) AS BIGINT) AS lat_qsum,
           CAST(sum(i * {q6.format(c='x')}) AS BIGINT) AS lon_qwsum,
           CAST(sum(i * {q6.format(c='y')}) AS BIGINT) AS lat_qwsum
    FROM ded GROUP BY way_id
)
SELECT a.way_id, h.layer, h.kind, a.n_pts,
       a.first_lon, a.first_lat, a.last_lon, a.last_lat,
       a.lon_qsum, a.lat_qsum, a.lon_qwsum, a.lat_qwsum
FROM agg a JOIN heads h USING (way_id)
WHERE NOT (h.kind = 'line' AND a.n_pts < 2)
"""
    )


@register("generalize_dp", _generalize_oracle)
def q_generalize_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O21-O23 generalization, value-checked: the engine's per-way
    NumPy DP kernel + rmdupl + rmline vs an INDEPENDENT recursive-CTE
    Douglas-Peucker in DuckDB (same perpendicular-distance formula ⇒
    bitwise-identical keep decisions; everything else — recursion
    strategy, dedup, aggregation — is a fully separate implementation).
    Output carries the same scalar coordinate digests as way_assembly
    (positions renumbered post-dedup)."""
    from osm2shp_spark.operators.generalize import generalize_ways

    nodes = synthetic_nodes(spark, sf_dir)
    ways = synthetic_ways(spark, sf_dir)
    gen = generalize_ways(assemble_ways(nodes, ways))
    qsum = lambda c: (  # noqa: E731
        f"aggregate(transform({c}, x -> {_q6i('x')}), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    qwsum = lambda c: (  # noqa: E731
        f"aggregate(zip_with({c}, sequence(1, size({c})), "
        f"(x, i) -> CAST(i AS BIGINT) * {_q6i('x')}), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return gen.select(
        "way_id",
        "layer",
        "kind",
        "n_pts",
        F.element_at("lons", 1).alias("first_lon"),
        F.element_at("lats", 1).alias("first_lat"),
        F.element_at("lons", -1).alias("last_lon"),
        F.element_at("lats", -1).alias("last_lat"),
        F.expr(qsum("lons")).alias("lon_qsum"),
        F.expr(qsum("lats")).alias("lat_qsum"),
        F.expr(qwsum("lons")).alias("lon_qwsum"),
        F.expr(qwsum("lats")).alias("lat_qwsum"),
    )


def _polylines_oracle() -> str:
    """Independent polyline recomputation: the walk's PARTITION of
    segments into maximal polylines equals connected components of the
    'shares a degree-2 endpoint' graph — recomputed here by recursive
    min-label propagation (a completely different algorithm from the
    engine's union-find walk)."""
    geo = _geo_ctes().replace("\nWITH ", "\nWITH RECURSIVE ", 1)
    return (
        geo
        + """,
lines AS (
    SELECT way_id, layer, n_pts,
           lons[1] AS x0, lats[1] AS y0, lons[-1] AS x1, lats[-1] AS y1
    FROM assembled WHERE kind = 'line'
),
ends AS (
    SELECT way_id, layer, x0 AS ex, y0 AS ey FROM lines
    UNION ALL
    SELECT way_id, layer, x1, y1 FROM lines
),
deg AS (
    SELECT layer, ex, ey, count(*) AS d FROM ends GROUP BY layer, ex, ey
),
adj AS (
    SELECT a.way_id AS a, b.way_id AS b
    FROM ends a
    JOIN ends b ON a.layer = b.layer AND a.ex = b.ex AND a.ey = b.ey
               AND a.way_id <> b.way_id
    JOIN deg d ON d.layer = a.layer AND d.ex = a.ex AND d.ey = a.ey
    WHERE d.d = 2
),
comp AS (
    SELECT way_id, way_id AS lbl FROM lines
    UNION
    SELECT adj.a AS way_id, comp.lbl
    FROM adj JOIN comp ON comp.way_id = adj.b
    WHERE comp.lbl < adj.a
),
lbl AS (SELECT way_id, min(lbl) AS polyline_key FROM comp GROUP BY way_id)
SELECT l.layer, lb.polyline_key,
       CAST(count(*) AS INTEGER) AS n_segments,
       CAST(CAST(sum(l.n_pts) AS BIGINT) - (count(*) - 1) AS INTEGER)
           AS n_pts
FROM lines l JOIN lbl lb USING (way_id)
GROUP BY l.layer, lb.polyline_key
"""
    )


_GEOM_DEDUP_ORACLE_TAIL = """
SELECT a.way_id, a.layer, a.kind, a.n_pts
FROM assembled a
JOIN (
    SELECT kind, lons, lats, min(way_id) AS way_id
    FROM assembled GROUP BY kind, lons, lats
) k ON a.way_id = k.way_id
"""


def _geom_dedup_oracle() -> str:
    return _geo_ctes() + _GEOM_DEDUP_ORACLE_TAIL


@register("geom_dedup", _geom_dedup_oracle)
def q_geom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-level duplicate-geometry removal (v.clean rmdupl at
    table scope), value-checked: the engine keys on a sha1 WKB digest
    (16-byte shuffle keys, never coordinates); the oracle groups by
    the raw (kind, lons, lats) — identical equivalence classes unless
    sha1 collides, so the value hash IS the collision check."""
    from osm2shp_spark.operators.generalize import dedup_geometries

    nodes = synthetic_nodes(spark, sf_dir)
    ways = synthetic_ways(spark, sf_dir)
    return dedup_geometries(assemble_ways(nodes, ways)).select(
        "way_id", "layer", "kind", "n_pts"
    )


@register("polylines", _polylines_oracle)
def q_polylines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O21 polyline building (v.build.polylines), value-checked: the
    engine's per-layer union-find walk vs an independent recursive
    min-label connected-components recomputation in DuckDB. Canonical
    projection: (layer, polyline_key=min member way_id, n_segments,
    n_pts); chain length is sum(segment points) - (n_segments - 1)
    because every join dedupes exactly one shared vertex."""
    from osm2shp_spark.operators.polylines import build_polylines

    nodes = synthetic_nodes(spark, sf_dir)
    ways = synthetic_ways(spark, sf_dir)
    return build_polylines(assemble_ways(nodes, ways)).select(
        "layer", "polyline_key", "n_segments", "n_pts"
    )


# ---------------------------------------------------------------------------
# Node export (O3, O6, O8, O14)
# ---------------------------------------------------------------------------

_NODE_EXPORT_ORACLE = f"""
WITH nodes AS ({NODES_SQL})
SELECT node_id, layer, name, lon, lat FROM (
    SELECT id AS node_id, {node_layer_sql()} AS layer,
           substr(tag_name, 1, 64) AS name, lon, lat
    FROM nodes
    WHERE id > 0 AND tag_name IS NOT NULL
) t WHERE layer IS NOT NULL
"""


@register("node_export", _NODE_EXPORT_ORACLE)
def q_node_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    return classify_nodes(synthetic_nodes(spark, sf_dir))


# ---------------------------------------------------------------------------
# Observability counters (O17)
# ---------------------------------------------------------------------------

_COUNTERS_ORACLE = _geo_ctes() + """
SELECT p.processed_ways, r.routed_ways, e.exported_ways,
       r.routed_ways - e.exported_ways AS dropped_unresolved
FROM (SELECT count(*) AS processed_ways FROM ways) p,
     (SELECT count(*) AS routed_ways FROM ways_layered) r,
     (SELECT count(*) AS exported_ways FROM assembled) e
"""


@register("way_counters", _COUNTERS_ORACLE)
def q_way_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = synthetic_nodes(spark, sf_dir)
    ways = synthetic_ways(spark, sf_dir)
    return assembly_counters(nodes, ways)


# ---------------------------------------------------------------------------
# Spatial joins (N3/N4/N5)
# ---------------------------------------------------------------------------

#: exported place nodes (node_export) as a reusable oracle CTE
_PLACES_CTE = f"""
places AS (
    SELECT node_id, lon, lat FROM (
        SELECT id AS node_id, {node_layer_sql()} AS layer, lon, lat
        FROM nodes WHERE id > 0 AND tag_name IS NOT NULL
    ) t WHERE layer IS NOT NULL
)
"""

_PIP_RECT_ORACLE = f"""
WITH images AS ({IMAGES_SQL}),
rects AS ({RECTS_SQL})
SELECT i.image_id, r.rect_id, r.layer
FROM images i JOIN rects r
  ON  i.lon > r.lon_min AND i.lon < r.lon_max
  AND i.lat > r.lat_min AND i.lat < r.lat_max
"""


@register("pip_rect", _PIP_RECT_ORACLE)
def q_pip_rect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General ray-cast PIP join, exercised on rectangle polygons whose
    truth is SQL interval algebra (the engine runs the full tile-join +
    refine machinery; boundary coincidences excluded by construction)."""
    imgs = synthetic_images(spark, sf_dir).select("image_id", "lon", "lat")
    rects = synthetic_rects(spark, sf_dir).select(
        "rect_id",
        "layer",
        F.array("lon_min", "lon_max", "lon_max", "lon_min", "lon_min").alias("lons"),
        F.array("lat_min", "lat_min", "lat_max", "lat_max", "lat_min").alias("lats"),
    )
    return pip_join(imgs, rects, ("image_id",), ("rect_id", "layer"))


@register("pip_rect_s2", _PIP_RECT_ORACLE)
def q_pip_rect_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same PIP truth through the S2-covering prefilter path (north
    rule: covering tokens FOR layer classification) — polygons explode
    over bbox covering tokens, points join on their level-L token,
    shared exact refine. Value-checked against the identical interval
    oracle as pip_rect."""
    from osm2shp_spark.operators.spatial import pip_join_s2

    imgs = synthetic_images(spark, sf_dir).select("image_id", "lon", "lat")
    rects = synthetic_rects(spark, sf_dir).select(
        "rect_id",
        "layer",
        F.array("lon_min", "lon_max", "lon_max", "lon_min", "lon_min").alias("lons"),
        F.array("lat_min", "lat_min", "lat_max", "lat_max", "lat_min").alias("lats"),
    )
    return pip_join_s2(imgs, rects, ("image_id",), ("rect_id", "layer"))


_KNN_ORACLE = f"""
WITH nodes AS ({NODES_SQL}),
images AS ({IMAGES_SQL}),
{_PLACES_CTE},
d AS (
    SELECT i.image_id, p.node_id,
           {dist2_expr('i.lon', 'i.lat', 'p.lon', 'p.lat')} AS dist2
    FROM images i, places p
),
r AS (
    SELECT image_id, node_id, dist2,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY image_id ORDER BY dist2, node_id
           ) AS INTEGER) AS "rank"
    FROM d
)
SELECT image_id, "rank", node_id, dist2 FROM r WHERE "rank" <= 3
"""


@register("knn_places", _KNN_ORACLE)
def q_knn_places(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-NN nearest named place per image point, checked against
    the SQL brute force — through the production strategy selector
    ``knn_join_auto`` (guide §3.1: broadcast the side that fits,
    deliberately). The named-place dimension table is far under the
    broadcast budget at every fixture scale, so the selector picks the
    zero-shuffle numpy-bucket path. Its over-budget route, the shuffle
    tile-join ``knn_join``, never runs in the gate: pytest runs this
    query with a zero budget against the same oracle
    (tests/test_spatial.py). Both paths are bit-identical by construction (same IEEE
    distance arithmetic, same (dist2, id) tie-break), so the oracle
    hash is strategy-independent."""
    from osm2shp_spark.operators.spatial import knn_join_auto

    imgs = synthetic_images(spark, sf_dir).select("image_id", "lon", "lat")
    places = classify_nodes(synthetic_nodes(spark, sf_dir)).select(
        "node_id", "lon", "lat"
    )
    return knn_join_auto(imgs, places, k=3)


def q_knn_places_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N6 adaptive path through the gate: the density histogram picks
    the prefilter tile size (dense hot cluster in the fixture → finer
    grid), then ``knn_join_auto`` at that tile size — on the fixture
    the broadcast numpy-bucket path, like ``knn_places``. Same oracle
    as knn_places — exactness is tile-size independent by
    construction, so a histogram/threshold bug that broke candidate
    completeness breaks the value hash. The shuffle ``knn_join`` is
    covered by pytest only, which also runs this query over budget
    against the oracle. Gated via ``knn_places_strategies``."""
    from osm2shp_spark.operators.spatial import knn_join_adaptive

    imgs = synthetic_images(spark, sf_dir).select("image_id", "lon", "lat")
    places = classify_nodes(synthetic_nodes(spark, sf_dir)).select(
        "node_id", "lon", "lat"
    )
    return knn_join_adaptive(imgs, places, k=3, hot_threshold=50)


_KNN_STRATEGIES_ORACLE = f"""
SELECT 'broadcast' AS strategy, t.* FROM ({_KNN_ORACLE}) t
UNION ALL
SELECT 'adaptive' AS strategy, t.* FROM ({_KNN_ORACLE}) t
"""


@register("knn_places_strategies", _KNN_STRATEGIES_ORACLE)
def q_knn_places_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both kNN selector entry points in ONE gate row (driver 50-entry
    window; see way_assembly_strategies). Each side runs its full plan
    — the zero-shuffle broadcast-numpy path at the default tile size
    (``knn_places``) and at the density-histogram tile size
    (``knn_places_adaptive``) — and both must reproduce the
    brute-force SQL result bit-for-bit."""
    bcast = q_knn_places(spark, sf_dir).select(
        F.lit("broadcast").alias("strategy"), "*"
    )
    adapt = q_knn_places_adaptive(spark, sf_dir).select(
        F.lit("adaptive").alias("strategy"), "*"
    )
    return bcast.unionByName(adapt)


_TILE_JOIN_ORACLE = f"""
WITH nodes AS ({NODES_SQL}),
images AS ({IMAGES_SQL}),
{_PLACES_CTE},
it AS (
    SELECT {tile_expr('lon')} AS tile_x, {tile_expr('lat')} AS tile_y,
           count(*) AS n_images
    FROM images GROUP BY 1, 2
),
ft AS (
    SELECT {tile_expr('lon')} AS tile_x, {tile_expr('lat')} AS tile_y,
           count(*) AS n_features
    FROM places GROUP BY 1, 2
)
SELECT coalesce(it.tile_x, ft.tile_x) AS tile_x,
       coalesce(it.tile_y, ft.tile_y) AS tile_y,
       coalesce(n_images, 0) AS n_images,
       coalesce(n_features, 0) AS n_features
FROM it FULL OUTER JOIN ft
  ON it.tile_x = ft.tile_x AND it.tile_y = ft.tile_y
"""


@register("tile_vector_join", _TILE_JOIN_ORACLE)
def q_tile_vector_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N5 raster-tile ↔ vector rollup (images x exported places)."""
    imgs = synthetic_images(spark, sf_dir).select("image_id", "lon", "lat")
    places = classify_nodes(synthetic_nodes(spark, sf_dir)).select(
        "node_id", "lon", "lat"
    )
    return tile_vector_stats(imgs, places)


# ---------------------------------------------------------------------------
# Z-order spatial layout (scan-pruning data layout; functions/zorder.py)
# ---------------------------------------------------------------------------

def _zorder_oracle() -> str:
    from osm2shp_spark.functions.zorder import zkey_sql

    return f"""
WITH nodes AS ({NODES_SQL}),
staged AS (SELECT id, lon, lat FROM nodes WHERE id > 0),
keyed AS (
    SELECT id AS node_id, lon, lat, {zkey_sql('lon', 'lat')} AS zkey
    FROM staged
)
SELECT node_id, zkey, CAST(zkey >> 16 AS BIGINT) AS zcell8 FROM keyed
"""


@register("spatial_zorder", _zorder_oracle)
def q_spatial_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton key per staged node — the value core of the Z-order data
    layout (`functions/zorder.py`): quantize lon/lat to a 16-bit grid,
    magic-number bit-interleave entirely in Catalyst (shift/and/or,
    whole-stage codegen), checked bit-for-bit against the DuckDB
    arithmetic twin. `zcell8` is the level-8 quadtree prefix a bbox
    reader prunes on. The writer/reader pair (repartitionByRange +
    sorted parquet + PushedFilters bbox read) is pytest-gated in
    tests/test_zorder.py."""
    from osm2shp_spark.functions.zorder import zkey_col

    nodes = synthetic_nodes(spark, sf_dir)
    return (
        nodes.filter(F.col("id") > 0)
        .select(
            F.col("id").alias("node_id"),
            zkey_col(F.col("lon"), F.col("lat")).alias("zkey"),
        )
        .withColumn("zcell8", F.shiftrightunsigned("zkey", 16).cast("long"))
    )


def _pbf_roundtrip_oracle() -> str:
    return f"""
WITH nodes AS ({NODES_SQL}),
ways AS ({ways_sql('duckdb')}),
refstats AS (
    SELECT id, CAST(count(*) AS BIGINT) AS n_refs,
           CAST(sum(CAST(pos AS BIGINT) * ref) AS BIGINT) AS refs_qwsum
    FROM (
        SELECT id, unnest(refs) AS ref,
               generate_subscripts(refs, 1) AS pos
        FROM ways
    ) t
    GROUP BY id
)
SELECT 'node' AS kind, id,
       CAST(floor(lon * 1e7 + 0.5e0) AS BIGINT) AS qlon7,
       CAST(floor(lat * 1e7 + 0.5e0) AS BIGINT) AS qlat7,
       tag_place AS tag_a, tag_name AS tag_b,
       CAST(NULL AS VARCHAR) AS tag_c, CAST(NULL AS VARCHAR) AS tag_d,
       CAST(NULL AS BIGINT) AS n_refs, CAST(NULL AS BIGINT) AS refs_qwsum
FROM nodes
UNION ALL
SELECT 'way' AS kind, w.id,
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       w.tag_highway, w.tag_waterway, w.tag_natural, w.tag_railway,
       r.n_refs, r.refs_qwsum
FROM ways w JOIN refstats r ON w.id = r.id
"""


@register("pbf_roundtrip", _pbf_roundtrip_oracle)
def q_pbf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 (PBF source) through the gate: render the synthetic tables
    into a REAL OSM PBF byte stream (DenseNodes deltas, string tables,
    zlib blobs — sources/osmpbf.py, public wire spec), then ingest it
    back through the blob-parallel distributed reader and project to
    gate scalars: wire-quantized coords (floor(x*1e7+0.5), the
    dialect-shared arithmetic the encoder uses), tag lookups, and
    order-sensitive ref checksums. The oracle recomputes everything
    from the source tables in DuckDB — a decoder bug (delta/zigzag/
    string-table/blob-split) changes ids, coords, tags or ref order
    and breaks the hash."""
    import os as _os
    import tempfile as _tf

    from osm2shp_spark.sources.osmpbf import encode_osm_pbf, read_pbf_distributed

    nodes = synthetic_nodes(spark, sf_dir).collect()
    ways = synthetic_ways(spark, sf_dir).collect()
    nrows = [
        (
            r.id, r.lon, r.lat,
            {
                k: v
                for k, v in (("place", r.tag_place), ("name", r.tag_name))
                if v is not None
            },
        )
        for r in nodes
    ]
    wrows = [
        (
            r.id, list(r.refs),
            {
                k: v
                for k, v in (
                    ("highway", r.tag_highway), ("railway", r.tag_railway),
                    ("waterway", r.tag_waterway), ("natural", r.tag_natural),
                    ("landuse", r.tag_landuse), ("area", r.tag_area),
                )
                if v is not None
            },
        )
        for r in ways
    ]
    path = _os.path.join(_tf.mkdtemp(prefix="pbf_gate_"), "fixture.osm.pbf")
    with open(path, "wb") as f:
        # small blobs so the blob-split table actually fans out at
        # gate scale (planet files carry ~8k entities/blob)
        f.write(encode_osm_pbf(nrows, wrows, entities_per_blob=500))
    nd, wd = read_pbf_distributed(spark, path)
    null_s = F.lit(None).cast("string")
    null_l = F.lit(None).cast("long")
    n_out = nd.select(
        F.lit("node").alias("kind"),
        "id",
        F.expr("CAST(floor(lon * 1e7 + 0.5e0) AS BIGINT)").alias("qlon7"),
        F.expr("CAST(floor(lat * 1e7 + 0.5e0) AS BIGINT)").alias("qlat7"),
        F.col("tags")["place"].alias("tag_a"),
        F.col("tags")["name"].alias("tag_b"),
        null_s.alias("tag_c"),
        null_s.alias("tag_d"),
        null_l.alias("n_refs"),
        null_l.alias("refs_qwsum"),
    )
    w_out = wd.select(
        F.lit("way").alias("kind"),
        "id",
        null_l.alias("qlon7"),
        null_l.alias("qlat7"),
        F.col("tags")["highway"].alias("tag_a"),
        F.col("tags")["waterway"].alias("tag_b"),
        F.col("tags")["natural"].alias("tag_c"),
        F.col("tags")["railway"].alias("tag_d"),
        F.size("refs").cast("long").alias("n_refs"),
        F.expr(
            "aggregate(zip_with(refs, sequence(1, size(refs)), "
            "(r, i) -> CAST(i AS BIGINT) * r), CAST(0 AS BIGINT), "
            "(a, v) -> a + v)"
        ).alias("refs_qwsum"),
    )
    return n_out.unionByName(w_out)


def _shapefile_export_oracle() -> str:
    from osm2shp_spark.sources.shapefile import PRJ_WKT

    wkt_lit = PRJ_WKT.replace("'", "''")
    return _geo_ctes() + f"""
SELECT layer,
       CASE WHEN kind = 'polygon' THEN 5 ELSE 3 END AS shp_type,
       count(*) AS n_features,
       CAST(sum(n_pts) AS BIGINT) AS n_vertices,
       sha256('{wkt_lit}') AS prj_sha
FROM assembled
GROUP BY layer, kind
"""


@register("shapefile_export", _shapefile_export_oracle)
def q_shapefile_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15/O16 through the gate: assemble ways, WRITE the binary
    one-shapefile-per-layer sink (.shp/.shx/.dbf/.prj —
    sources/shapefile.py, ESRI/dBASE specs; reference
    osm/shapefile.cc:41-49,65-79), then parse the written FILES back
    and summarize per layer: record count, total vertices, shape type
    from the record headers, and sha256 of the .prj bytes. The oracle
    recomputes counts/types from the assembly CTE and hashes the
    reference's verbatim WKT inside DuckDB — a writer that drops a
    record, miscounts vertices, writes the wrong shape type, or
    corrupts the CRS sidecar breaks the hash."""
    import glob as _glob
    import hashlib as _hl
    import os as _os
    import tempfile as _tf

    from osm2shp_spark.sources.shapefile import export_shapefiles, read_shapefile

    out = _tf.mkdtemp(prefix="shp_gate_")
    ways = assemble_ways(
        synthetic_nodes(spark, sf_dir), synthetic_ways(spark, sf_dir)
    )
    export_shapefiles(None, ways, out)
    rows = []
    for shp in sorted(_glob.glob(_os.path.join(out, "*.shp"))):
        base = shp[:-4]
        recs = read_shapefile(base)
        with open(base + ".prj", "rb") as f:
            prj_sha = _hl.sha256(f.read()).hexdigest()
        rows.append(
            (
                _os.path.basename(base),
                recs[0]["type"],
                len(recs),
                sum(len(r["xs"]) for r in recs),
                prj_sha,
            )
        )
    return spark.createDataFrame(
        rows,
        "layer STRING, shp_type INT, n_features BIGINT, "
        "n_vertices BIGINT, prj_sha STRING",
    )


#: gate bbox for the z-order reader (interior of the fixture extent;
#: bounds are off the 1/997 coordinate grids, so no boundary ties)
_ZREAD_BOX = (8.2, 47.3, 8.45, 47.62)


def _zorder_read_oracle() -> str:
    from osm2shp_spark.functions.zorder import zkey_sql

    x0, y0, x1, y1 = _ZREAD_BOX
    return f"""
WITH nodes AS ({NODES_SQL}),
staged AS (SELECT id, lon, lat FROM nodes WHERE id > 0),
keyed AS (
    SELECT id AS node_id, lon, lat, {zkey_sql('lon', 'lat')} AS zkey
    FROM staged
)
SELECT node_id, lon, lat, zkey FROM keyed
WHERE lon >= {x0!r}e0 AND lon <= {x1!r}e0
  AND lat >= {y0!r}e0 AND lat <= {y1!r}e0
"""


@register("zorder_bbox_read", _zorder_read_oracle)
def q_zorder_bbox_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Z-order layout: WRITE the staged nodes
    repartitionByRange+sorted by Morton key, then READ a bbox back
    through the pruned-scan path (`read_bbox`: quadtree zkey range
    predicates pushed into the parquet scan + exact lon/lat refine).
    The oracle is pure interval algebra over the same derived table —
    a reader that prunes too much (a zkey_ranges covering that is not
    a superset) silently drops rows and breaks the value hash; that
    the range predicates actually PRUNE (files skipped, PushedFilters)
    is plan-asserted in tests/test_zorder.py and
    tests/test_plans.py."""
    import tempfile as _tf

    from osm2shp_spark.functions.zorder import read_bbox, zorder_write

    nodes = synthetic_nodes(spark, sf_dir)
    staged = nodes.filter(F.col("id") > 0).select(
        F.col("id").alias("node_id"), "lon", "lat"
    )
    path = _tf.mkdtemp(prefix="zorder_gate_") + "/pts"
    zorder_write(staged, path, target_files=8)
    return read_bbox(spark, path, _ZREAD_BOX).select(
        "node_id", "lon", "lat", "zkey"
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: dedup / text / similarity
# ---------------------------------------------------------------------------

from osm2shp_spark.operators.dedup import (  # noqa: E402
    exact_dup_groups,
    jaccard_pairs_blocked,
    minhash_near_dups,
    minhash_near_dups_oracle,
    simhash_near_dups,
    simhash_near_dups_oracle,
)
from osm2shp_spark.operators.similarity import (  # noqa: E402
    cosine_topk,
    cosine_topk_lsh,
    cosine_topk_lsh_oracle,
    duck_cosine,
    embedding_near_dups,
    embedding_near_dups_oracle,
)
from osm2shp_spark.operators.text import (  # noqa: E402
    doc_fingerprint,
    doc_fingerprint_oracle,
    lang_id,
    lang_id_oracle,
    quality_score,
    quality_score_oracle,
    token_stats,
    token_stats_oracle,
)
from osm2shp_spark.sources.tables import register_driver_tables  # noqa: E402

#: documents with injected exact duplicates (case-changed copies of
#: every 10th doc) — portable SQL, same text both engines
DOCS_AUG_SQL = """
SELECT doc_id, text, lang, source FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, upper(text) AS text, lang, source
FROM documents WHERE doc_id % 10 = 0
"""

DOCS_PLAIN_SQL = "SELECT doc_id, text, lang, source FROM documents"


def _docs_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_driver_tables(spark, sf_dir)
    return spark.sql(DOCS_AUG_SQL)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_driver_tables(spark, sf_dir)
    return spark.sql(DOCS_PLAIN_SQL)


_EXACT_DEDUP_ORACLE = f"""
WITH docs AS ({DOCS_AUG_SQL})
SELECT md5(lower(text)) AS text_key, count(*) AS n_dups, min(doc_id) AS keeper
FROM docs GROUP BY 1
"""


@register("exact_dedup", _EXACT_DEDUP_ORACLE)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dup_groups(_docs_aug(spark, sf_dir))


_JACCARD_ORACLE = f"""
WITH docs AS ({DOCS_PLAIN_SQL}),
t AS (
    SELECT doc_id, source,
           list_distinct(string_split(lower(text), ' ')) AS toks
    FROM docs
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
         AS jaccard
FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
      >= 0.9e0
"""


@register("jaccard_pairs", _JACCARD_ORACLE)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs_blocked(_docs(spark, sf_dir), threshold=0.9)


@register("token_stats", token_stats_oracle(DOCS_PLAIN_SQL))
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(_docs(spark, sf_dir))


@register("lang_id", lang_id_oracle(DOCS_PLAIN_SQL))
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_docs(spark, sf_dir))


def _stratified_sample_oracle() -> str:
    from osm2shp_spark.operators.sampling import stratified_sample_oracle

    return f"""
SELECT doc_id, lang, source, bucket, split
FROM ({stratified_sample_oracle(DOCS_PLAIN_SQL)}) s
"""


@register("stratified_sample", _stratified_sample_oracle)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling + 8/1/1 split
    (`operators/sampling.py`): membership is a pure function of
    doc_id, so the plan is a zero-shuffle map-filter that reruns
    idempotently at any scale — checked row-for-row against the same
    arithmetic in DuckDB."""
    from osm2shp_spark.operators.sampling import stratified_sample

    return stratified_sample(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "source", "bucket", "split"
    )


@register("quality_score", quality_score_oracle(DOCS_PLAIN_SQL))
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_docs(spark, sf_dir))


@register("doc_fingerprint", doc_fingerprint_oracle(DOCS_PLAIN_SQL))
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprint(_docs(spark, sf_dir))


def _curation_oracle() -> str:
    from osm2shp_spark.operators.text import quality_subquery_duck

    return f"""
WITH docs AS ({DOCS_AUG_SQL}),
keepers AS (
    SELECT min(doc_id) AS doc_id FROM docs GROUP BY md5(lower(text))
),
kept AS (
    SELECT d.doc_id, d.text, d.lang, d.source
    FROM docs d JOIN keepers USING (doc_id)
),
q AS (SELECT doc_id, quality FROM {quality_subquery_duck('kept')} _q)
SELECT k.source, k.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(string_split(k.text, ' '))) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN q.quality >= 0.8e0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_high_quality
FROM kept k JOIN q USING (doc_id)
GROUP BY k.source, k.lang
"""


@register("corpus_curation", _curation_oracle)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline — the composition a training-data
    job actually runs: exact dedup (keep smallest id per normalized
    text) → quality scoring → per-(source, lang) corpus accounting
    (docs, whitespace tokens, high-quality count). Three shuffles
    total: dedup groupBy, the keeper semi-join, the final rollup —
    all map-side partial-aggregated; quality is a pure codegen
    expression, so the whole pipeline is JVM-only."""
    from osm2shp_spark.operators.dedup import exact_dup_groups
    from osm2shp_spark.operators.text import quality_score

    docs = _docs_aug(spark, sf_dir)
    keepers = exact_dup_groups(docs).select(F.col("keeper").alias("doc_id"))
    kept = docs.join(keepers, "doc_id", "left_semi")
    q = quality_score(kept).select("doc_id", "quality")
    toks = kept.select(
        "doc_id",
        "source",
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("_ntok"),
    )
    return (
        toks.join(q, "doc_id")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_ntok").alias("total_tokens"),
            F.sum(
                F.when(F.col("quality") >= F.lit(0.8), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_high_quality"),
        )
    )


from osm2shp_spark.operators.text import winnow_fingerprints_oracle  # noqa: E402


@register("doc_winnow_fingerprint", winnow_fingerprints_oracle(DOCS_PLAIN_SQL))
def q_doc_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing local-minima fingerprints (MOSS scheme) — the portable
    md5-k-gram variant with a full DuckDB oracle; its fingerprint
    properties are pytest-gated too (tests/test_winnow.py)."""
    from osm2shp_spark.operators.text import winnow_fingerprints_portable

    return winnow_fingerprints_portable(_docs(spark, sf_dir))


_ANN_ORACLE = f"""
WITH p AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
d AS (
    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
           {duck_cosine('p.embedding', 'c.embedding')} AS cosine
    FROM p, embeddings c WHERE p.vec_id <> c.vec_id
),
r AS (
    SELECT probe_id, neighbor_id, cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id
           ) AS INTEGER) AS "rank"
    FROM d
)
SELECT probe_id, "rank", neighbor_id, cosine FROM r WHERE "rank" <= 5
"""


@register("ann_cosine_topk", _ANN_ORACLE)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 — similarity values bit-identical
    to the DuckDB fold (see operators.similarity docstring)."""
    register_driver_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    probes = emb.filter("vec_id % 50 = 0")
    return cosine_topk(emb, probes, k=5)


@register("minhash_near_dups", minhash_near_dups_oracle(DOCS_AUG_SQL, 0.5))
def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup pairs — portable md5 signatures, so
    candidate generation AND the estimate are value-checked by the
    DuckDB oracle (not rows-only)."""
    return minhash_near_dups(_docs_aug(spark, sf_dir), threshold=0.5)


@register("simhash_near_dups", simhash_near_dups_oracle(DOCS_AUG_SQL, 3))
def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded 60-bit SimHash pairs (hamming ≤ 3, pigeonhole-exact
    recall) — portable fingerprints, full DuckDB oracle."""
    return simhash_near_dups(_docs_aug(spark, sf_dir), max_hamming=3)


#: embeddings corpus with injected perturbed near-dups (every 25th
#: vector), identical float arithmetic in both dialects
def _emb_aug_sql(dialect: str) -> str:
    tf = "transform" if dialect == "spark" else "list_transform"
    return f"""
SELECT vec_id, embedding FROM embeddings
UNION ALL
SELECT vec_id + 1000000 AS vec_id,
       {tf}(embedding, x -> CAST(x * 0.95e0 + 0.02e0 AS FLOAT)) AS embedding
FROM embeddings WHERE vec_id % 25 = 0
"""


@register(
    "embedding_near_dups",
    embedding_near_dups_oracle(_emb_aug_sql("duckdb"), threshold=0.9, dim=64),
)
def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection on a corpus with injected perturbed copies
    (every 25th vector duplicated with small noise) — banded hyperplane
    LSH + exact cosine verify, now fully value-checked: the hyperplanes
    are seeded literals evaluated with the identical IEEE fold on both
    engines, so candidate generation itself is oracle-verified."""
    register_driver_tables(spark, sf_dir)
    aug = spark.sql(_emb_aug_sql("spark"))
    return embedding_near_dups(aug, threshold=0.9)


_EMB_CORPUS_SQL = "SELECT vec_id, embedding FROM embeddings"
_EMB_PROBES_SQL = _EMB_CORPUS_SQL + " WHERE vec_id % 50 = 0"


def q_ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH approximate top-5 with exact re-rank — the full
    pipeline (bucket assignment, candidate join, re-rank, tie-break)
    replicated by the DuckDB oracle. Gated via ``ann_cosine_approx``."""
    register_driver_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    probes = emb.filter("vec_id % 50 = 0")
    return cosine_topk_lsh(emb, probes, k=5, dim=64)


_IVF_CORPUS_SQL = "SELECT vec_id, embedding FROM embeddings"
_IVF_PROBES_SQL = "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0"


def _ivf_oracle() -> str:
    from osm2shp_spark.operators.similarity import cosine_topk_ivf_oracle

    return cosine_topk_ivf_oracle(
        _IVF_CORPUS_SQL, _IVF_PROBES_SQL, k=5, n_cells=16, nprobe=4
    )


def q_ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k, deterministic-quantizer variant — the full pipeline
    (cell assignment, nprobe probing, exact re-rank) is pure Catalyst
    and value-checked against the DuckDB twin. Gated via
    ``ann_cosine_approx``."""
    from osm2shp_spark.operators.similarity import cosine_topk_ivf_flat

    register_driver_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    probes = emb.filter("vec_id % 50 = 0")
    return cosine_topk_ivf_flat(emb, probes, k=5, n_cells=16, nprobe=4)


def _ann_approx_oracle() -> str:
    lsh = cosine_topk_lsh_oracle(_EMB_CORPUS_SQL, _EMB_PROBES_SQL, k=5, dim=64)
    return f"""
SELECT 'lsh' AS method, t.* FROM ({lsh}) t
UNION ALL
SELECT 'ivf' AS method, t.* FROM ({_ivf_oracle()}) t
"""


@register("ann_cosine_approx", _ann_approx_oracle)
def q_ann_cosine_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both approximate-NN strategies in ONE gate row (driver 50-entry
    window; see way_assembly_strategies): banded sign-LSH and
    deterministic-quantizer IVF, each value-checked against its own
    full-pipeline DuckDB twin."""
    lsh = q_ann_cosine_lsh(spark, sf_dir).select(
        F.lit("lsh").alias("method"), "*"
    )
    ivf = q_ann_cosine_ivf(spark, sf_dir).select(
        F.lit("ivf").alias("method"), "*"
    )
    return lsh.unionByName(ivf)


# ---------------------------------------------------------------------------
# Image pipeline (axis B). Binary payloads aren't SQL-expressible, so
# these gate queries carry golden-fixture oracles (osm2shp_spark.golden:
# the same row kernels materialize the expected rows driver-side as
# VALUES literals — verifying the distributed execution bit-for-bit)
# or mixed-mode oracles (inputs injected, join recomputed in real SQL).
# ---------------------------------------------------------------------------

from osm2shp_spark import golden  # noqa: E402
from osm2shp_spark.operators.images import (  # noqa: E402
    decode_stats,
    extract_features,
    phash_near_dups,
)
from osm2shp_spark.sources.fixtures import image_table, images_count_for_sf  # noqa: E402


@register("image_decode_stats", golden.decode_stats_oracle)
def q_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-verify pass over the deterministic image fixture table:
    every row must decode, match metadata, and reproduce its phash."""
    return decode_stats(image_table(spark, images_count_for_sf(sf_dir)))


@register("image_stream_decode", golden.decode_stats_oracle)
def q_image_stream_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same decode-verify operator driven as a Structured Stream
    (parquet landing zone → stateless mapInPandas → availableNow):
    batch/stream parity means the stream result must satisfy the
    identical golden oracle as `image_decode_stats`."""
    from osm2shp_spark.streaming.images import stream_decode_stats

    return stream_decode_stats(
        spark, images_count_for_sf(sf_dir), name="q_img_stream_out"
    )


@register("image_features", golden.image_features_oracle)
def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual features; the 4x4 thumbnail rides flattened to 16 scalar
    columns (the driver canonicalizer cannot hash ARRAY cells)."""
    feats = extract_features(image_table(spark, images_count_for_sf(sf_dir)))
    return feats.select(
        "image_id",
        "mean_r",
        "mean_g",
        "mean_b",
        "contrast",
        "edge_energy",
        *[
            F.element_at("thumb", i + 1).alias(f"thumb_{i:02d}")
            for i in range(16)
        ],
    )


@register("image_phash_dedup", golden.phash_dedup_oracle)
def q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded phash near-dup join, value-checked against a DuckDB
    brute-force all-pairs hamming recomputation (the banding recall
    guarantee makes banded == brute force at <= max_hamming)."""
    return phash_near_dups(image_table(spark, images_count_for_sf(sf_dir)), max_hamming=6)


@register("multimodal_pairs", golden.multimodal_pairs_oracle)
def q_multimodal_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(image, caption) training-pair curation over the multimodal
    fixture table: language-ID + BPE-ish token count on the caption,
    per-phash canonical election for visual dedup — one window shuffle
    plus pure map expressions, no codecs touched (bytes never leave the
    scan). Oracle recomputes lang/tokens/canonical independently in
    DuckDB over injected caption+phash literals."""
    from pyspark.sql import Window

    from osm2shp_spark.operators.text import BPE_PATTERN, lang_pred_cols

    imgs = image_table(spark, images_count_for_sf(sf_dir)).select(
        "image_id", F.col("caption").alias("text"), "phash"
    )
    pred, _best = lang_pred_cols("text")
    bpe = F.size(F.expr(f"regexp_extract_all(text, '{BPE_PATTERN}', 0)"))
    w = Window.partitionBy("phash")
    return imgs.select(
        "image_id",
        pred.alias("pred_lang"),
        bpe.alias("n_bpe_tokens"),
        (F.col("image_id") == F.min("image_id").over(w)).alias("is_canonical"),
    )


@register("image_resize", golden.image_resize_oracle)
def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed resize; the gate projects md5(bytes) so the payload
    is value-checked without shipping binaries through the
    canonicalizer (pixel math itself is pytest-gated)."""
    from osm2shp_spark.operators.multimodal import resize_images

    resized = resize_images(
        image_table(spark, min(images_count_for_sf(sf_dir), 200)), 16, 16
    )
    return resized.select(
        "image_id", "out_w", "out_h", "fmt", F.md5("bytes").alias("bytes_md5")
    )


@register("audio_features", golden.audio_features_oracle)
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV/PCM16 decode (stdlib, real) → per-clip features over a
    deterministic synthesized audio table."""
    from osm2shp_spark.operators.multimodal import audio_features
    from osm2shp_spark.sources.fixtures import generate_audio_pdf

    n = min(images_count_for_sf(sf_dir), 200)
    df = spark.createDataFrame(
        generate_audio_pdf(n), "audio_id STRING, bytes BINARY"
    )
    return audio_features(df)


@register("video_frame_sample", golden.video_frame_sample_oracle)
def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level fan-out over the deterministic rawgrid fixture codec
    (real codecs gated behind NotImplementedError — no video lib
    in-container; the Spark plumbing is fully real). Fixture-constant
    count: the fan-out is exercised at a fixed size at every sf, which
    keeps both this golden oracle and the closed-form fan-out twin
    valid at any scale factor."""
    from osm2shp_spark.operators.multimodal import sample_video_frames
    from osm2shp_spark.sources.fixtures import generate_videos_pdf

    df = spark.createDataFrame(
        generate_videos_pdf(20), "video_id STRING, bytes BINARY, fmt STRING"
    )
    return sample_video_frames(df, every_nth=2)


#: the frame fan-out arithmetic (sf0.01 fixture: 20 videos, video i has
#: 4 + i%4 frames, every 2nd sampled) is portable SQL — this twin
#: value-checks the explode plumbing; pixel/phash content stays
#: pytest-gated (tests/test_multimodal.py)
_VIDEO_FANOUT_ORACLE = """
WITH v AS (SELECT i FROM generate_series(0, 19) AS g(i)),
f AS (
    SELECT i,
           unnest(list_transform(
               generate_series(0, CAST(floor((4 + i % 4 - 1) / 2) AS INTEGER)),
               j -> CAST(j * 2 AS INTEGER))) AS frame_idx
    FROM v
)
SELECT 'v-' || lpad(CAST(i AS VARCHAR), 5, '0') AS video_id, frame_idx FROM f
"""


def q_video_frame_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame fan-out rows (video_id, frame_idx) of the video sampler —
    the Spark-side explode plumbing value-checked against closed-form
    SQL (frame content is fixture-codec territory). Not separately
    registered: it is a pure projection of the gated
    ``video_frame_sample`` row (driver 50-entry window) — the
    closed-form SQL twin is asserted in tests/test_multimodal.py."""
    return q_video_frame_sample(spark, sf_dir).select("video_id", "frame_idx")


@register("point_cells", lambda: golden.point_cells_oracle(IMAGES_SQL))
def q_point_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1/N2 cell-index family over georeferenced points, value-checked
    (golden mode — see golden.point_cells_oracle): S2 cell id + token
    at level 12 and hex cells res 7-12, one Arrow struct pass."""
    from osm2shp_spark.functions.udfs import with_point_cells

    pts = synthetic_images(spark, sf_dir).filter("img_key % 40 = 0").select(
        "img_key", "lon", "lat"
    )
    return with_point_cells(pts).select(
        "img_key", "s2_cell", "s2_token",
        *[f"hex_r{r}" for r in (7, 8, 9, 10, 11, 12)],
    )


@register("adaptive_cells", lambda: golden.adaptive_cells_oracle(IMAGES_SQL))
def q_adaptive_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N6 adaptive cell splitting through the gate: points in hot hex
    cells (count > threshold) re-index at the next-finer resolution,
    iteratively (the fixture's dense cluster drives res 7 → 8 → 9, so
    BOTH re-index iterations execute — asserted in tests/test_skew.py).
    Only the hex ids are golden-injected; the hot-set decisions are
    recomputed in independent SQL from the counts
    (golden.adaptive_cells_oracle)."""
    from osm2shp_spark.operators.skew import adaptive_cells

    pts = synthetic_images(spark, sf_dir).filter("img_key % 20 = 0").select(
        "img_key", "lon", "lat"
    )
    out = adaptive_cells(
        pts, base_res=7, hot_threshold=20, max_extra_levels=2
    )
    return out.select("img_key", "cell_adaptive", "cell_res")


@register("image_pip_classify", lambda: golden.image_pip_oracle(RECTS_SQL))
def q_image_pip_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star loop: georeferenced binary images classified by
    layer via the general PIP join against the rect polygon features.
    Value-checked: the oracle injects the fixture coordinates and
    recomputes containment with independent interval algebra."""
    imgs = image_table(spark, images_count_for_sf(sf_dir)).select(
        "image_id", "caption", "lon", "lat"
    )
    rects = synthetic_rects(spark, sf_dir).select(
        "rect_id",
        "layer",
        F.array("lon_min", "lon_max", "lon_max", "lon_min", "lon_min").alias("lons"),
        F.array("lat_min", "lat_min", "lat_max", "lat_max", "lat_min").alias("lats"),
    )
    return pip_join(imgs, rects, ("image_id", "caption"), ("rect_id", "layer"))


# ---------------------------------------------------------------------------
# Event analytics: sessionization + windowed aggregation (+ streaming)
# ---------------------------------------------------------------------------

_SESSION_GAP_S = 1800

_SESSIONIZE_ORACLE = f"""
WITH e AS (
    SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ets FROM events
),
flagged AS (
    SELECT user_id, event_id, ets,
           CASE WHEN ets - lag(ets) OVER w > {_SESSION_GAP_S}
                OR lag(ets) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ets, event_id)
),
sessions AS (
    SELECT user_id, event_id, ets,
           sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ets, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_id
    FROM flagged
)
SELECT user_id, CAST(session_id AS INTEGER) AS session_id,
       count(*) AS n_events,
       min(ets) AS session_start, max(ets) AS session_end
FROM sessions GROUP BY user_id, session_id
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + running-sum
    windows — the batch form of the streaming session_window operator.
    Gated via ``events_sessionize`` (batch+stream row)."""
    from pyspark.sql import Window

    register_driver_tables(spark, sf_dir)
    e = spark.table("events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("ets")
    )
    w = Window.partitionBy("user_id").orderBy("ets", "event_id")
    flagged = e.withColumn(
        "new_session",
        F.when(
            F.col("ets") - F.lag("ets").over(w) > _SESSION_GAP_S, F.lit(1)
        ).when(F.lag("ets").over(w).isNull(), F.lit(1)).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("int"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ets").alias("session_start"),
        F.max("ets").alias("session_end"),
    )


_WINDOW_AGG_ORACLE = """
SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS window_start,
       event_type,
       count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) * 1e6) / 1e6
           AS total_value
FROM events GROUP BY 1, 2
"""


def q_events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h windows: the streaming operator run as a batch
    query (Spark drops the watermark from a batch plan). Sums in
    DECIMAL so cross-engine float addition order can't flip low bits.
    Gated via ``events_window_agg`` (batch+stream row)."""
    from osm2shp_spark.streaming.windows import windowed_agg_stream

    register_driver_tables(spark, sf_dir)
    return windowed_agg_stream(spark.table("events"))


#: closed sessions only. Two distinct close paths, replicated exactly:
#: a session followed by a later event for the same user (beyond the
#: gap) closes IN-BATCH and is emitted unconditionally; only each
#: user's LAST session depends on the event-time timeout, which fires
#: once the FINAL watermark (max event time in ms minus the 10 s
#: delay) passes session_end + gap — a last session still open when
#: the stream drains stays in state and is NOT emitted.
_STREAM_SESSIONIZE_ORACLE = f"""
WITH e AS (
    SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ets
    FROM events
),
mx AS (SELECT max(epoch_ms(ts)) AS max_ems FROM events),
flagged AS (
    SELECT user_id, event_id, ets,
           CASE WHEN ets - lag(ets) OVER w > {_SESSION_GAP_S}
                OR lag(ets) OVER w IS NULL THEN 1 ELSE 0 END AS ns
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ets, event_id)
),
sessions AS (
    SELECT user_id, ets,
           sum(ns) OVER (
               PARTITION BY user_id ORDER BY ets, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS sid
    FROM flagged
),
agg AS (
    SELECT user_id, count(*) AS n_events,
           min(ets) AS session_start, max(ets) AS session_end
    FROM sessions GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events FROM (
    SELECT *, max(session_end) OVER (PARTITION BY user_id) AS last_end
    FROM agg
) _c
WHERE session_end < last_end
   OR (session_end + {_SESSION_GAP_S}) * 1000
      < (SELECT max_ems - 10000 FROM mx)
"""


def q_events_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState,
    event-time timeouts): gap sessionization. The oracle replicates the
    closed-session semantics exactly (watermark cut included); the
    registered projection drops total_value — a float sum accumulated
    in arrival order inside the state handler has no portable SQL twin
    — and the full row including it is batch-parity pytest-gated
    (tests/test_stateful_streaming.py). Gated via ``events_sessionize``
    (batch+stream row)."""
    import os as _os

    from osm2shp_spark.streaming.stateful import run_sessionize_over_parquet

    return run_sessionize_over_parquet(
        spark, _os.path.join(sf_dir, "events.parquet"), name="q_sessions_out"
    ).select("user_id", "session_start", "session_end", "n_events")


_SESSIONIZE_MODES_ORACLE = f"""
SELECT 'batch' AS mode, user_id, session_start, session_end, n_events
FROM ({_SESSIONIZE_ORACLE}) t
UNION ALL
SELECT 'stream' AS mode, user_id, session_start, session_end, n_events
FROM ({_STREAM_SESSIONIZE_ORACLE}) t
"""


@register("events_sessionize", _SESSIONIZE_MODES_ORACLE)
def q_events_sessionize_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch (lag + running-sum windows) AND custom stateful streaming
    (applyInPandasWithState, event-time timeouts) sessionization in ONE
    gate row. The two sides carry DIFFERENT oracles — the batch twin is
    the plain closed-form SQL, the stream twin replicates the
    watermark-cut closed-session semantics — so both implementations
    stay independently value-checked. (The batch-only session_id
    ordinal is covered by tests/test_streaming.py.)"""
    batch = q_events_sessionize(spark, sf_dir).select(
        F.lit("batch").alias("mode"),
        "user_id",
        "session_start",
        "session_end",
        "n_events",
    )
    stream = q_events_stream_sessionize(spark, sf_dir).select(
        F.lit("stream").alias("mode"),
        "user_id",
        "session_start",
        "session_end",
        "n_events",
    )
    return batch.unionByName(stream)


_STREAM_DEDUP_ORACLE = """
SELECT event_id, user_id, value FROM events
"""


@register("events_stream_dedup", _STREAM_DEDUP_ORACLE)
def q_events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark, bounded
    state) over the event stream with injected at-least-once
    re-deliveries — result equals the batch DISTINCT, which is the
    oracle (event_id is unique in the base table, so DISTINCT reduces
    to the table itself)."""
    import os as _os

    from osm2shp_spark.streaming.windows import stream_dedup_over_parquet

    return stream_dedup_over_parquet(
        spark, _os.path.join(sf_dir, "events.parquet"), name="q_dedup_out"
    )


def q_events_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL Structured Streaming path (readStream + watermark +
    window + availableNow backfill) over the events parquet — value-
    checked against the same DuckDB oracle as the batch twin (sums
    accumulate in DECIMAL inside the streaming agg, so the result is
    bitwise engine- and batching-independent). Gated via
    ``events_window_agg`` (batch+stream row)."""
    import os as _os

    from osm2shp_spark.streaming.windows import run_stream_over_parquet

    return run_stream_over_parquet(
        spark, _os.path.join(sf_dir, "events.parquet"), name="q_stream_out"
    )


_WINDOW_AGG_MODES_ORACLE = f"""
SELECT 'batch' AS mode, t.* FROM ({_WINDOW_AGG_ORACLE}) t
UNION ALL
SELECT 'stream' AS mode, t.* FROM ({_WINDOW_AGG_ORACLE}) t
"""


@register("events_window_agg", _WINDOW_AGG_MODES_ORACLE)
def q_events_window_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch AND Structured-Streaming tumbling-window aggregation in
    ONE gate row (driver 50-entry window; see way_assembly_strategies):
    both executions must independently reproduce the same DuckDB
    oracle — streaming parity is therefore value-checked, not just
    asserted batch-vs-stream."""
    batch = q_events_window_agg(spark, sf_dir).select(
        F.lit("batch").alias("mode"), "*"
    )
    stream = q_events_stream_window(spark, sf_dir).select(
        F.lit("stream").alias("mode"), "*"
    )
    return batch.unionByName(stream)


# ---------------------------------------------------------------------------
# Relational coverage (window / top-k / rollup over driver tables)
# ---------------------------------------------------------------------------

# All money/quantity sums accumulate in DECIMAL (float partial-sum
# ORDER depends on partitioning, which the driver's session may choose
# differently), then quantize the DOUBLE output to exact micro-units:
# the decimal->double CAST itself differs by 1 ulp between engines, but
# the sums are exact 1e-6 multiples, so round(x*1e6)/1e6 lands both
# engines on the identical double.
def _q6(expr: str) -> str:
    return f"round(CAST({expr} AS DOUBLE) * 1e6) / 1e6"


_PRICING_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {_q6("sum(CAST(l_quantity AS DECIMAL(18,6)))")} AS sum_qty,
       {_q6("sum(CAST(l_extendedprice AS DECIMAL(18,6)))")} AS sum_base_price,
       {_q6("sum(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1e0 - l_discount AS DECIMAL(18,6)))")} AS sum_disc_price,
       {_q6("sum(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1e0 - l_discount AS DECIMAL(18,6)) * CAST(1e0 + l_tax AS DECIMAL(18,6)))")} AS sum_charge,
       {_q6("sum(CAST(l_quantity AS DECIMAL(18,6)))")} / count(*) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("pricing_summary", _PRICING_ORACLE)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_driver_tables(spark, sf_dir)
    li = spark.table("lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    qty = F.col("l_quantity").cast("decimal(18,6)")
    price = F.col("l_extendedprice").cast("decimal(18,6)")
    disc = (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,6)")
    tax = (F.lit(1.0) + F.col("l_tax")).cast("decimal(18,6)")

    def q6(c):
        return F.round(c.cast("double") * F.lit(1e6)) / F.lit(1e6)

    return li.groupBy("l_returnflag", "l_linestatus").agg(
        q6(F.sum(qty)).alias("sum_qty"),
        q6(F.sum(price)).alias("sum_base_price"),
        q6(F.sum(price * disc)).alias("sum_disc_price"),
        q6(F.sum(price * disc * tax)).alias("sum_charge"),
        (q6(F.sum(qty)) / F.count(F.lit(1))).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


_TOPK_ORACLE = """
WITH r AS (
    SELECT c_mktsegment, c_custkey, c_acctbal,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
           ) AS INTEGER) AS "rank"
    FROM customer
)
SELECT c_mktsegment, "rank", c_custkey, c_acctbal FROM r WHERE "rank" <= 5
"""


@register("topk_customers", _TOPK_ORACLE)
def q_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    register_driver_tables(spark, sf_dir)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        spark.table("customer")
        .select(
            "c_mktsegment",
            F.row_number().over(w).alias("rank"),
            "c_custkey",
            "c_acctbal",
        )
        .filter(F.col("rank") <= 5)
    )


_SETOPS_ORACLE = """
SELECT l_partkey AS partkey FROM lineitem WHERE l_quantity > 40
INTERSECT
SELECT l_partkey AS partkey FROM lineitem WHERE l_discount > 0.08e0
EXCEPT
SELECT p_partkey AS partkey FROM part WHERE p_size < 5
"""


@register("set_ops", _SETOPS_ORACLE)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT coverage (SQL-standard left-to-right
    precedence: (A ∩ B) − C)."""
    register_driver_tables(spark, sf_dir)
    li = spark.table("lineitem")
    a = li.filter("l_quantity > 40").select(F.col("l_partkey").alias("partkey"))
    b = li.filter("l_discount > 0.08e0").select(F.col("l_partkey").alias("partkey"))
    c = (
        spark.table("part")
        .filter("p_size < 5")
        .select(F.col("p_partkey").alias("partkey"))
    )
    return a.intersect(b).exceptAll(c).distinct()


_GROUPING_SETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@register("grouping_sets", _GROUPING_SETS_ORACLE)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_driver_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


_ROLLUP_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) * 1e4) / 1e4 AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


@register("orders_rollup", _ROLLUP_ORACLE)
def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_driver_tables(spark, sf_dir)
    return (
        spark.table("orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double")
                    * F.lit(1e4)
                )
                / F.lit(1e4)
            ).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# Driver contract surface
# ---------------------------------------------------------------------------

def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: (sql() if callable(sql) else sql)
        for name, (_, sql) in REGISTRY.items()
        if sql is not None
    }
