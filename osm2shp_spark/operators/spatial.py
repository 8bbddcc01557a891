"""Spatial joins (N3/N4/N5): point-in-polygon, exact kNN, tile↔vector.

Design (SURVEY §4.2): spatial predicates are translated into
*relational* ones — an equi-join on grid tile ids as the prefilter,
then an exact refine — so Catalyst plans, shuffles and AQE-skew-handles
them like any other join. No custom strategy needed.

Two cell schemes coexist:

- the **flat grid** (``tile_x = floor(lon/ts)``, ``tile_y =
  floor(lat/ts)``) drives join *prefilters* — its covering is a
  trivially exact superset (rectangle of tiles over a bbox), and it is
  portable to the DuckDB oracle, so the whole join is value-checked;
- the **hierarchical cells** (S2 tokens + hex res 7-12,
  ``functions.udfs.with_point_cells``) are the index/rollup columns
  the north rule mandates; the adaptive-split operator re-indexes hot
  tiles at finer resolution.

Exactness: PIP refines with the even-odd ray-cast as one JVM filter
(:func:`pnpoly_sql`, bit-identical to the NumPy reference kernel
:func:`functions.geometry.points_in_polygon`), shared by the flat-grid
and S2-covering prefilters (:func:`_pip_refine_join`). kNN is
*provably* exact on both of :func:`knn_join_auto`'s routes: the
zero-shuffle numpy-bucket pass when the feature table fits the byte
budget (:mod:`._budget`), else the shuffle :func:`knn_join` — after
its 3x3-tile candidate pass, any point that cannot show k neighbors
inside the guaranteed-covered radius reads the 3x3 super-tile ring of
a level chosen per point from feature counts, never a full-table
broadcast. The oracle comparison (vs brute force SQL) checks this end
to end.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2shp_spark.operators import _budget

#: default tile size in degrees (prefilter grid)
TILE_SIZE = 0.05
#: cos(47.5 deg) — fixed reference latitude of the local metric; the
#: full repr literal is shared verbatim with the SQL oracles so both
#: engines compute bit-identical distances.
COS_REF = 0.6755902076156602
COS_REF2 = COS_REF * COS_REF


def dlit(x: float) -> str:
    """DOUBLE literal portable to both Spark and DuckDB (Spark parses
    bare decimals as DECIMAL; an exponent forces DOUBLE in both)."""
    r = repr(float(x))
    return r if ("e" in r or "E" in r) else r + "e0"


def dist2_expr(lon_a: str, lat_a: str, lon_b: str, lat_b: str) -> str:
    """Squared equirectangular distance, identical text for Spark and
    DuckDB (pure arithmetic — no trig at query time, so IEEE-identical
    across engines; see COS_REF)."""
    return (
        f"(({lon_a} - {lon_b}) * ({lon_a} - {lon_b}) * {dlit(COS_REF2)}"
        f" + ({lat_a} - {lat_b}) * ({lat_a} - {lat_b}))"
    )


def tile_expr(col: str, tile_size: float = TILE_SIZE) -> str:
    return f"CAST(floor({col} / {dlit(tile_size)}) AS BIGINT)"


def with_tiles(df: DataFrame, tile_size: float = TILE_SIZE) -> DataFrame:
    return df.withColumn("tile_x", F.expr(tile_expr("lon", tile_size))).withColumn(
        "tile_y", F.expr(tile_expr("lat", tile_size))
    )


# ---------------------------------------------------------------------------
# N3: point-in-polygon join
# ---------------------------------------------------------------------------

def pnpoly_sql(px: str, py: str, edges: str = "_edges") -> str:
    """Even-odd ray-cast containment as a pure Spark SQL expression —
    the exact PNPOLY kernel of :func:`functions.geometry.
    points_in_polygon`, evaluated JVM-side via higher-order
    ``filter`` + crossing-count parity, so the refine never crosses
    the Python/Arrow channel.

    Operates on a per-polygon EDGE array (``_with_ring_edges``:
    struct<lons=x1, lats=y1, _x2, _y2> per edge, built ONCE on the
    dimension side), so the per-candidate predicate is one small
    lambda — no ``element_at``/``sequence`` index algebra in the hot
    filter, which keeps the final join stage inside whole-stage
    codegen limits.

    Bit-parity with the NumPy kernel: identical IEEE operation order
    (``xi = x1 + (py - y1)/(y2 - y1) * (x2 - x1)``; SQL ``/`` and
    ``*`` associate left-to-right exactly like the NumPy expression),
    identical half-open crossing convention, and horizontal edges
    self-neutralize the same way (division by zero → ±Inf/NaN, the
    crossing comparison is false, matching ``cond`` being false).
    Rings with fewer than 3 vertices are never inside, as in the
    kernel."""
    crossing = (
        f"((e.lats > {py}) != (e._y2 > {py})) AND "
        f"({px} < e.lons + ({py} - e.lats) / (e._y2 - e.lats) * (e._x2 - e.lons))"
    )
    return (
        f"(size({edges}) >= 3 AND "
        f"(size(filter({edges}, e -> {crossing})) % 2) = 1)"
    )


def _with_ring_edges(polygons: DataFrame) -> DataFrame:
    """Add ``_edges``: the ring's directed edge list (v_i → v_{i+1},
    wrapping) as one array of structs, computed once per polygon on
    the dimension side. Expects OPEN rings (see
    ``_strip_closed_ring``).

    Note: when the polygon source is itself a wide expression tree
    (e.g. the synthetic fixtures), the fused dimension-side
    WholeStageCodegen can exceed janino's 64 KB method limit and that
    ONE tiny stage falls back to interpreted eval — harmless by
    construction (it is the dimension side, linear in polygon count);
    the hot point-side join + refine stage compiles normally."""
    rot = lambda c: (  # noqa: E731 — rotate-left by one
        f"concat(slice({c}, 2, greatest(size({c}) - 1, 0)), "
        f"array(try_element_at({c}, 1)))"
    )
    return (
        polygons.withColumn("_x2", F.expr(rot("lons")))
        .withColumn("_y2", F.expr(rot("lats")))
        .withColumn("_edges", F.expr("arrays_zip(lons, lats, _x2, _y2)"))
        .drop("_x2", "_y2")
    )


def _axis_rect_sql(lons: str, lats: str) -> str:
    """True when an OPEN 4-vertex ring is an axis-aligned rectangle: the
    edges alternate vertical/horizontal (either winding, any starting
    corner) ⟺ the vertices are the bbox corners in traversal order.
    Degenerate (zero-area) rings also match both patterns but have an
    empty strict-bbox interior, so routing them to the rect fast path
    is exact. ``try_element_at``: codegen subexpression elimination
    may evaluate the vertex probes before the size guard, and strict
    ``element_at`` throws on shorter rings — NULL probes make every
    equality NULL → the pattern is false, same routing."""
    e = lambda c, i: f"try_element_at({c}, {i})"  # noqa: E731
    p1 = (
        f"{e(lons, 1)} = {e(lons, 2)} AND {e(lats, 2)} = {e(lats, 3)} AND "
        f"{e(lons, 3)} = {e(lons, 4)} AND {e(lats, 4)} = {e(lats, 1)}"
    )
    p2 = (
        f"{e(lats, 1)} = {e(lats, 2)} AND {e(lons, 2)} = {e(lons, 3)} AND "
        f"{e(lats, 3)} = {e(lats, 4)} AND {e(lons, 4)} = {e(lons, 1)}"
    )
    return f"(size({lons}) = 4 AND (({p1}) OR ({p2})))"


def _strip_closed_ring(polygons: DataFrame) -> DataFrame:
    """Drop the closing duplicate vertex (first == last) from the ring
    arrays — the same normalization the NumPy kernel applies per call,
    done ONCE on the dimension side so the JVM refine expression works
    on open rings. bbox min/max are unaffected.

    The stripped arrays are re-emitted through a single-element
    ``inline`` Generate. That Generate is a projection-collapse
    boundary: without it, every downstream reference (16 vertex probes
    in ``_axis_rect_sql``, two rotations + the 4-way ``arrays_zip`` in
    ``_with_ring_edges``) inlines the full strip CASE — and when the
    ring source is itself a wide expression (the synthetic fixtures),
    the collapsed dimension-side Project blows past janino's 64 KB
    method limit. That compile attempt is doomed but not free: it
    failed on EVERY execution (failures are not cached), ~0.8 s of
    driver wall per pip_rect run before the interpreted fallback.
    Measured: pip_rect 1.54 s -> 0.66 s, compile failures 1/run -> 0.
    The Generate costs one struct per polygon row, no shuffle — free
    at any scale next to the join it feeds."""
    closed = (
        (F.size("lons") >= 2)
        & (F.element_at("lons", 1) == F.element_at("lons", -1))
        & (F.element_at("lats", 1) == F.element_at("lats", -1))
    )
    stripped = polygons.withColumn(
        "lons",
        F.when(closed, F.expr("slice(lons, 1, size(lons) - 1)")).otherwise(
            F.col("lons")
        ),
    ).withColumn(
        "lats",
        F.when(closed, F.expr("slice(lats, 1, size(lats) - 1)")).otherwise(
            F.col("lats")
        ),
    )
    from osm2shp_spark.operators._parallel import collapse_barrier

    return collapse_barrier(stripped)


def _ring_bboxes(polygons: DataFrame) -> DataFrame:
    """Open the rings (:func:`_strip_closed_ring`) and add the bbox
    columns ``_lon_min``/``_lon_max``/``_lat_min``/``_lat_max`` that
    both prefilters cover and the refine pre-cuts on."""
    return (
        _strip_closed_ring(polygons)
        .withColumn("_lon_min", F.array_min("lons"))
        .withColumn("_lon_max", F.array_max("lons"))
        .withColumn("_lat_min", F.array_min("lats"))
        .withColumn("_lat_max", F.array_max("lats"))
    )


def _pip_refine_join(
    pts: DataFrame,
    polys: DataFrame,
    keys: list[str],
    point_cols: tuple[str, ...],
    poly_cols: tuple[str, ...],
) -> DataFrame:
    """Shared join core of both PIP prefilters: equi-join the points
    (``point_cols`` + ``_px``/``_py`` + ``keys``) with the keyed
    polygon cover (:func:`_ring_bboxes` output + ``keys``), bbox
    pre-cut, then the exact refine as one pipelined JVM filter —
    axis-rect rings take the strict-bbox test, everything else the
    higher-order PNPOLY expression (:func:`pnpoly_sql`). The rect/
    general split is a CASE, not a plan fork, so the candidate subtree
    is read once and never crosses the Arrow channel.

    Rect-ness and the edge list are decided ONCE per polygon on the
    dimension side, not per candidate — the refine filter stays one
    small lambda, inside whole-stage codegen limits.

    The one broadcast check measures exactly the side it broadcasts:
    the keyed polygon table, one row per tile or token, each with the
    full ``_edges`` list. Within the byte budget (:mod:`._budget`) it
    is hash-broadcast — the point side never shuffles and the refine
    pipelines inside its scan stage; above it the planner picks the
    join strategy."""
    polys = _with_ring_edges(
        polys.withColumn("_isrect", F.expr(_axis_rect_sql("lons", "lats")))
    ).select(
        *poly_cols, "_edges", "_isrect",
        "_lon_min", "_lon_max", "_lat_min", "_lat_max", *keys,
    )
    if _budget.fits_broadcast(polys):
        polys = F.broadcast(polys)
    keep = (
        "CASE WHEN _isrect THEN "
        "(_px > _lon_min AND _px < _lon_max AND "
        "_py > _lat_min AND _py < _lat_max) "
        f"ELSE {pnpoly_sql('_px', '_py', '_edges')} END"
    )
    return (
        pts.join(polys, keys, "inner")
        .filter(
            (F.col("_px") >= F.col("_lon_min"))
            & (F.col("_px") <= F.col("_lon_max"))
            & (F.col("_py") >= F.col("_lat_min"))
            & (F.col("_py") <= F.col("_lat_max"))
        )
        .filter(F.expr(keep))
        .select(*point_cols, *poly_cols)
    )


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    point_cols: tuple[str, ...],
    poly_cols: tuple[str, ...],
) -> DataFrame:
    """Inner spatial join: rows of ``points`` inside rows of ``polygons``.

    ``points`` needs (lon, lat) + ``point_cols`` to carry through;
    ``polygons`` needs (lons, lats arrays) + ``poly_cols``.

    Plan: polygons explode over their bbox tile rectangle (pure
    Catalyst ``sequence``+``explode`` — exact superset cover), points
    compute their tile, equi-join on tile, bbox pre-cut, then the
    exact ray-cast refine as a higher-order SQL filter pipelined
    straight after the join (:func:`_pip_refine_join`) — zero Python
    workers, bit-identical results to the NumPy kernel
    :func:`functions.geometry.points_in_polygon`. The tiled polygon
    side is broadcast when it fits the byte budget.
    """
    pts = with_tiles(points).select(
        *point_cols,
        F.col("lon").alias("_px"),
        F.col("lat").alias("_py"),
        "tile_x",
        "tile_y",
    )
    ts = float(TILE_SIZE)
    polys = (
        _ring_bboxes(polygons)
        .withColumn(
            "tile_x",
            F.explode(
                F.sequence(
                    F.expr(tile_expr("_lon_min", ts)), F.expr(tile_expr("_lon_max", ts))
                )
            ),
        )
        .withColumn(
            "tile_y",
            F.explode(
                F.sequence(
                    F.expr(tile_expr("_lat_min", ts)), F.expr(tile_expr("_lat_max", ts))
                )
            ),
        )
    )
    return _pip_refine_join(pts, polys, ["tile_x", "tile_y"], point_cols, poly_cols)


def pip_join_s2(
    points: DataFrame,
    polygons: DataFrame,
    point_cols: tuple[str, ...],
    poly_cols: tuple[str, ...],
) -> DataFrame:
    """PIP join prefiltered by S2 covering tokens instead of flat-grid
    tiles — the north rule's 'S2 covering tokens for point-in-polygon
    layer classification' as a relational equi-join: polygons explode
    over their bbox covering at a fleet-wide level, points compute
    their single level-L token, join on token, then the shared exact
    refine (:func:`_pip_refine_join`). Identical results to
    :func:`pip_join` (equivalence- and oracle-tested).

    Level selection: the finest level whose WORST bbox covering fits
    64 cells (at most level 14) — one tiny driver pre-pass over bbox spans
    (production: a table stat), then the same level search as the way
    cells (:func:`s2.fitting_covering`) on that one bbox. A fleet-wide
    level keeps the join a single-key equi-join; per-row adaptive
    levels are the flat-grid path's adaptive-cell territory.

    The covering UDF is one flat Arrow kernel: bboxes are computed
    JVM-side (``array_min``/``array_max``) and the whole batch goes
    through one :func:`s2.bbox_covering_batch` call and one token pass
    (:func:`functions.udfs.token_lists`) — no per-polygon Python.
    """
    from pyspark.sql import types as T

    from osm2shp_spark.functions import s2 as S2
    from osm2shp_spark.functions.udfs import s2_token_udf, token_lists

    spans = polygons.agg(
        F.max(F.array_max("lons") - F.array_min("lons")).alias("dx"),
        F.max(F.array_max("lats") - F.array_min("lats")).alias("dy"),
        F.min(F.array_min("lons")).alias("x0"),
        F.min(F.array_min("lats")).alias("y0"),
    ).collect()[0]
    level = 1
    # no polygons → no bbox to cover (x0 is NULL); any level joins nothing
    if spans["x0"] is not None:
        x0, y0 = spans["x0"], spans["y0"]
        levels, _, _ = S2.fitting_covering(
            [x0], [y0], [x0 + spans["dx"]], [y0 + spans["dy"]],
            14, 64, step=1, min_level=1,
        )
        level = int(levels[0])

    @F.arrow_udf(T.ArrayType(T.StringType()))
    def cover_tokens(x0: pa.Array, y0: pa.Array, x1: pa.Array, y1: pa.Array) -> pa.Array:
        bbox = (a.to_numpy(zero_copy_only=False) for a in (x0, y0, x1, y1))
        # min_level=level: one batch call, and a polygon over budget
        # raises rather than losing its cover
        _, ids, counts = S2.fitting_covering(
            *bbox, level, 64, min_level=level
        )
        return token_lists(ids, counts)

    polys = _ring_bboxes(polygons).withColumn(
        "_tok",
        F.explode(cover_tokens("_lon_min", "_lat_min", "_lon_max", "_lat_max")),
    )
    pts = points.select(
        *point_cols,
        F.col("lon").alias("_px"),
        F.col("lat").alias("_py"),
        s2_token_udf(level)(F.col("lon"), F.col("lat")).alias("_tok"),
    )
    return _pip_refine_join(pts, polys, ["_tok"], point_cols, poly_cols)


# ---------------------------------------------------------------------------
# N4: exact kNN nearest-feature join
# ---------------------------------------------------------------------------

def knn_join(
    points: DataFrame,
    features: DataFrame,
    k: int,
    tile_size: float = TILE_SIZE,
) -> DataFrame:
    """Exact k nearest features (node_id, lon, lat) per point
    (image_id, lon, lat) → (image_id, rank, node_id, dist2). Local
    equirectangular metric (see COS_REF), ties broken by feature id —
    fully deterministic. One lazy plan: building it runs
    no job, and it caches, checkpoints and collects nothing.

    Base pass: points equi-join the features of their 3x3 tile
    neighborhood (shuffle-friendly, skew handled by AQE). A point's
    result is provably exact when k candidates lie within the
    guaranteed-covered radius (one tile ring, ``tile_size * COS_REF``
    in the scaled metric). The remaining points, the stragglers, are
    resolved by a per-point super-tile level choice
    (:func:`_knn_stragglers`), never by a broadcast of the feature
    table. Its feature scans are gated inside the plan: when no point
    straggles, AQE never schedules them.

    The per-point top-k aggregate is keyed by ``(tile_x, tile_y,
    _pid)`` — the same groups as ``_pid`` alone, since a point sits in
    exactly one tile — so with the feature side shuffled rather than
    broadcast, the join's HashPartitioning(tile) already satisfies the
    aggregate's ClusteredDistribution (subset rule) and candidates
    never leave their join partition (plan-asserted in
    tests/test_spatial.py).
    """
    from osm2shp_spark.operators._parallel import collapse_barrier

    # the ±1-tile neighborhood explode rides the FEATURE side: a
    # feature in tile t is a candidate for points in t's 3x3 ring ⟺
    # a point in tile p sees features from p's 3x3 ring — the same
    # candidate set either way, but the dimension table is the small
    # side, so the 9x row fan-out (and the shuffle it feeds) stays off
    # the big point table
    feats = (
        with_tiles(features, tile_size=tile_size)
        .withColumn("_dx", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
        .withColumn("_dy", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
        .select(
            F.col("node_id").alias("_fid"),
            F.col("lon").alias("_flon"),
            F.col("lat").alias("_flat"),
            (F.col("tile_x") + F.col("_dx")).alias("tile_x"),
            (F.col("tile_y") + F.col("_dy")).alias("tile_y"),
        )
    )
    pts = with_tiles(points, tile_size=tile_size).select(
        F.col("image_id").alias("_pid"),
        F.col("lon").alias("_plon"),
        F.col("lat").alias("_plat"),
        "tile_x",
        "tile_y",
    )
    d2 = dist2_expr("_plon", "_plat", "_flon", "_flat")
    # Per-point top-k as an AGGREGATE (:func:`_top_k`) instead of a
    # row_number window: the window path pays a map-side sort of the
    # FULL candidate set (string point ids in the sort key) before
    # Spark 4's WindowGroupLimit(Partial) can truncate it; the agg
    # path replaces that one big row sort with a codegen'd array_sort
    # per point (~ring-count elements each). Measured at sf0.1
    # local[32] (commit 3cd18e5): topk stage 5.56s -> 1.36s with the
    # shuffle join.
    # guaranteed covered radius: one tile in every direction; lon tiles
    # shrink by COS_REF in the scaled metric
    rho2 = (tile_size * COS_REF) ** 2
    # LEFT join, not inner: a point whose 3x3 ring holds no feature
    # still gets one (null-candidate) row, so EVERY point appears in
    # the summary below and the stragglers are read off it — the big
    # point table is scanned exactly once.
    # The dist2 <= rho2 cut is PART of the join condition: candidates
    # outside the covered disc can never contribute to a resolved
    # point's top-k, and stragglers recompute from scratch — so
    # dropping them here is result-identical and starves the aggregate
    # of ~3/4 of its input (measured sf0.1: 8.67M -> 2.12M candidate
    # rows).
    p, f = pts.alias("p"), feats.alias("f")
    cond = (
        (F.col("p.tile_x") == F.col("f.tile_x"))
        & (F.col("p.tile_y") == F.col("f.tile_y"))
        & (F.expr(d2) <= F.lit(rho2))
    )
    cand = p.join(f, cond, "left").select(
        F.col("p.tile_x").alias("tile_x"), F.col("p.tile_y").alias("tile_y"),
        "_pid", "_plon", "_plat", "_fid", F.expr(d2).alias("dist2"),
    )
    topk = cand.groupBy("tile_x", "tile_y", "_pid").agg(
        _top_k(k), F.first("_plon").alias("_plon"), F.first("_plat").alias("_plat")
    )
    # both consumers below read the summary through this one exchange
    # (Spark reuses it); the barrier keeps their _top filters above it —
    # pushed below, each would plan its own join and aggregate
    summary = collapse_barrier(topk.repartition("_pid"))
    # every collected candidate already satisfies dist2 <= rho2 (join
    # condition), so "resolved" collapses to having k of them: those k
    # ARE the k nearest (the disc is guaranteed fully covered)
    solved = summary.filter(F.size("_top") >= k)
    stragglers = summary.filter(F.size("_top") < k).select(
        "_pid", "_plon", "_plat", "tile_x", "tile_y"
    )
    top = solved.select("_pid", "_top").unionByName(
        _knn_stragglers(stragglers, features, k, tile_size)
    )
    return top.select("_pid", F.posexplode("_top").alias("_i", "_h")).select(
        F.col("_pid").alias("image_id"),
        (F.col("_i") + 1).alias("rank"),
        F.col("_h._fid").alias("node_id"),
        F.col("_h.dist2").alias("dist2"),
    )


def _top_k(k: int):
    """Aggregate expression ``_top``: the k smallest ``(dist2, _fid)``
    structs of a group, in the oracle's ``ORDER BY dist2, id`` order.
    NULL ``_fid`` rows (the base pass's left-join misses) become NULL
    entries, which ``collect_list`` skips."""
    return F.slice(
        F.array_sort(
            F.collect_list(
                F.when(F.col("_fid").isNotNull(), F.struct("dist2", "_fid"))
            )
        ),
        1,
        k,
    ).alias("_top")


#: the straggler pass's last-resort level: its super tiles span 2^63
#: base tiles, so every BIGINT tile lies in every point's 3x3 ring
_ALL_TILES_LEVEL = 63


def _knn_stragglers(
    stragglers: DataFrame,
    features: DataFrame,
    k: int,
    tile_size: float,
) -> DataFrame:
    """Exact top-k (``_pid``, ``_top``) of the base pass's stragglers
    (``_pid``, ``_plon``, ``_plat``, ``tile_x``, ``tile_y``), one lazy
    plan.

    Level-j super tiles are ``tile >> j`` (floor division, so negative
    tiles nest too), and the 3x3 super-tile rings nest: the ring at
    level j+1 contains the ring at level j. Per straggler, j* is the
    finest level whose ring holds at least k features, read off
    per-tile feature counts rolled up per level. Every point of that
    ring lies within 2 super tiles (2·2^j*·ts) of the point on each
    axis, so the k-th distance is below 2·2^j*·ts·√(1+COS_REF²)
    ≈ 2.41·2^j*·ts. The ring at level j*+2 covers every point within
    4·2^j*·ts·COS_REF ≈ 2.70·2^j*·ts, so the top-k over that ring is
    exact, ties included — also after a cut at that covered radius
    (the base pass's rule), which keeps every feature closer than the
    k-th.

    Levels are counted up to the first whose super tile spans the
    360-degree lon domain: beyond it an in-domain ring holds every
    in-domain feature. A straggler short of k features at every counted
    level reads :data:`_ALL_TILES_LEVEL`, whose ring holds every
    feature, so the result is exact for any coordinate.

    The two feature scans are cross joined with broadcasts of a
    one-row "stragglers exist" frame and of the distinct chosen levels
    (at most top + 2 rows); with no straggler both are empty, and AQE
    never schedules the scans.
    """
    from osm2shp_spark.operators._parallel import collapse_barrier

    ts = float(tile_size)
    top = max(0, math.ceil(math.log2(360.0 / ts)))
    levels = F.explode(F.sequence(F.lit(0), F.lit(top)))
    # the 9 (dx, dy) offsets of a 3x3 ring, one Generate
    ring9 = F.expr(
        "inline(array("
        + ", ".join(
            f"struct({dx} AS _dx, {dy} AS _dy)" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        )
        + "))"
    )

    def sup(tile: str, level: str, off: str = ""):
        """Level-``level`` super tile of ``tile``, plus ring offset ``off``."""
        return F.expr(f"shiftright({tile}, {level})" + (f" + {off}" if off else ""))

    feats = features.select(
        F.col("node_id").alias("_fid"),
        F.col("lon").alias("_flon"),
        F.col("lat").alias("_flat"),
        F.expr(tile_expr("lon", ts)).alias("tile_x"),
        F.expr(tile_expr("lat", ts)).alias("tile_y"),
    )
    exist = F.broadcast(stragglers.select(F.lit(1).alias("_g")).limit(1))
    # super tiles (by level) whose 3x3 ring holds >= k features: each
    # per-tile count is added to the 9 super tiles it is a neighbor of
    full = (
        feats.crossJoin(exist)
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select("*", levels.alias("_j"))
        .select("*", ring9)
        .groupBy(
            "_j",
            sup("tile_x", "_j", "_dx").alias("_sx"),
            sup("tile_y", "_j", "_dy").alias("_sy"),
        )
        .agg(F.sum("_n").alias("_n"))
        .filter(F.col("_n") >= k)
    )
    chosen = (
        stragglers.select("*", levels.alias("_j"))
        .select("*", sup("tile_x", "_j").alias("_sx"), sup("tile_y", "_j").alias("_sy"))
        .join(full, ["_j", "_sx", "_sy"], "left")
        .groupBy(*stragglers.columns)
        .agg(F.min(F.when(F.col("_n").isNotNull(), F.col("_j"))).alias("_j"))
    )
    # the read ring's covered radius (2^lvl·ts·COS_REF) as the cut; the
    # all-tiles level takes every feature
    rho = F.pow(F.lit(2.0), F.col("_j") + 2) * (ts * COS_REF)
    # read twice (levels, ring): the barrier keeps their column pruning
    # above the aggregate, so both read one reused exchange
    chosen = collapse_barrier(
        chosen.select(
            *stragglers.columns,
            F.coalesce(F.col("_j") + 2, F.lit(_ALL_TILES_LEVEL)).alias("_lvl"),
            F.coalesce(rho * rho, F.lit(float("inf"))).alias("_rho2"),
        )
    )
    read = F.broadcast(chosen.select("_lvl").distinct())
    keyed = feats.crossJoin(read).select(
        "_fid",
        "_flon",
        "_flat",
        "_lvl",
        sup("tile_x", "_lvl").alias("_sx"),
        sup("tile_y", "_lvl").alias("_sy"),
    )
    ring = chosen.select("*", ring9).select(
        "_pid",
        "_plon",
        "_plat",
        "_lvl",
        "_rho2",
        sup("tile_x", "_lvl", "_dx").alias("_sx"),
        sup("tile_y", "_lvl", "_dy").alias("_sy"),
    )
    d2 = dist2_expr("_plon", "_plat", "_flon", "_flat")
    # a map-side partial collect_list keeps every row it is given, so
    # the candidates shuffle raw and aggregate once (sf0.01, 13.7k
    # stragglers: join + partial top-k 1.09 s in one 2-task stage ->
    # join 0.37 s + top-k 0.34 s in 4 tasks)
    return (
        ring.join(keyed, ["_lvl", "_sx", "_sy"])
        .select("_pid", "_rho2", "_fid", F.expr(d2).alias("dist2"))
        .filter(F.col("dist2") <= F.col("_rho2"))
        .repartition("_pid")
        .groupBy("_pid")
        .agg(_top_k(k))
    )


def knn_join_auto(
    points: DataFrame,
    features: DataFrame,
    k: int,
    tile_size: float = TILE_SIZE,
) -> DataFrame:
    """Strategy selector for exact kNN: the zero-shuffle broadcast
    path when ``(node_id, lon, lat)`` fits the broadcast budget
    (:mod:`._budget`, one aggregate; named-place dimension tables stay
    small even at planet scale), else the shuffle :func:`knn_join`
    (tile equi-join + provable-radius exactness + AQE skew splitting)
    instead of OOMing the driver on the collect at 100x feature scale.

    The broadcast path has identical semantics and bit-identical
    distances to :func:`knn_join` (same IEEE arithmetic, same
    (dist2, id) tie-break): features are bucketed by tile into a
    numpy broadcast; each points partition groups its points by tile
    (all points in a tile share one candidate set), computes the full
    tile-vs-candidates distance matrix in one NumPy op, applies the
    provable-radius test per row, and falls back to a batched full
    matrix scan for the rare unprovable points — all in one
    ``mapInPandas`` pass, no shuffle, no per-row Python.

    Tie-break vectorization: candidate columns are pre-sorted by
    feature id once per tile, so a *stable* argsort on dist2 alone
    reproduces the (dist2, id) lexicographic order row-wise in one
    C-level call.
    """
    side = features.select("node_id", "lon", "lat")
    if not _budget.fits_broadcast(side):
        return knn_join(points, features, k, tile_size)
    feat_pdf = side.toPandas()
    # global feature order by id: with columns pre-sorted by id, a
    # stable sort on dist2 == lexsort((id, dist2))
    g_order = np.argsort(feat_pdf["node_id"].to_numpy(), kind="stable")
    fid = feat_pdf["node_id"].to_numpy()[g_order]
    flon = feat_pdf["lon"].to_numpy(np.float64)[g_order]
    flat = feat_pdf["lat"].to_numpy(np.float64)[g_order]
    tx = np.floor(flon / tile_size).astype(np.int64)
    ty = np.floor(flat / tile_size).astype(np.int64)
    buckets: dict[tuple[int, int], np.ndarray] = {}
    order = np.lexsort((ty, tx))
    sorted_keys = np.stack([tx[order], ty[order]], axis=1)
    # no features → no buckets (the leading True would index row 0)
    starts = np.flatnonzero(
        np.concatenate(([True], np.any(np.diff(sorted_keys, axis=0) != 0, axis=1)))
    ) if len(order) else np.empty(0, np.int64)
    bounds = np.append(starts, len(order))
    for i, s in enumerate(starts):
        key = (int(sorted_keys[s, 0]), int(sorted_keys[s, 1]))
        # keep each bucket id-sorted (order[] picks ascending positions
        # within a tile, and positions are already id-sorted globally)
        buckets[key] = np.sort(order[s : bounds[i + 1]])
    bc = points.sparkSession.sparkContext.broadcast((buckets, fid, flon, flat))
    rho2 = (tile_size * COS_REF) ** 2
    ts = float(tile_size)

    out_schema = (
        f"image_id {points.schema['image_id'].dataType.simpleString()}, "
        f"rank INT, node_id {features.schema['node_id'].dataType.simpleString()}, "
        "dist2 DOUBLE"
    )

    def run(batches):
        buckets_, fid_, flon_, flat_ = bc.value
        n_feat = len(fid_)

        def topk_matrix(plon: np.ndarray, plat: np.ndarray, cand: np.ndarray):
            """(m,) points vs (n,) id-sorted candidate idx → per-row
            top-min(k,n) candidate indices + dist2, (dist2, id)-ordered."""
            dlon = plon[:, None] - flon_[cand][None, :]
            dlat = plat[:, None] - flat_[cand][None, :]
            d2 = dlon * dlon * COS_REF2 + dlat * dlat
            o = np.argsort(d2, axis=1, kind="stable")[:, : min(k, len(cand))]
            return cand[o], np.take_along_axis(d2, o, axis=1)

        def emit(pids_sel, top_i, top_d, rows_out):
            m, kk = top_i.shape
            rows_out.append(
                pd.DataFrame(
                    {
                        "image_id": np.repeat(pids_sel, kk),
                        "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), m),
                        "node_id": fid_[top_i.ravel()],
                        "dist2": top_d.ravel(),
                    }
                )
            )

        for pdf in batches:
            if pdf.empty:
                continue
            pids = pdf["image_id"].to_numpy()
            plons = pdf["lon"].to_numpy(np.float64)
            plats = pdf["lat"].to_numpy(np.float64)
            ptx = np.floor(plons / ts).astype(np.int64)
            pty = np.floor(plats / ts).astype(np.int64)
            out_frames: list[pd.DataFrame] = []
            unsolved_idx: list[np.ndarray] = []
            # group points by tile — every point in a tile shares the
            # identical 3x3 candidate set, so the distance matrix and
            # top-k run once per tile, fully vectorized
            _, inv = np.unique(
                np.stack([ptx, pty], axis=1), axis=0, return_inverse=True
            )
            order_p = np.argsort(inv, kind="stable")
            grp_starts = np.flatnonzero(
                np.concatenate(([True], np.diff(inv[order_p]) != 0))
            )
            grp_bounds = np.append(grp_starts, len(order_p))
            for gi, gs in enumerate(grp_starts):
                sel = order_p[gs : grp_bounds[gi + 1]]
                t_x, t_y = int(ptx[sel[0]]), int(pty[sel[0]])
                cand_parts = [
                    buckets_.get((t_x + dx, t_y + dy))
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
                cand_parts = [c for c in cand_parts if c is not None]
                if cand_parts:
                    # concatenating id-sorted buckets needs one re-sort
                    cand = np.sort(np.concatenate(cand_parts))
                    top_i, top_d = topk_matrix(plons[sel], plats[sel], cand)
                    if top_i.shape[1] >= k:
                        # col -1 IS the kth distance (shape[1]==k here)
                        solved = top_d[:, -1] <= rho2
                    else:
                        solved = np.zeros(len(sel), dtype=bool)
                    if solved.any():
                        emit(pids[sel[solved]], top_i[solved], top_d[solved], out_frames)
                    if not solved.all():
                        unsolved_idx.append(sel[~solved])
                else:
                    unsolved_idx.append(sel)
            if unsolved_idx:
                # batched exact fallback: one matrix vs ALL features
                sel = np.concatenate(unsolved_idx)
                top_i, top_d = topk_matrix(
                    plons[sel], plats[sel], np.arange(n_feat)
                )
                emit(pids[sel], top_i, top_d, out_frames)
            if out_frames:
                yield pd.concat(out_frames, ignore_index=True)

    from osm2shp_spark.operators._parallel import ensure_min_parallelism

    # the numpy kernel is partition-parallel only — a 1-split point
    # scan would run it in one task (r6, guide §2.5); identity when the
    # scan already splits wide enough
    return ensure_min_parallelism(
        points.select("image_id", "lon", "lat")
    ).mapInPandas(run, schema=out_schema)


#: the broadcast path's former name, kept for importers of it
knn_join_broadcast = knn_join_auto


def auto_tile_size(features: DataFrame, hot_threshold: int = 50_000) -> float:
    """Histogram-driven tile-size choice for the candidate prefilter —
    the adaptive-cell-splitting idea applied to the flat join grid: if
    the densest tile exceeds ``hot_threshold`` features, halve the
    tile size (×4 candidate reduction in the hot spot) and re-check,
    at most 4 times, starting from ``TILE_SIZE``. Each probe is ONE
    partial-aggregated count on the feature table (production reads it from cell-count
    table stats). Smaller tiles only shrink candidate sets — the kNN
    provable-radius test adapts via rho2, so exactness never depends
    on the choice."""
    ts = float(TILE_SIZE)
    for _ in range(4):
        hot = (
            with_tiles(features, tile_size=ts)
            .groupBy("tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n"))
            .collect()[0][0]
        ) or 0
        if hot <= hot_threshold:
            break
        ts /= 2.0
    return ts


def knn_join_adaptive(
    points: DataFrame,
    features: DataFrame,
    k: int,
    hot_threshold: int = 50_000,
) -> DataFrame:
    """:func:`knn_join_auto` with the tile size chosen by
    :func:`auto_tile_size` from the feature density histogram (dense
    urban cells → finer prefilter grid). Bit-identical results at any
    tile size; only the candidate economics change."""
    ts = auto_tile_size(features, hot_threshold)
    return knn_join_auto(points, features, k, ts)


# ---------------------------------------------------------------------------
# N5: raster-tile ↔ vector-layer join
# ---------------------------------------------------------------------------

def tile_vector_stats(points: DataFrame, features: DataFrame) -> DataFrame:
    """Per-tile rollup joining image points with vector features:
    (tile_x, tile_y, n_images, n_features). Tiles with no features or
    no images keep 0 on the missing side (full outer semantics).
    Pure Catalyst: two partial-aggregated groupBys + one join on the
    tile key — the cheapest possible plan at 100 TB.
    """
    pt = (
        with_tiles(points)
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_images"))
    )
    ft = (
        with_tiles(features)
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_features"))
    )
    return (
        pt.join(ft, ["tile_x", "tile_y"], "full_outer")
        .select(
            "tile_x",
            "tile_y",
            F.coalesce("n_images", F.lit(0)).alias("n_images"),
            F.coalesce("n_features", F.lit(0)).alias("n_features"),
        )
    )
