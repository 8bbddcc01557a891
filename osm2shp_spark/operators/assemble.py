"""Way-geometry assembly — the engine's flagship join.

Reimplements the reference's only join + aggregation (O12/O13): the
batched sqlite index-nested-loop lookup of way refs
(osm/point_database.cc:48-112, IN-blocks of 128, positional scatter,
all-or-nothing integrity) becomes a distributed equi-join +
order-preserving aggregation:

    ways --classify--> posexplode(refs) --JOIN nodes(id,lon,lat)-->
    groupBy(way) --require count == n_refs--> sorted coord arrays

Semantics preserved:

- duplicate refs (closed rings) fan out correctly — every *position*
  gets its coords (point_database.cc:88-95) because we join the
  exploded (pos, ref) rows, not distinct refs;
- if ANY ref is unresolved the way is dropped entirely
  (point_database.cc:104-109) — inner join + ``count(*) == n_refs``;
- coordinate order equals ref order (positional arrays x[i], y[i],
  handler.cc:117-119) — ``array_sort(collect_list(struct(pos,...)))``.

Scale notes (100 TB design point):

- The one assembly shape is pure Catalyst: the ref→node join shuffles
  on ``ref`` (sort-merge at scale; AQE flips it to a broadcast when the
  staged node projection fits under the threshold) and the reassembly
  shuffles on ``way_id``. Map-side partial ``collect_list`` runs
  before the second shuffle. ``compact_pos`` (see
  :func:`assemble_ways`) carries the positions as smallint through
  both exchanges; :func:`assemble_ways_auto` enables it whenever its
  ref-count stat proves the bound.
- Mega-way skew (5k-20k refs): the exploded join keys are node refs
  (well distributed), so the join itself doesn't skew on way id; the
  reassembly groupBy can — AQE skew handling plus the two-stage salted
  variant in ``osm2shp_spark.operators.skew`` cover it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2shp_spark.operators.classify import classify_ways, staged_nodes


def assemble_ways(
    nodes: DataFrame, ways: DataFrame, compact_pos: bool = False,
    *, defer_filters: bool = True,
) -> DataFrame:
    """The assembly join (pure Catalyst).

    Returns (way_id, layer, kind, n_pts, lons, lats) for every way that
    routes to a layer and fully resolves.

    Shuffle diet: the (layer, kind) strings are coded as ONE tinyint
    rule-pair index (``rules.WAY_PAIRS``) before the posexplode, so
    every exploded ref row — and both shuffles (ref join + reassembly
    groupBy) — carries 1 byte of classification instead of two ~10-20
    byte strings; the pair decodes after the aggregate, one row per
    way.

    ``compact_pos`` additionally carries ``pos``/``n_refs`` as smallint
    through both exchanges (33 B → 29 B per post-join row; the
    reassembly exchange is this stage's measured floor, SURVEY §7).
    PRECONDITION: every way has ≤ 32767 refs — a non-ANSI smallint cast
    wraps silently above that, corrupting vertex order. Callers must
    prove the bound from data stats before enabling it;
    :func:`assemble_ways_auto` does (its ``max_refs`` pre-pass), and
    routes anything near the bound to the salted path anyway. The OSM
    data model caps ways at 2 000 refs, so real extracts always
    qualify.

    ``defer_filters`` is accepted and ignored: classification always
    runs behind its barriers (:func:`classify_ways`).
    """
    from osm2shp_spark.rules import pair_kind_sql, pair_layer_sql, way_pair_idx_sql

    itype = "smallint" if compact_pos else "int"
    classified = classify_ways(ways)
    exploded = classified.select(
        F.col("id").alias("way_id"),
        F.expr(way_pair_idx_sql()).alias("_li"),
        F.col("n_refs").cast(itype).alias("n_refs"),
        F.posexplode("refs").alias("pos", "ref"),
    ).withColumn("pos", F.col("pos").cast(itype))
    build = staged_nodes(nodes)
    joined = exploded.join(build, exploded.ref == build.id, "inner").select(
        "way_id", "_li", "n_refs", "pos", "lon", "lat"
    )
    return (
        joined.groupBy("way_id", "_li", "n_refs")
        .agg(
            F.count(F.lit(1)).alias("n_resolved"),
            F.array_sort(F.collect_list(F.struct("pos", "lon", "lat"))).alias("pts"),
        )
        .filter(F.col("n_resolved") == F.col("n_refs"))
        .select(
            "way_id",
            F.expr(pair_layer_sql("_li")).alias("layer"),
            F.expr(pair_kind_sql("_li")).alias("kind"),
            F.col("n_refs").cast("int").alias("n_pts"),
            F.expr("transform(pts, p -> p.lon)").alias("lons"),
            F.expr("transform(pts, p -> p.lat)").alias("lats"),
        )
    )


MEGA_WAY_THRESHOLD = 50_000  # refs per way before the salted path


def assemble_ways_auto(nodes: DataFrame, ways: DataFrame) -> DataFrame:
    """Strategy selector for the flagship join:

    - any mega-way of at least :data:`MEGA_WAY_THRESHOLD` refs → salted
      two-stage assembly (bounded reducer keys, skew-proof);
    - otherwise → :func:`assemble_ways`, with the smallint
      ``compact_pos`` exchange whenever the stat proves its bound.

    The statistic costs one column-pruned ``max(size(refs))`` scan of
    the ways ref column (in production it comes from table-level stats
    — e.g. a maintained max column stat — so the pre-pass is free;
    here it is one cheap job, amortized over the much larger assembly).
    """
    max_refs = ways.agg(F.max(F.size("refs"))).collect()[0][0] or 0
    if max_refs >= MEGA_WAY_THRESHOLD:
        from osm2shp_spark.operators.skew import assemble_ways_salted

        return assemble_ways_salted(nodes, ways)
    return assemble_ways(nodes, ways, compact_pos=max_refs <= 32767)


def assembly_counters(nodes: DataFrame, ways: DataFrame) -> DataFrame:
    """O17 observability counters as one aggregate row (handler.cc:59-61,
    84-85,108-109 — upgraded from stderr prints to a queryable result).

    Columns: processed_ways, routed_ways (matched a layer, pre-join),
    exported_ways (survived resolution), dropped_unresolved.

    processed + routed come from ONE scan of the ways table
    (classification is a per-row expression, so counting rows and
    routed rows in the same aggregate is free).
    """
    from osm2shp_spark.rules import min_vertex_sql, way_kind_sql, way_layer_sql

    routed_flag = (
        f"CASE WHEN {min_vertex_sql('kind', 'n_refs')} "
        f"AND {way_layer_sql('kind')} IS NOT NULL THEN 1 END"
    )
    both = (
        ways.withColumn("kind", F.expr(way_kind_sql()))
        .withColumn("n_refs", F.size("refs"))
        .agg(
            F.count(F.lit(1)).alias("processed_ways"),
            F.count(F.expr(routed_flag)).alias("routed_ways"),
        )
    )
    exported = assemble_ways(nodes, ways)
    return (
        both.crossJoin(exported.agg(F.count(F.lit(1)).alias("exported_ways")))
        .select(
            "processed_ways",
            "routed_ways",
            "exported_ways",
            (F.col("routed_ways") - F.col("exported_ways")).alias(
                "dropped_unresolved"
            ),
        )
    )
