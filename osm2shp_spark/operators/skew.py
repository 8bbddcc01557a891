"""Skew handling (N6): salted two-stage geometry assembly for
mega-ways, histogram-driven adaptive cell splitting for hot tiles.

AQE's skew-join splitting (on by default in Spark) covers the
shuffle-join side; this module covers the two cases AQE can't:

- **mega-way collect_list skew**: a 20k-ref way funnels 20k rows into
  one reducer key. ``assemble_ways_salted`` splits each way's refs
  into fixed-size positional chunks (salt = pos / chunk), assembles
  chunks in a first groupBy (bounded per-key fan-in), then
  concatenates ordered chunks in a second, tiny groupBy. Ordered
  aggregation composes because the salt *is* the position prefix —
  sort by chunk id, flatten, and the original order is restored.
- **hot-cell fan-out**: dense urban tiles blow up cell-equi-joins.
  ``adaptive_cells`` counts each cell with a window aggregate and
  moves the points of hot cells (count > threshold) to the
  next-finer resolution, level by level — the adaptive cell splitting
  the north rule names — in one lazy plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from osm2shp_spark.functions.udfs import hex_cell_udf
from osm2shp_spark.operators.classify import classify_ways, staged_nodes

#: refs per salted chunk, read at call time; in-chunk positions ride
#: the shuffles as smallint, so it must stay <= 32767
DEFAULT_CHUNK = 1024


def assemble_ways_salted(nodes: DataFrame, ways: DataFrame) -> DataFrame:
    """Skew-proof variant of ``assemble.assemble_ways`` — identical
    output (equivalence-tested), bounded reducer keys.

    Stage 1 groups on (way_id, pos DIV chunk): no key sees more than
    ``chunk`` (:data:`DEFAULT_CHUNK`) rows regardless of way size.
    Stage 2 groups the per-way chunk summaries (≤ n_refs/chunk rows
    per way — 20 for a 20k-ref mega-way), flattens in chunk order.
    """
    from osm2shp_spark.rules import pair_kind_sql, pair_layer_sql, way_pair_idx_sql

    chunk = DEFAULT_CHUNK
    classified = classify_ways(ways)
    # same tinyint (layer, kind) coding as assemble_ways: 1 byte of
    # classification through the exploded join + BOTH groupBy shuffles.
    # Exchange diet: global order = (chunk_id, pos % chunk), so only
    # the smallint in-chunk offset rides the shuffles — the full int
    # pos never leaves the map side (pos < n_refs can exceed smallint
    # on mega-ways, pos % chunk < chunk never does). chunk_id as int is
    # always safe: pos comes from posexplode and is itself a 32-bit
    # int, so chunk_id = pos / chunk <= 2^31 / chunk fits by construction.
    exploded = (
        classified.select(
            F.col("id").alias("way_id"),
            F.expr(way_pair_idx_sql()).alias("_li"),
            "n_refs",
            F.posexplode("refs").alias("pos", "ref"),
        )
        .withColumn("chunk_id", (F.col("pos") / F.lit(chunk)).cast("int"))
        .withColumn("pos", (F.col("pos") % F.lit(chunk)).cast("smallint"))
    )
    build = staged_nodes(nodes)
    joined = exploded.join(build, exploded.ref == build.id, "inner").select(
        "way_id", "_li", "n_refs", "chunk_id", "pos", "lon", "lat"
    )
    chunks = joined.groupBy("way_id", "_li", "n_refs", "chunk_id").agg(
        F.count(F.lit(1)).alias("chunk_n"),
        F.array_sort(F.collect_list(F.struct("pos", "lon", "lat"))).alias("pts"),
    )
    return (
        chunks.groupBy("way_id", "_li", "n_refs")
        .agg(
            F.sum("chunk_n").alias("n_resolved"),
            F.flatten(
                F.expr(
                    "transform(array_sort(collect_list(struct(chunk_id, pts))), c -> c.pts)"
                )
            ).alias("pts"),
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


def adaptive_cells(
    points: DataFrame,
    base_res: int = 8,
    hot_threshold: int = 1000,
    max_extra_levels: int = 2,
    cell_col: str | None = None,
) -> DataFrame:
    """Add ``cell_adaptive`` (+ ``cell_res``): the base-res hex cell,
    except points in hot cells (count > threshold) re-index one (or
    more) resolution(s) finer until the histogram cools or
    ``max_extra_levels`` is hit.

    One lazy plan, no job of its own: every level's cell id is a plain
    select item (one shared Arrow pass), and level i's histogram is a
    window count over the rows level i-1 re-indexed, partitioned by
    their level i-1 cell. A row is hot at level i when it was hot at
    level i-1 and its cell holds more than ``hot_threshold`` such rows;
    the deepest hot level picks the cell. NULL cells are never hot.

    Trade-off: each level's window moves the rows (not counts) through
    one exchange, and each window partition holds one cell, so the
    hottest cell sits in one task. A count-only window buffers that
    partition and spills it when needed. At the largest scale the repo
    runs (sf0.1, res 9) the hottest cell holds 2,582 rows.

    ``cell_col``: an existing column already holding the base-res hex
    cell id (e.g. ``hex_r{base_res}`` from ``with_point_cells``) —
    reusing it skips computing the base level through the cell UDF.
    """
    lon, lat = F.col("lon"), F.col("lat")
    cells = [
        F.col(cell_col) if cell_col is not None else hex_cell_udf(base_res)(lon, lat)
    ] + [hex_cell_udf(base_res + i)(lon, lat) for i in range(1, max_extra_levels + 1)]
    tmp = [f"_c{i}" for i in range(len(cells))]
    out = points.select("*", *[c.alias(n) for c, n in zip(cells, tmp)])
    hot, cell, res = F.lit(True), F.col("_c0"), F.lit(base_res)
    for i in range(1, len(cells)):
        # count(cell) skips NULL cells: a NULL cell is never hot
        prev = F.col(f"_c{i - 1}")
        n = F.count(F.when(hot, prev)).over(Window.partitionBy(prev))
        out = out.withColumn(f"_h{i}", hot & (n > hot_threshold))
        tmp.append(f"_h{i}")
        hot = F.col(f"_h{i}")
        cell = F.when(hot, F.col(f"_c{i}")).otherwise(cell)
        res = F.when(hot, F.lit(base_res + i)).otherwise(res)
    return out.withColumns({"cell_adaptive": cell, "cell_res": res}).drop(*tmp)
