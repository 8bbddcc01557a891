"""Entity classification — kind typing + first-match layer routing.

Reimplements (Spark-first, as Catalyst expressions):

- O8  node layer routing   (reference osm/handler.cc:96-104)
- O9  area-vs-line typing  (reference osm/handler.cc:111,127-133)
- O10 min-vertex filter    (reference osm/handler.cc:112-113)
- O11 way layer routing    (reference osm/handler.cc:115-123)
- O3/O6 node filters       (reference osm/handler.cc:87-88,92-94)
- O14 name truncation      (reference osm/shapefile.cc:23, width 64)

All of it is a single ``CASE WHEN`` chain / boolean algebra — stays in
whole-stage codegen, no shuffle, no Python. Inputs are tag-extracted
columns (``tag_highway`` …); :func:`extract_tags` adapts the OSM
``tags MAP<STRING,STRING>`` shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2shp_spark.rules import (
    NAME_WIDTH,
    TAG_KEYS,
    min_vertex_sql,
    node_layer_sql,
    tag_col,
    way_kind_sql,
    way_layer_sql,
)


def extract_tags(df: DataFrame) -> DataFrame:
    """Flatten the ``tags`` map into ``tag_<key>`` columns (key lookups
    only — the reference never iterates tags, osm/handler.cc:16-24)."""
    cols = [F.col("tags").getItem(k).alias(tag_col(k)) for k in TAG_KEYS]
    return df.select("*", *cols)


def classify_ways(ways: DataFrame) -> DataFrame:
    """Add ``kind``/``n_refs``/``layer``, apply min-vertex + has-layer filters.

    Kind is decided BEFORE layer match and the vertex count is on raw
    refs (duplicates included) — both reference subtleties preserved.
    Returns only ways that route to a layer (the reference ``break``s
    on first match whether or not resolution later succeeds).

    The classification runs between two collapse barriers: tag columns
    are often derived expressions (``extract_tags`` map lookups, the
    synthetic fixture's CASE chains), and without a barrier the
    optimizer substitutes and pushes the filters below them, expanding
    each into a boolean tower evaluated once per base row in a
    single-task scan stage, and in deeper pipelines (polylines) past
    janino's 64 KB method limit.
    """
    from osm2shp_spark.operators._parallel import collapse_barrier

    # keep the way id outside the struct: it is the downstream
    # group/join key, and keeping it preserves partitioning reuse
    # (one fewer exchange in the assembly reduce stage)
    ways = collapse_barrier(ways, keep=("id",))
    out = (
        ways.withColumn("kind", F.expr(way_kind_sql()))
        .withColumn("n_refs", F.size("refs"))
        .filter(F.expr(min_vertex_sql("kind", "n_refs")))
        .withColumn("layer", F.expr(way_layer_sql("kind")))
        .filter(F.col("layer").isNotNull())
    )
    # barrier the OUTPUT too: kind/layer otherwise re-inline into
    # every downstream consumer (the pair-index coding, pushed kind
    # filters), and in deeper pipelines (polylines) the re-multiplied
    # towers are what crossed 64 KB
    return collapse_barrier(out, keep=("id",))


def staged_nodes(nodes: DataFrame) -> DataFrame:
    """The join build side: id>0 nodes, tags stripped (O3/O4/O5).

    Nodes stage regardless of name/layer (handler.cc:90 precedes the
    name check) — unnamed nodes still resolve way geometry. Catalyst
    column pruning keeps the parquet scan at 3 columns.
    """
    return nodes.filter(F.col("id") > 0).select("id", "lon", "lat")


def classify_nodes(nodes: DataFrame) -> DataFrame:
    """Exported point features: id>0, named, first-match point rule.

    Output: (node_id, layer, name [64-char truncated], lon, lat).
    """
    return (
        nodes.filter(F.col("id") > 0)
        .filter(F.col(tag_col("name")).isNotNull())
        .withColumn("layer", F.expr(node_layer_sql()))
        .filter(F.col("layer").isNotNull())
        .select(
            F.col("id").alias("node_id"),
            "layer",
            F.substring(tag_col("name"), 1, NAME_WIDTH).alias("name"),
            "lon",
            "lat",
        )
    )


def assert_unique_node_ids(nodes: DataFrame) -> int:
    """Data-quality gate replacing the reference's abort-on-duplicate
    (sqlite PRIMARY KEY violation, osm/point_database.cc:43-45).

    Returns the number of duplicated ids (0 = healthy).
    """
    return (
        nodes.filter(F.col("id") > 0)
        .groupBy("id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
