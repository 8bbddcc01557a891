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

- The general path is pure Catalyst: the ref→node join shuffles on
  ``ref`` (sort-merge at scale; AQE flips to broadcast when the staged
  node projection fits under the threshold) and the reassembly
  shuffles on ``way_id``. Map-side partial ``collect_list`` runs
  before the second shuffle. Two opt-in exchange diets
  (``compact_pos``, ``quantized`` — see :func:`assemble_ways`) cut the
  bytes through both shuffles; the default stage already measures
  within 2% of the raw ``repartition(way_id)`` floor on this box
  (bench_experiments/assembly_bytediet.log), so the diets matter only
  where the exchange crosses a real network.
- ``assemble_ways_mapside`` is the zero-shuffle fast path for when the
  staged nodes fit in executor memory (broadcast dict of two numpy
  arrays): one ``mapInPandas`` pass does lookup + assembly in place,
  no explode, no shuffle at all. At 10^12-node scale use the general
  path; ``assemble_ways_auto`` never picks mapside (see its docstring).
- Mega-way skew (5k-20k refs): the exploded join keys are node refs
  (well distributed), so the join itself doesn't skew on way id; the
  reassembly groupBy can — AQE skew handling plus the two-stage salted
  variant in ``osm2shp_spark.operators.skew`` cover it.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2shp_spark.operators import _budget
from osm2shp_spark.operators.classify import classify_ways, staged_nodes

#: Output schema shared by both paths (parallel coord arrays mirror the
#: reference's double x[], y[] — SURVEY §1.2 — and are Arrow-friendly).
ASSEMBLED_SCHEMA = (
    "way_id BIGINT, layer STRING, kind STRING, n_pts INT, "
    "lons ARRAY<DOUBLE>, lats ARRAY<DOUBLE>"
)


def assemble_ways(
    nodes: DataFrame, ways: DataFrame, compact_pos: bool = False,
    quantized: bool = False, defer_filters: bool = False,
) -> DataFrame:
    """General (pure-Catalyst) assembly path.

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

    ``quantized`` packs (lon, lat) into ONE bigint through both
    exchanges — ``(lonI << 32) | (latI & 0xffffffff)`` with
    ``I = round(coord * 1e7)`` — decoded after the aggregate. One
    UnsafeRow slot instead of two on every post-join row, and 2-field
    structs instead of 3 in the partial collect_list buffers (the
    dominant exchange bytes). Measured at the scaling-stage shape
    (bench_experiments/assembly_bytediet.{py,log}, minima over 3 runs):
    NO local gain — the default operator already sits within 2% of the
    raw ``repartition(way_id)`` floor (3.26 s vs 3.19 s; packed 3.69 s)
    because this box's loopback exchange is memory-bus-bound, not
    wire-byte-bound. The ~25% buffer-byte cut is the relevant quantity
    only where the exchange crosses a real network (unmeasurable in
    this sandbox) — hence opt-in, never default. PRECONDITION:
    coordinates are PBF-decoded 1e-7-degree fixed point (granularity
    100 nanodegrees: coord == (I * 100) * 1e-9 exactly, the formula
    the decode replicates bit-for-bit — sources/osmpbf.py). XML-parsed
    coordinates do NOT qualify: Python's correctly-rounded decimal
    parse differs from the decode formula by 1 ulp on ~40% of
    1e-7-grid values (measured over 200k samples), which would perturb
    geometry digests and dedup keys. Arbitrary-precision inputs must
    keep the default.
    """
    from osm2shp_spark.rules import pair_kind_sql, pair_layer_sql, way_pair_idx_sql

    itype = "smallint" if compact_pos else "int"
    classified = classify_ways(ways, defer_filters=defer_filters)
    exploded = classified.select(
        F.col("id").alias("way_id"),
        F.expr(way_pair_idx_sql()).alias("_li"),
        F.col("n_refs").cast(itype).alias("n_refs"),
        F.posexplode("refs").alias("pos", "ref"),
    ).withColumn("pos", F.col("pos").cast(itype))
    build = staged_nodes(nodes)
    if quantized:
        build = build.select(
            "id",
            F.expr(
                "shiftleft(cast(round(lon * 1e7) as bigint), 32) | "
                "(cast(round(lat * 1e7) as bigint) & 4294967295)"
            ).alias("c"),
        )
        coord_cols, pt = ["c"], F.struct("pos", "c")
        # decode replicates the PBF formula bit-for-bit (sources/
        # osmpbf.py:215: 1e-9 * (granularity * value), granularity
        # 100): integer n*100 is exact in double (≤1.8e11 < 2^53),
        # then ONE multiply rounding — identical to ingest, so the
        # roundtrip reproduces PBF-decoded doubles exactly. Sign
        # extension via arithmetic shifts, not casts (ANSI-safe).
        lons = "transform(pts, p -> shiftright(p.c, 32) * 100L * 1e-9)"
        lats = (
            "transform(pts, p -> "
            "shiftright(shiftleft(p.c, 32), 32) * 100L * 1e-9)"
        )
    else:
        coord_cols, pt = ["lon", "lat"], F.struct("pos", "lon", "lat")
        lons, lats = "transform(pts, p -> p.lon)", "transform(pts, p -> p.lat)"
    joined = exploded.join(build, exploded.ref == build.id, "inner").select(
        "way_id", "_li", "n_refs", "pos", *coord_cols
    )
    return (
        joined.groupBy("way_id", "_li", "n_refs")
        .agg(
            F.count(F.lit(1)).alias("n_resolved"),
            F.array_sort(F.collect_list(pt)).alias("pts"),
        )
        .filter(F.col("n_resolved") == F.col("n_refs"))
        .select(
            "way_id",
            F.expr(pair_layer_sql("_li")).alias("layer"),
            F.expr(pair_kind_sql("_li")).alias("kind"),
            F.col("n_refs").cast("int").alias("n_pts"),
            F.expr(lons).alias("lons"),
            F.expr(lats).alias("lats"),
        )
    )


def assemble_ways_mapside(
    nodes: DataFrame,
    ways: DataFrame,
    defer_filters: bool = False,
) -> DataFrame:
    """Zero-shuffle fast path: broadcast node coords, assemble in place.

    Valid when the staged node projection fits in executor memory
    (id/lon/lat as three numpy arrays, 24 B/node). No explode, no join
    shuffle, no groupBy — each ways partition streams through one
    Arrow-batched ``mapInPandas``.

    One aggregate measures the payload bytes of
    :func:`~osm2shp_spark.operators.classify.staged_nodes` and guards
    the driver collect with the broadcast budget (:mod:`._budget`):
    above it this falls back to the general :func:`assemble_ways`
    (identical results) instead of OOMing the driver at 100x node
    scale.
    """
    staged = staged_nodes(nodes)
    if not _budget.fits_broadcast(staged):
        return assemble_ways(nodes, ways, defer_filters=defer_filters)
    spark = nodes.sparkSession
    build = staged.toPandas()
    if not len(build):
        # empty build side: no way can fully resolve (all-or-nothing),
        # and the searchsorted lookup below would index a zero-length
        # array; the general path returns the identical empty result
        return assemble_ways(nodes, ways, defer_filters=defer_filters)
    ids = build["id"].to_numpy(np.int64)
    order = np.argsort(ids, kind="stable")
    bc = spark.sparkContext.broadcast(
        (
            ids[order],
            build["lon"].to_numpy(np.float64)[order],
            build["lat"].to_numpy(np.float64)[order],
        )
    )

    classified = classify_ways(ways, defer_filters=defer_filters).select(
        F.col("id").alias("way_id"), "layer", "kind", "n_refs", "refs"
    )

    def assemble(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sorted_ids, lons, lats = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            refs_flat = np.concatenate(pdf["refs"].to_numpy())
            lens = pdf["refs"].str.len().to_numpy(np.int64)
            # vectorized lookup: searchsorted into the sorted id array
            idx = np.searchsorted(sorted_ids, refs_flat)
            idx_clipped = np.minimum(idx, len(sorted_ids) - 1)
            hit = sorted_ids[idx_clipped] == refs_flat
            # all-or-nothing per way (point_database.cc:104-109) —
            # one vectorized segment reduction, not a per-way Python
            # loop (lens >= 2 via the min-vertex rule, so no reduceat
            # segment is empty)
            bounds = np.concatenate(([0], np.cumsum(lens)))
            ok = np.logical_and.reduceat(hit, bounds[:-1])
            if not ok.any():
                continue
            way_lons = lons[idx_clipped]
            way_lats = lats[idx_clipped]
            out = pdf.loc[ok, ["way_id", "layer", "kind"]].reset_index(drop=True)
            out["n_pts"] = lens[ok].astype(np.int32)
            keep = np.flatnonzero(ok)
            out["lons"] = [way_lons[bounds[i] : bounds[i + 1]] for i in keep]
            out["lats"] = [way_lats[bounds[i] : bounds[i + 1]] for i in keep]
            yield out[["way_id", "layer", "kind", "n_pts", "lons", "lats"]]

    return classified.mapInPandas(assemble, schema=ASSEMBLED_SCHEMA)


MEGA_WAY_THRESHOLD = 50_000  # refs per way before the salted path


def assemble_ways_auto(
    nodes: DataFrame,
    ways: DataFrame,
    mega_threshold: int = MEGA_WAY_THRESHOLD,
    quantized: bool = False,
    defer_filters: bool = False,
) -> DataFrame:
    """Strategy selector for the flagship join — the size-estimate
    promise of the module docstring, wired into the hot path:

    - any mega-way above ``mega_threshold`` refs → salted two-stage
      assembly (bounded reducer keys, skew-proof);
    - otherwise → the pure-Catalyst general path. The zero-shuffle
      :func:`assemble_ways_mapside` is not auto-selected: on local[n]
      the shuffle is memory-speed and the broadcast build dominates
      (measured at sf0.1 on a 32-core host: general 3.7 s vs mapside
      5.9 s), so the selector keeps the Catalyst path that AQE keeps
      optimizing.

    The statistic costs one column-pruned ``max(size(refs))`` scan of
    the ways ref column (in production it comes from table-level stats
    — e.g. a maintained max column stat — so the pre-pass is free;
    here it is one cheap job, amortized over the much larger assembly).
    """
    max_refs = ways.agg(F.max(F.size("refs"))).collect()[0][0] or 0
    if max_refs >= mega_threshold:
        from osm2shp_spark.operators.skew import assemble_ways_salted

        return assemble_ways_salted(nodes, ways, defer_filters=defer_filters)
    # the max_refs stat just proved the smallint pos bound (the
    # compact_pos precondition) — the auto path always gets the slim
    # exchange when it is provably safe. ``quantized`` is
    # caller-asserted (PBF-decoded coords only — XML parses differ by
    # 1 ulp; see assemble_ways) — a data property no cheap stat can
    # prove, so it is never auto-enabled.
    return assemble_ways(
        nodes, ways, compact_pos=max_refs <= 32767, quantized=quantized,
        defer_filters=defer_filters,
    )


def assembly_counters(
    nodes: DataFrame, ways: DataFrame, assembled: DataFrame | None = None,
    defer_filters: bool = False,
) -> DataFrame:
    """O17 observability counters as one aggregate row (handler.cc:59-61,
    84-85,108-109 — upgraded from stderr prints to a queryable result).

    Columns: processed_ways, routed_ways (matched a layer, pre-join),
    exported_ways (survived resolution), dropped_unresolved.

    ``assembled``: pass the pipeline's already-materialized assembly
    output (e.g. read back from its written table) so the most
    expensive join in the engine is not re-executed from scratch for
    one integer. processed + routed come from ONE scan of the ways
    table (classification is a per-row expression, so counting rows
    and routed rows in the same aggregate is free).
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
    exported = (
        assemble_ways(nodes, ways, defer_filters=defer_filters)
        if assembled is None
        else assembled
    )
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
