"""The benchmark's workloads: what one operation is, how its output is
checked, and which layer calls the traced run makes.

- ``classify_images``: one operation is one ``engine.run`` call with
  lineage on, over nodes, ways and image points derived from the
  generated tables, timed as the first call of a fresh session. Its output is checked against oracle counts that
  DuckDB and a NumPy ray cast compute from the same tables, and the
  lineage digests of every call must be identical.
- ``queries``: one operation is one gated query, materialized through a
  ``noop`` sink, in a seeded order per round. Each query's first
  (warm-up) result is compared with its DuckDB oracle; a golden-pinned
  query, whose oracle holds only for the sf0.01 test fixture, must
  instead repeat its exact output digest.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from osm2shp_spark import engine
from osm2shp_spark import queries as Q
from osm2shp_spark.functions.udfs import (
    with_geometry_meta,
    with_point_cells,
    with_way_cells,
)
from osm2shp_spark.operators.assemble import assemble_ways, assemble_ways_auto
from osm2shp_spark.operators.classify import classify_nodes
from osm2shp_spark.operators.dedup import (
    exact_dup_groups,
    jaccard_pairs_blocked,
    minhash_near_dups,
    simhash_near_dups,
)
from osm2shp_spark.operators.images import decode_stats
from osm2shp_spark.operators.polylines import build_polylines
from osm2shp_spark.operators.similarity import cosine_topk, embedding_near_dups
from osm2shp_spark.operators.skew import adaptive_cells
from osm2shp_spark.operators.spatial import (
    knn_join_adaptive,
    knn_join_auto,
    knn_join_broadcast,
    pip_join,
    pip_join_s2,
    tile_vector_stats,
)
from osm2shp_spark.plans.manifest import Manifest, partition_lineage
from osm2shp_spark.sources.fixtures import image_table, images_count_for_sf
from osm2shp_spark.sources.synthetic import (
    IMAGES_SQL,
    NODES_SQL,
    synthetic_images,
    synthetic_nodes,
    synthetic_rects,
    synthetic_ways,
    ways_sql,
)
from osm2shp_spark.sources.tables import register_driver_tables, write_partitioned

from host import cores
from layertrace import Tracer

#: ``engine.run``'s own cell defaults, repeated for the traced layer calls
S2_LEVEL = 12
HEX_RES = (7, 8, 9, 10, 11, 12)
HOT_THRESHOLD = 1000

#: the timed query loop and the input tables each query reads. The
#: traced run also calls the functions of the gate queries left out of
#: the loop to fit the time budget: ``pip_join_s2`` (pip_rect_s2), the
#: broadcast and adaptive kNN paths (knn_places_strategies) and
#: ``simhash_near_dups``.
QUERIES = {
    "way_assembly": ("part", "region", "lineitem"),
    "node_export": ("part", "region"),
    "pip_rect": ("orders", "nation"),
    "knn_places": ("orders", "part", "region"),
    "tile_vector_join": ("orders", "part", "region"),
    "polylines": ("part", "region", "lineitem"),
    "minhash_near_dups": ("documents",),
    "exact_dedup": ("documents",),
    "jaccard_pairs": ("documents",),
    "ann_cosine_topk": ("embeddings",),
    "embedding_near_dups": ("embeddings",),
    "image_decode_stats": ("image_fixture",),
}


def materialize(df: DataFrame) -> int:
    """Run ``df`` to completion through a ``noop`` sink; return its rows."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["n"])


def _cached(df: DataFrame) -> DataFrame:
    df = df.persist()
    df.count()
    return df


# --------------------------------------------------------------------------
# order-insensitive value digests
# --------------------------------------------------------------------------

def _canon(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    if v is pd.NaT:
        return None
    return v


def canon_rows(pdf: pd.DataFrame) -> tuple[tuple[str, ...], list[tuple]]:
    cols = tuple(sorted(pdf.columns))
    rows = [
        tuple(_canon(v) for v in row)
        for row in pdf[list(cols)].itertuples(index=False, name=None)
    ]
    return cols, sorted(rows, key=repr)


def digest(pdf: pd.DataFrame) -> str:
    cols, rows = canon_rows(pdf)
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def same_values(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Row-order-insensitive exact equality (the oracle gate's rule)."""
    (ca, ra), (cb, rb) = canon_rows(a), canon_rows(b)
    return ca == cb and len(ra) == len(rb) and all(x == y for x, y in zip(ra, rb))


def duck(in_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet'")
    return con


# --------------------------------------------------------------------------
# classify_images: engine.run end to end
# --------------------------------------------------------------------------

def _pip_oracle_count(con: duckdb.DuckDBPyConnection) -> int:
    """(image, polygon) containment pairs by a NumPy ray cast over the
    oracle-assembled polygons, with the engine's documented boundary
    rules: closed rings are opened, axis-aligned 4-vertex rings take the
    strict-bbox test, every other ring the bbox cut plus the half-open
    even-odd crossing test; rings under three vertices hold nothing."""
    polys = con.execute(
        Q._geo_ctes() + "SELECT lons, lats FROM assembled WHERE kind = 'polygon'"
    ).fetchall()
    pts = con.execute(f"SELECT lon, lat FROM ({IMAGES_SQL})").fetchnumpy()
    px = np.asarray(pts["lon"], np.float64)
    py = np.asarray(pts["lat"], np.float64)
    hits = 0
    for lons, lats in polys:
        x = np.asarray(lons, np.float64)
        y = np.asarray(lats, np.float64)
        if len(x) >= 2 and x[0] == x[-1] and y[0] == y[-1]:
            x, y = x[:-1], y[:-1]
        if len(x) < 3:
            continue
        if len(x) == 4 and (
            (x[0] == x[1] and y[1] == y[2] and x[2] == x[3] and y[3] == y[0])
            or (y[0] == y[1] and x[1] == x[2] and y[2] == y[3] and x[3] == x[0])
        ):
            hits += int(np.count_nonzero(
                (px > x.min()) & (px < x.max()) & (py > y.min()) & (py < y.max())
            ))
            continue
        sel = (px >= x.min()) & (px <= x.max()) & (py >= y.min()) & (py <= y.max())
        cx, cy = px[sel], py[sel]
        inside = np.zeros(len(cx), bool)
        x2, y2 = np.roll(x, -1), np.roll(y, -1)
        with np.errstate(divide="ignore", invalid="ignore"):
            for i in range(len(x)):
                cond = (y[i] > cy) != (y2[i] > cy)
                xi = x[i] + (cy - y[i]) / (y2[i] - y[i]) * (x2[i] - x[i])
                inside ^= cond & (cx < xi)
        hits += int(np.count_nonzero(inside))
    return hits


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def _lineage_digest(out_dir: str) -> str:
    """Snapshot-independent digest of the run's lineage manifest: the
    per-partition row counts and content digests of every output."""
    t = pq.read_table(os.path.join(out_dir, "_manifest")).to_pandas()
    rows = sorted(zip(t["stage"], t["part_key"], t["row_count"], t["digest"]))
    return hashlib.sha256(repr(rows).encode()).hexdigest()


class ClassifyImages:
    name = "classify_images"
    sf = 0.001

    def __init__(self, spark: SparkSession, in_dir: str, work_dir: str, rng):
        self.spark, self.in_dir, self.work_dir, self.rng = spark, in_dir, work_dir, rng
        self.nodes = synthetic_nodes(spark, in_dir)
        self.ways = synthetic_ways(spark, in_dir)
        self.images = synthetic_images(spark, in_dir).select("image_id", "lon", "lat")
        # counted by DuckDB over the same derivations, so that set-up
        # starts no Spark job for them
        con = duck(in_dir)
        self.input_rows = {
            name: con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            for name, sql in (("nodes", NODES_SQL), ("ways", ways_sql("duckdb")),
                              ("images", IMAGES_SQL))
        }
        self.results: list[dict] = []
        self._n = 0

    def rounds(self):
        while True:
            yield ["engine.run"]

    def warm_up(self, names: list[str]) -> None:
        """None: the timed call is the first in a fresh session, as for
        a batch job, which pays its JVM and code-generation warm-up on
        every run."""

    def run_op(self, _name: str) -> dict:
        self._n += 1
        out = os.path.join(self.work_dir, f"out{self._n}")
        res = engine.run(self.spark, self.nodes, self.ways, out, images=self.images)
        return {"out": out, "counts": dict(res.counts)}

    def after_op(self, _name: str, result: dict) -> None:
        out = result["out"]
        rows = sum(result["counts"].values())
        self.results.append({
            "counts": result["counts"],
            "digest": _lineage_digest(out),
            "bytes": _dir_bytes(out),
            "rows": rows,
        })
        shutil.rmtree(out, ignore_errors=True)

    def round_input_rows(self) -> int:
        return sum(self.input_rows.values())

    def check(self) -> list[str]:
        con = duck(self.in_dir)
        want = {
            "exported_ways": con.execute(
                f"SELECT count(*) FROM ({Q.REGISTRY['way_assembly'][1]})"
            ).fetchone()[0],
            "exported_nodes": con.execute(
                f"SELECT count(*) FROM ({Q.REGISTRY['node_export'][1]})"
            ).fetchone()[0],
            "classified_images": _pip_oracle_count(con),
        }
        bad = []
        for i, r in enumerate(self.results):
            if r["counts"] != want:
                bad.append(f"engine.run #{i}: counts {r['counts']} != oracle {want}")
        if len({r["digest"] for r in self.results}) > 1:
            bad.append("engine.run: lineage digests differ between calls")
        return bad

    def detail(self) -> dict:
        r = self.results[-1]
        return {
            "input_rows": self.input_rows,
            "exported_rows": r["counts"],
            "bytes_written_per_row": {"value": r["bytes"] / r["rows"], "unit": "B"},
        }

    # ---- traced layer calls -------------------------------------------
    def trace(self, tr: Tracer) -> None:
        spark = self.spark
        nodes, ways, images = (_cached(d) for d in (self.nodes, self.ways, self.images))
        with tr.span("operators.assemble"):
            assembled = assemble_ways_auto(nodes, ways)
            tr.rows_out["operators.assemble"] += materialize(assembled)
        assembled = _cached(assembled)
        with tr.span("functions.udfs.geometry_meta"):
            geom = with_geometry_meta(assembled)
            tr.rows_out["functions.udfs.geometry_meta"] += materialize(geom)
        geom = _cached(geom)
        with tr.span("functions.udfs.way_cells"):
            ways_out = with_way_cells(geom, s2_level=S2_LEVEL, hex_resolutions=HEX_RES)
            tr.rows_out["functions.udfs.way_cells"] += materialize(ways_out)
        ways_out = _cached(ways_out)
        with tr.span("operators.classify"):
            points = classify_nodes(nodes)
            tr.rows_out["operators.classify"] += materialize(points)
        points = _cached(points)
        with tr.span("functions.udfs.point_cells"):
            points_out = with_point_cells(points, s2_level=S2_LEVEL, hex_resolutions=HEX_RES)
            indexed = with_point_cells(images, s2_level=S2_LEVEL, hex_resolutions=HEX_RES)
            tr.rows_out["functions.udfs.point_cells"] += (
                materialize(points_out) + materialize(indexed)
            )
        points_out, indexed = _cached(points_out), _cached(indexed)
        with tr.span("operators.skew"):
            adapted = adaptive_cells(
                indexed, base_res=HEX_RES[2], hot_threshold=HOT_THRESHOLD,
                cell_col=f"hex_r{HEX_RES[2]}",
            )
            tr.rows_out["operators.skew"] += materialize(adapted)
        adapted = _cached(adapted)

        out = os.path.join(self.work_dir, "traced")
        paths = {s: os.path.join(out, s) for s in ("ways", "points", "images_classified")}
        with tr.span("sources.tables"):
            write_partitioned(ways_out, paths["ways"], ["layer"])
            write_partitioned(points_out, paths["points"], ["layer"])
        tr.rows_out["sources.tables"] += ways_out.count() + points_out.count()
        polys = _cached(
            spark.read.schema(ways_out.schema).parquet(paths["ways"])
            .filter(F.col("kind") == "polygon")
            .select(F.col("way_id").alias("poly_id"), "layer", "lons", "lats")
        )
        with tr.span("operators.spatial.pip"):
            classified = pip_join(adapted, polys, tuple(adapted.columns), ("poly_id", "layer"))
            hits = materialize(classified)
            tr.rows_out["operators.spatial.pip"] += hits
        tr.extra["operators.spatial.pip.candidates_per_hit"] = (
            _bbox_candidates(adapted, polys) / hits if hits else 0.0
        )
        classified = _cached(classified)
        with tr.span("sources.tables"):
            write_partitioned(classified, paths["images_classified"], ["layer"])
        tr.rows_out["sources.tables"] += hits

        manifest = Manifest(spark, os.path.join(out, "_manifest"))
        schemas = {"ways": ways_out.schema, "points": points_out.schema,
                   "images_classified": classified.schema}
        with tr.span("plans.manifest"):
            for stage, path in paths.items():
                written = spark.read.schema(schemas[stage]).parquet(path)
                # the engine's digest partition key (engine._export_stage)
                written = written.withColumn(
                    "part_key",
                    F.xxhash64("layer")
                    + F.pmod(F.xxhash64(F.col(written.columns[0])), F.lit(256)),
                )
                manifest.append(partition_lineage(written, stage, "part_key", "traced"))
            tr.rows_out["plans.manifest"] += int(
                manifest.read().agg(F.count(F.lit(1))).collect()[0][0]
            )
        rows = tr.rows_out["sources.tables"]
        manifest_bytes = _dir_bytes(manifest.dir)
        tr.extra["sources.tables.bytes_per_row"] = (_dir_bytes(out) - manifest_bytes) / rows
        tr.extra["plans.manifest.bytes_per_row"] = manifest_bytes / rows
        for df in (nodes, ways, images, assembled, geom, ways_out, points,
                   points_out, indexed, adapted, polys, classified):
            df.unpersist()


def _bbox_candidates(points: DataFrame, polys: DataFrame) -> int:
    """(point, polygon) pairs whose polygon bbox holds the point — the
    candidates the PIP refine has to test."""
    boxes = polys.select(
        F.array_min("lons").alias("x0"), F.array_max("lons").alias("x1"),
        F.array_min("lats").alias("y0"), F.array_max("lats").alias("y1"),
    )
    return (
        points.select("lon", "lat")
        .join(F.broadcast(boxes),
              (F.col("lon") >= F.col("x0")) & (F.col("lon") <= F.col("x1"))
              & (F.col("lat") >= F.col("y0")) & (F.col("lat") <= F.col("y1")))
        .count()
    )


# --------------------------------------------------------------------------
# queries: the gated spatial and curation query loop
# --------------------------------------------------------------------------

class Queries:
    name = "queries"
    sf = 0.001

    def __init__(self, spark: SparkSession, in_dir: str, work_dir: str, rng):
        self.spark, self.in_dir, self.work_dir, self.rng = spark, in_dir, work_dir, rng
        self.fns = {q: Q.REGISTRY[q][0] for q in QUERIES}
        self.first: dict[str, pd.DataFrame] = {}
        rows = {
            t: pq.read_metadata(os.path.join(in_dir, f"{t}.parquet")).num_rows
            for t in ("part", "region", "lineitem", "orders", "nation",
                      "documents", "embeddings")
        }
        rows["image_fixture"] = images_count_for_sf(in_dir)
        self.input_rows = {q: sum(rows[t] for t in QUERIES[q]) for q in QUERIES}

    def rounds(self):
        while True:
            names = list(QUERIES)
            yield [names[i] for i in self.rng.permutation(len(names))]

    def warm_up(self, names: list[str]) -> None:
        """First execution of every query, collected for the output
        checks. Run concurrently: first executions are dominated by
        driver-side planning and code generation, which one query at a
        time leaves the cores idle for."""
        def collect(name: str) -> None:
            self.first[name] = self.fns[name](self.spark, self.in_dir).toPandas()

        with ThreadPoolExecutor(max_workers=cores()) as pool:
            for f in [pool.submit(collect, n) for n in names]:
                f.result()

    def run_op(self, name: str) -> None:
        self.fns[name](self.spark, self.in_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    def after_op(self, _name: str, _result) -> None:
        return None

    def round_input_rows(self) -> int:
        return sum(self.input_rows.values())

    def check(self) -> list[str]:
        """Every query's verdict, several at a time: the checks come after
        the timed loop, so running them side by side only shortens the run."""
        con = duck(self.in_dir)

        def verdict(q: str) -> str | None:
            oracle = Q.REGISTRY[q][1]
            if isinstance(oracle, str):
                # one cursor per thread: a DuckDB connection is not shared
                if same_values(self.first[q], con.cursor().execute(oracle).df()):
                    return None
                return f"{q}: result differs from its DuckDB oracle"
            again = self.fns[q](self.spark, self.in_dir).toPandas()
            if digest(again) == digest(self.first[q]):
                return None
            return f"{q}: output digest differs between executions"

        with ThreadPoolExecutor(max_workers=cores()) as pool:
            return [v for v in pool.map(verdict, QUERIES) if v]

    def detail(self) -> dict:
        return {"input_rows_per_query": self.input_rows}

    # ---- traced layer calls -------------------------------------------
    def trace(self, tr: Tracer) -> None:
        spark, d = self.spark, self.in_dir
        nodes = _cached(synthetic_nodes(spark, d))
        ways = _cached(synthetic_ways(spark, d))
        images = _cached(synthetic_images(spark, d).select("image_id", "lon", "lat"))
        rects = _cached(synthetic_rects(spark, d).select(
            "rect_id", "layer",
            F.array("lon_min", "lon_max", "lon_max", "lon_min", "lon_min").alias("lons"),
            F.array("lat_min", "lat_min", "lat_max", "lat_max", "lat_min").alias("lats"),
        ))
        places = _cached(classify_nodes(nodes).select("node_id", "lon", "lat"))
        segments = _cached(assemble_ways(nodes, ways, defer_filters=True))
        register_driver_tables(spark, d)
        docs_aug = _cached(spark.sql(Q.DOCS_AUG_SQL))
        docs = _cached(spark.sql(Q.DOCS_PLAIN_SQL))
        emb = _cached(spark.table("embeddings"))
        emb_aug = _cached(spark.sql(Q._emb_aug_sql("spark")))
        fixture = _cached(image_table(spark, images_count_for_sf(d)))

        calls = {
            "operators.assemble": [lambda: assemble_ways_auto(nodes, ways)],
            "operators.classify": [lambda: classify_nodes(nodes)],
            "operators.spatial.pip": [
                lambda: pip_join(images, rects, ("image_id",), ("rect_id", "layer")),
                lambda: pip_join_s2(images, rects, ("image_id",), ("rect_id", "layer")),
            ],
            "operators.spatial.knn": [
                lambda: knn_join_auto(images, places, k=3),
                lambda: knn_join_broadcast(images, places, k=3),
                lambda: knn_join_adaptive(images, places, k=3, hot_threshold=50),
            ],
            "operators.spatial.tile": [lambda: tile_vector_stats(images, places)],
            "operators.polylines": [lambda: build_polylines(segments)],
            "operators.dedup": [
                lambda: minhash_near_dups(docs_aug, threshold=0.5),
                lambda: simhash_near_dups(docs_aug, max_hamming=3),
                lambda: exact_dup_groups(docs_aug),
                lambda: jaccard_pairs_blocked(docs, threshold=0.9),
            ],
            "operators.similarity": [
                lambda: cosine_topk(emb, emb.filter("vec_id % 50 = 0"), k=5),
                lambda: embedding_near_dups(emb_aug, threshold=0.9),
            ],
            "operators.images": [lambda: decode_stats(fixture)],
        }
        for layer, makers in calls.items():
            # building the DataFrame inside the span keeps a selector's
            # driver pre-passes in the layer's time and job count
            with tr.span(layer):
                for make in makers:
                    tr.rows_out[layer] += materialize(make())
        hits = materialize(pip_join(images, rects, ("image_id",), ("rect_id", "layer")))
        tr.extra["operators.spatial.pip.candidates_per_hit"] = (
            _bbox_candidates(images, rects) / hits if hits else 0.0
        )
        for df in (nodes, ways, images, rects, places, segments, docs_aug, docs,
                   emb, emb_aug, fixture):
            df.unpersist()


WORKLOADS = {w.name: w for w in (ClassifyImages, Queries)}
