"""CLI — the engine's equivalent of ``osm2shp <planet.osm> <base-path>``
(reference osm2shp.cc:10-24) + the ``mapgen.sh`` post-processing:

    python -m osm2shp_spark.cli <input> <output_dir> [--images]
        [--generalize] [--master local[32]]

``input`` is either a directory containing ``nodes.parquet`` and
``ways.parquet`` (the table shape of SURVEY §1.1 — either
tag-extracted ``tag_*`` columns or a raw ``tags MAP<STRING,STRING>``
which is adapted automatically, optionally ``images.parquet`` in the
input_hint schema), or — exactly like the reference binary — a raw
OSM file, which is first ingested to parquet under
``<output_dir>/ingested/``. A ``.pbf`` file is decoded blob-parallel
by Spark tasks (``sources.osmpbf.read_pbf_distributed``) and written
by Spark; a ``planet.osm`` / ``.osm.gz`` / ``.osm.bz2`` file streams
through the sequential XML reader (sources/osmxml.py). The ingested
row counts join the stdout summary as ``counts.ingested_nodes`` and
``counts.ingested_ways``. Output: layer-partitioned parquet per SURVEY
§2.1 O14-O16 + lineage manifest. The reference's hard-coded rule set
ships as the default.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="osm2shp_spark")
    ap.add_argument("input_dir", metavar="input",
                    help="table dir OR planet.osm(.gz|.bz2) file")
    ap.add_argument("output_dir")
    ap.add_argument("--images", action="store_true", help="also classify images.parquet")
    ap.add_argument("--generalize", action="store_true", help="run DP simplify + clean (mapgen.sh parity)")
    ap.add_argument("--shapefiles", action="store_true",
                    help="also export binary .shp/.shx/.dbf/.prj per layer (reference sink parity)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from osm2shp_spark import engine
    from osm2shp_spark.operators.classify import extract_tags
    from osm2shp_spark.session import get_spark

    raw_input = os.path.isfile(args.input_dir)
    if raw_input and args.images:
        # fail BEFORE the (possibly hours-long) ingest: an OSM file
        # carries no image table, so the unconditional images.parquet
        # read below would crash after it
        raise SystemExit(
            "--images requires a table directory input (an "
            "images.parquet alongside nodes/ways); a raw OSM file "
            "has no image table"
        )

    spark = get_spark(app_name="osm2shp_spark_cli", master=args.master)

    ingested = {}
    if raw_input:
        # raw OSM input file, exactly like the reference binary
        # (osm2shp.cc:13 accepts .osm(.gz|.bz2); PBF per osm2shp.cc:1)
        ingest_dir = os.path.join(args.output_dir, "ingested")
        if args.input_dir.endswith(".pbf"):
            from osm2shp_spark.sources.osmpbf import read_pbf_distributed

            # the row counts ride the writes: no rescan of the tables
            tables = read_pbf_distributed(spark, args.input_dir)
            for name, df in zip(("nodes", "ways"), tables):
                obs = Observation(f"ingested_{name}")
                observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
                observed.write.mode("overwrite").parquet(
                    os.path.join(ingest_dir, f"{name}.parquet")
                )
                ingested[f"ingested_{name}"] = int(obs.get["n"])
        else:
            from osm2shp_spark.sources.osmxml import convert_osm_to_parquet

            counts = convert_osm_to_parquet(args.input_dir, ingest_dir)
            ingested = {f"ingested_{name}": n for name, n in counts.items()}
        args.input_dir = ingest_dir

    def load(name: str):
        df = spark.read.parquet(os.path.join(args.input_dir, f"{name}.parquet"))
        if "tags" in df.columns:
            df = extract_tags(df)
        return df

    nodes = load("nodes")
    ways = load("ways")
    images = None
    if args.images:
        images = spark.read.parquet(os.path.join(args.input_dir, "images.parquet"))

    res = engine.run(spark, nodes, ways, args.output_dir, images=images)
    res.counts.update(ingested)

    if args.generalize:
        from osm2shp_spark.operators.generalize import generalize_ways
        from osm2shp_spark.sources.tables import write_partitioned

        assembled = spark.read.parquet(res.outputs["ways"])
        gen = generalize_ways(assembled)
        gen_out = os.path.join(args.output_dir, "ways_generalized")
        obs = Observation("gen_rows")
        write_partitioned(
            gen.observe(obs, F.count(F.lit(1)).alias("n")), gen_out, ["layer"]
        )
        res.outputs["ways_generalized"] = gen_out
        res.counts["generalized_ways"] = int(obs.get["n"])

    if args.shapefiles:
        from osm2shp_spark.sources.shapefile import export_shapefiles

        shp_dir = os.path.join(args.output_dir, "shapefiles")
        shp_counts = export_shapefiles(
            spark.read.parquet(res.outputs["points"]),
            spark.read.parquet(res.outputs["ways"]),
            shp_dir,
        )
        res.outputs["shapefiles"] = shp_dir
        res.counts["shapefile_records"] = sum(shp_counts.values())

    print(json.dumps({"snapshot_id": res.snapshot_id, "counts": res.counts, "outputs": res.outputs}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
