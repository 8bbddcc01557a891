"""Per-partition lineage manifest + resumability (N7).

The reference's ephemeral pid-scoped sqlite temp table
(osm/handler.cc:27, osm/point_database.cc:31-34) and mapgen.sh's
file-existence memoization (mapgen.sh:20-23) are upgraded to a durable
Iceberg-shaped manifest: one row per (snapshot_id, stage, part_key)
with row counts and content digests, appended transactionally-enough
(write-new-file-then-visible, like an Iceberg snapshot commit) under
``<manifest_dir>/``.

Resumability: a restart anti-joins its input partitions against the
manifest and processes only the missing ones; digests make partition
outputs content-addressed so a re-run is verifiable byte-for-byte.
In production the same module writes to a real Iceberg table via the
catalog (swap in sources.tables); the layout mirrors Iceberg manifests
(snapshot id, per-file counts/digests) so the swap is mechanical.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "snapshot_id STRING, stage STRING, part_key BIGINT, "
    "row_count BIGINT, digest STRING"
)


def partition_lineage(
    df: DataFrame, stage: str, part_col: str, snapshot_id: str | None = None
) -> DataFrame:
    """Compute (snapshot_id, stage, part_key, row_count, digest) per
    value of ``part_col``. Each row hashes map-side to the sha256 of its
    ``to_json`` form (binary as base64, doubles round-trip, ``-0.0`` and
    ``NaN`` kept, NULL fields omitted under the fixed schema); a part's
    digest is the sha256 of its sorted row hashes concatenated, so it is
    stable under partition/row reordering. One native aggregate, one
    shuffle on the partition key.
    """
    snapshot_id = snapshot_id or uuid.uuid4().hex
    row_h = F.sha2(F.to_json(F.struct(*[F.col(c) for c in df.columns])), 256)
    sorted_h = F.array_sort(F.collect_list("row_h"))
    per_part = (
        df.select(
            F.col(part_col).cast("bigint").alias("part_key"), row_h.alias("row_h")
        )
        .groupBy("part_key")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.sha2(F.concat_ws("", sorted_h), 256).alias("digest"),
        )
    )
    return per_part.select(
        F.lit(snapshot_id).alias("snapshot_id"),
        F.lit(stage).alias("stage"),
        "part_key",
        "row_count",
        "digest",
    )


class Manifest:
    """Append-only parquet manifest directory."""

    def __init__(self, spark: SparkSession, manifest_dir: str):
        self.spark = spark
        self.dir = manifest_dir

    def exists(self) -> bool:
        return os.path.isdir(self.dir) and any(
            f.endswith(".parquet") for _, _, fs in os.walk(self.dir) for f in fs
        )

    def read(self) -> DataFrame:
        if not self.exists():
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.parquet(self.dir)

    def append(self, lineage: DataFrame) -> None:
        lineage.write.mode("append").parquet(self.dir)

    def completed_keys(self, stage: str) -> DataFrame:
        return (
            self.read()
            .filter(F.col("stage") == stage)
            .select("part_key")
            .distinct()
        )

    def pending(self, df: DataFrame, stage: str, part_col: str) -> DataFrame:
        """Input rows whose partition key has no manifest entry yet."""
        done = self.completed_keys(stage).withColumnRenamed("part_key", part_col)
        return df.join(F.broadcast(done), part_col, "left_anti")


def run_stage_resumable(
    spark: SparkSession,
    inp: DataFrame,
    stage: str,
    part_col: str,
    transform,
    out_dir: str,
    manifest_dir: str,
) -> DataFrame:
    """Process only partitions not yet recorded; append data + lineage.

    ``transform(df) -> df`` must be partition-wise in ``part_col``
    (each output row keeps its input partition key). Returns the
    newly-written slice (empty when fully resumed).
    """
    m = Manifest(spark, manifest_dir)
    # Heal the append-then-record crash window: data lands in out_dir
    # BEFORE its manifest row, so a crash between the two leaves fully
    # written but unrecorded partitions (Spark's output committer
    # makes files visible only on job success, so visible == complete).
    # Without this, the resume would re-run those partitions and append
    # their rows a second time; instead, record their lineage from the
    # data already on disk and skip reprocessing.
    if os.path.isdir(out_dir) and any(
        f.endswith(".parquet") for f in os.listdir(out_dir)
    ):
        # Compare the DISTINCT partition keys on disk (a column-pruned
        # partial-agg scan: parquet reads only the key column's pages)
        # against the manifest, and read FULL rows only for the orphan
        # keys. The keys stay a frame: the broadcast semi join bounds
        # them by the broadcast, not by a driver list inlined in the
        # plan. When no key is orphaned (the common case) that one
        # key-only job is all the heal costs: no manifest file is added.
        done = m.completed_keys(stage).withColumnRenamed("part_key", part_col)
        on_disk = spark.read.parquet(out_dir)
        orphan_keys = (
            on_disk.select(part_col)
            .distinct()
            .join(F.broadcast(done), part_col, "left_anti")
        )
        if not orphan_keys.isEmpty():
            orphans = on_disk.join(F.broadcast(orphan_keys), part_col, "left_semi")
            m.append(partition_lineage(orphans, stage, part_col))
    todo = m.pending(inp, stage, part_col)
    if todo.isEmpty():
        return transform(todo)
    # the written keys ride the append itself: an observation reports
    # what landed on disk, so a transform that is not deterministic
    # across recomputations still records exactly the keys it wrote.
    # Partition keys are coarse units (thousands, not rows): the set
    # is the same scale the broadcast anti-join in pending() ships.
    obs = Observation(f"keys_{stage}")
    out = transform(todo).observe(obs, F.collect_set(part_col).alias("keys"))
    out.write.mode("append").parquet(out_dir)
    new_keys = obs.get["keys"]
    # Re-read the new slice from disk for both the lineage and the
    # return value: digests then cover the bytes actually persisted,
    # and the result survives the manifest append below — the
    # in-memory lineage would lazily re-evaluate pending() against the
    # UPDATED manifest on a later action and collapse to empty.
    written = spark.read.parquet(out_dir).filter(
        F.col(part_col).isin(new_keys)
    )
    if new_keys:
        m.append(partition_lineage(written, stage, part_col))
    return written
