"""Table I/O: driver parquet registration + Iceberg-shaped table layer.

The sandbox has no Iceberg runtime jar, so "Iceberg tables" are Parquet
directories plus a self-maintained manifest table (see
``osm2shp_spark.plans.manifest``) with Iceberg-like layout (partition
dirs, snapshot id, per-file row counts / digests). All table I/O goes
through this module so a real Iceberg catalog can be swapped in via
Spark conf (``spark.read.format("iceberg")``) without touching
operators.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Driver-provided relational tables (TESTDATA.md).
DRIVER_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table (swap point for a real Iceberg catalog)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


#: sf_dir whose views are CURRENTLY registered, per session — temp
#: views are session-GLOBAL name slots, so the memo must track what
#: the names point at right now (a seen-pairs set would skip the
#: re-registration needed after another sf_dir overwrote the views).
#: Every synthetic_* helper calls register_driver_tables, so without
#: this each gate query pays ~10 redundant parquet footer reads +
#: view creates.
_CURRENT_SF: dict[object, str] = {}


def register_driver_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register all driver parquet files as temp views (idempotent;
    skipped when this session's views already point at ``sf_dir``).

    Mirrors the DuckDB oracle environment, where the same names are
    pre-registered views — shared SQL text then runs on both engines.
    A missing driver table raises HERE with its name, not later as an
    unrelated TABLE_OR_VIEW_NOT_FOUND inside some query's analysis.
    """
    # applicationId is unique per context (a recycled Python object id
    # after a session restart is not); under Connect use the client's
    # stable session id rather than id(spark) — a GC'd session's
    # recycled object id could alias a new one (r6, ADVICE r5)
    try:
        sid = spark.sparkContext.applicationId
    except Exception:
        sid = getattr(
            getattr(spark, "client", None), "_session_id", None
        ) or id(spark)
    if _CURRENT_SF.get(sid) == sf_dir:
        # don't trust the memo unconditionally: a caller may have
        # dropped/replaced a temp view by name within the session —
        # one driver-side catalog probe validates it (r6, ADVICE r5)
        try:
            if spark.catalog.tableExists(DRIVER_TABLES[0]):
                return
        except Exception:
            pass
        _CURRENT_SF.pop(sid, None)
    for name in DRIVER_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            raise FileNotFoundError(f"driver table missing: {path}")
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _CURRENT_SF[sid] = sf_dir


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Layer-partitioned Parquet overwrite (the reference's
    one-file-per-layer sink, osm/shapefile.cc:9-13, as partition
    directories)."""
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)
