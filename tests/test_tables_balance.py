"""Scan balancing at driver-table registration (r6).

The driver parquet files carry ONE row group each, and a Parquet scan
cannot split below row-group granularity — so without help every
expression/partial-aggregate fused into a scan stage runs in a single
task. ``_balance_scan`` adds a round-robin repartition to
defaultParallelism for fact-sized tables and must be the identity for
dimension-sized ones and for scans that already split wide enough.
"""

from __future__ import annotations

import os

import pytest

from osm2shp_spark.sources import tables
from osm2shp_spark.sources.tables import _balance_scan


def _write_single_rowgroup(tmp_path, rows: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(tmp_path, "t.parquet")
    t = pa.table(
        {
            "k": pa.array(range(rows), type=pa.int64()),
            # per-row-unique strings defeat dictionary encoding so the
            # file crosses MIN_BALANCE_BYTES at modest row counts
            "v": pa.array([f"value-{i:08d}" * 4 for i in range(rows)]),
        }
    )
    pq.write_table(t, path, row_group_size=rows, compression="none")
    return path


def test_fact_table_balances_to_default_parallelism(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "MIN_BALANCE_BYTES", 1024)
    path = _write_single_rowgroup(str(tmp_path), 120_000)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = _balance_scan(df, path)
    assert (
        out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    )
    # same rows, order-insensitive
    assert out.count() == 120_000
    assert out.exceptAll(df).count() == 0 and df.exceptAll(out).count() == 0


def test_dimension_table_left_alone(spark, tmp_path):
    path = _write_single_rowgroup(str(tmp_path), 100)
    df = spark.read.parquet(path)
    out = _balance_scan(df, path)  # default threshold: identity
    assert out is df  # identity — no exchange added


def test_wide_scan_left_alone(spark, tmp_path, monkeypatch):
    # a scan that already yields >= defaultParallelism splits must not
    # pay an extra exchange (the 100 TB layout: many files/row groups)
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(str(tmp_path), "wide.parquet")
    os.makedirs(d)
    rows = 40_000
    per = rows // 8
    for i in range(8):
        t = pa.table(
            {
                "k": pa.array(range(i * per, (i + 1) * per), type=pa.int64()),
                "v": pa.array(["x" * 200] * per),
            }
        )
        pq.write_table(t, os.path.join(d, f"part-{i}.parquet"))
    df = spark.read.parquet(d)
    if df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        pytest.skip("layout did not produce enough splits on this box")
    monkeypatch.setattr(tables, "MIN_BALANCE_BYTES", 1024)
    out = _balance_scan(df, d)
    assert out is df
