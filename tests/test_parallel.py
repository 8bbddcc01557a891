"""The one parallelism guard, ``ensure_min_parallelism``.

The driver parquet files carry ONE row group each, and a Parquet scan
cannot split below row-group granularity — so every expression fused
into such a scan runs in a single task. The guard spreads a narrow
scan round-robin to ``defaultParallelism`` partitions and must be the
identity on a scan that already splits that wide.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from osm2shp_spark.operators._parallel import ensure_min_parallelism


def _write(path: str, lo: int, hi: int) -> None:
    t = pa.table({"k": pa.array(range(lo, hi), type=pa.int64())})
    pq.write_table(t, path, row_group_size=hi - lo)


def test_single_rowgroup_scan_spreads_to_default_parallelism(spark, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "t.parquet")
    _write(path, 0, 10_000)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1 < cores
    out = ensure_min_parallelism(df)
    assert out.rdd.getNumPartitions() == cores
    assert sorted(r.k for r in out.collect()) == list(range(10_000))


def test_wide_scan_returned_unchanged(spark, tmp_path):
    # one file per core: each file costs its size plus the open cost,
    # which is exactly the split target, so every file is its own split
    cores = spark.sparkContext.defaultParallelism
    d = tmp_path / "wide.parquet"
    d.mkdir()
    for i in range(cores):
        _write(os.path.join(d, f"part-{i}.parquet"), i * 100, (i + 1) * 100)
    df = spark.read.parquet(str(d))
    assert df.rdd.getNumPartitions() == cores
    assert ensure_min_parallelism(df) is df
