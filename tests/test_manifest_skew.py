"""Lineage manifest resumability (kill/restart) + skew operator
equivalence tests."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL
from parity import canon_rows

from osm2shp_spark.functions import hexgrid
from osm2shp_spark.functions.udfs import hex_cell_udf
from osm2shp_spark.operators import skew
from osm2shp_spark.operators.assemble import assemble_ways
from osm2shp_spark.operators.skew import adaptive_cells, assemble_ways_salted
from osm2shp_spark.plans.manifest import Manifest, partition_lineage, run_stage_resumable
from osm2shp_spark.sources.synthetic import (
    synthetic_images,
    synthetic_nodes,
    synthetic_ways,
)


def test_salted_assembly_equivalent(spark, monkeypatch):
    nodes = synthetic_nodes(spark, SF_SMALL)
    ways = synthetic_ways(spark, SF_SMALL)
    a = assemble_ways(nodes, ways).toPandas()
    monkeypatch.setattr(skew, "DEFAULT_CHUNK", 3)  # tiny chunk → many salts
    b = assemble_ways_salted(nodes, ways).toPandas()
    assert canon_rows(a) == canon_rows(b)


def test_adaptive_cells_split_hot_only(spark):
    imgs = synthetic_images(spark, SF_SMALL)
    out = adaptive_cells(imgs, base_res=5, hot_threshold=50, max_extra_levels=2)
    pdf = out.toPandas()
    # hot cluster (lon ~8.5, lat ~47.5) should refine; sparse cells stay
    assert (pdf.cell_res > 5).any()
    assert (pdf.cell_res == 5).any()
    # no refined cell may still exceed the threshold at its final level
    # unless it exhausted max_extra_levels
    hist = pdf.groupby(["cell_adaptive", "cell_res"]).size()
    over = hist[hist > 50]
    assert all(res == 7 for (_, res) in over.index)


def test_adaptive_cells_gate_exercises_both_reindex_levels(spark):
    """The registered adaptive_cells gate query (sf0.01, base_res=7,
    threshold=20) must actually take the hot-cell re-index branch at
    BOTH extra levels — res 8 (first split) and res 9 (re-split of a
    still-hot cell) — otherwise the gate row only evidences the cold
    path."""
    from conftest import SF_MED

    from osm2shp_spark import queries as Q

    pdf = Q.q_adaptive_cells(spark, SF_MED).toPandas()
    assert set(pdf.cell_res.unique()) == {7, 8, 9}


def _adaptive_reference(lon, lat, base_res, threshold, levels):
    """The iterative histogram rule in NumPy: at each level, count the
    rows the previous level re-indexed per cell, and move the rows of
    cells holding more than ``threshold`` of them one resolution finer."""
    cell = hexgrid.hex_cell(lon, lat, base_res)
    res = np.full(len(cell), base_res)
    hot = np.ones(len(cell), bool)
    for i in range(1, levels + 1):
        _, inv, n = np.unique(cell[hot], return_inverse=True, return_counts=True)
        hot[hot] = n[inv] > threshold
        cell[hot] = hexgrid.hex_cell(lon[hot], lat[hot], base_res + i)
        res[hot] = base_res + i
    return cell, res


@pytest.mark.parametrize("cell_col,levels", [(None, 3), ("hex_r5", 3), (None, 0)])
def test_adaptive_cells_matches_numpy_reference(spark, cell_col, levels):
    imgs = synthetic_images(spark, SF_SMALL).select("img_key", "lon", "lat")
    if cell_col is not None:
        imgs = imgs.withColumn(cell_col, hex_cell_udf(5)(F.col("lon"), F.col("lat")))
    out = adaptive_cells(
        imgs, base_res=5, hot_threshold=50, max_extra_levels=levels,
        cell_col=cell_col,
    )
    assert out.columns == imgs.columns + ["cell_adaptive", "cell_res"]
    assert out.schema["cell_res"].dataType.simpleString() == "int"
    pdf = out.toPandas().sort_values("img_key")
    lon, lat = pdf.lon.to_numpy(), pdf.lat.to_numpy()
    cell, res = _adaptive_reference(lon, lat, 5, 50, levels)
    # the fixture's dense cluster stays hot down to the last level
    assert set(res) == set(range(5, 6 + levels))
    assert (pdf.cell_adaptive.to_numpy() == cell).all()
    assert (pdf.cell_res.to_numpy() == res).all()


def test_adaptive_cells_is_one_lazy_plan(spark):
    """Building adaptive_cells runs no job and caches nothing; its plan
    has no cache scan, union or broadcast, and one Arrow pass computes
    every level's cell."""
    imgs = synthetic_images(spark, SF_SMALL).select("img_key", "lon", "lat")
    sc = spark.sparkContext
    cache = spark._jsparkSession.sharedState().cacheManager()
    entries = cache.numCachedEntries()
    sc.setJobGroup("adaptive_cells_build", "build only")
    try:
        out = adaptive_cells(imgs, base_res=5, hot_threshold=50, max_extra_levels=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("adaptive_cells_build") == []
    assert cache.numCachedEntries() == entries
    out.collect()
    qe = out._jdf.queryExecution()
    final = qe.executedPlan().executedPlan().toString()
    plans = qe.optimizedPlan().toString() + final
    for node in ("InMemoryRelation", "InMemoryTableScan", "Union", "BroadcastExchange"):
        assert node not in plans
    assert final.count("ArrowEvalPython") == 1


def test_lineage_digest_order_insensitive(spark):
    df = synthetic_images(spark, SF_SMALL).select("img_key", "image_id", "lon", "lat")
    part = df.withColumn("part_key", F.col("img_key") % 7)
    a = partition_lineage(part, "s1", "part_key", snapshot_id="x").toPandas()
    b = partition_lineage(
        part.orderBy(F.rand(seed=3)).repartition(17), "s1", "part_key", snapshot_id="x"
    ).toPandas()
    ka = a.sort_values("part_key")[["part_key", "row_count", "digest"]]
    kb = b.sort_values("part_key")[["part_key", "row_count", "digest"]]
    assert ka.values.tolist() == kb.values.tolist()


def test_lineage_digest_sensitive_per_part(spark):
    """Each one-value edit changes its own part's digest and no other
    part's: a flipped binary byte, a changed array<bigint> element,
    empty vs NULL array, 0.0 vs -0.0."""
    schema = "part_key BIGINT, b BINARY, a ARRAY<BIGINT>, d DOUBLE"
    blob = bytearray(b"\x01\x02\x03")
    base = [
        (k, blob, [] if k == 3 else [k, 7, 9], 0.0 if k == 4 else 1.5)
        for k in range(5)
        for _ in range(3)
    ]
    # part -> its first row with one value changed
    edits = {
        1: (1, bytearray(b"\x01\x82\x03"), [1, 7, 9], 1.5),
        2: (2, blob, [2, 8, 9], 1.5),
        3: (3, blob, None, 1.5),
        4: (4, blob, [4, 7, 9], -0.0),
    }

    def digests(rows):
        lin = partition_lineage(
            spark.createDataFrame(rows, schema), "s", "part_key", snapshot_id="x"
        ).toPandas()
        return dict(zip(lin.part_key, zip(lin.row_count, lin.digest)))

    ref = digests(base)
    assert len(set(ref.values())) == 5
    for part, row in edits.items():
        i = next(j for j, r in enumerate(base) if r[0] == part)
        got = digests(base[:i] + [row] + base[i + 1 :])
        assert {k for k in ref if got[k] != ref[k]} == {part}
        assert got[part][0] == ref[part][0] == 3


def test_resume_skips_completed_partitions(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")
    df = (
        synthetic_images(spark, SF_SMALL)
        .select("img_key", "image_id", "lon", "lat")
        .withColumn("part_key", F.col("img_key") % 5)
    )

    def xform(d):
        return d.withColumn("lon2", F.col("lon") * 2)

    # first run: only partitions 0-2 (simulated partial run then crash)
    first = df.filter(F.col("part_key") <= 2)
    r1 = run_stage_resumable(spark, first, "double", "part_key", xform, out_dir, man_dir)
    assert r1.count() == first.count()

    # restart over the FULL input: only partitions 3-4 must process
    r2 = run_stage_resumable(spark, df, "double", "part_key", xform, out_dir, man_dir)
    got_keys = {r.part_key for r in r2.select("part_key").distinct().collect()}
    assert got_keys == {3, 4}

    # final output is complete and byte-identical to a clean one-shot run
    final = spark.read.parquet(out_dir)
    assert final.count() == df.count()
    clean = xform(df)
    assert canon_rows(final.toPandas()) == canon_rows(clean.toPandas())

    # third run: nothing pending
    m = Manifest(spark, man_dir)
    assert m.pending(df, "double", "part_key").count() == 0


def _keep_half_python():
    """A Python coin per row: unlike ``rand()``, whose seed is fixed
    when the plan is built, every evaluation keeps a different subset."""
    import random

    coin = F.udf(lambda: random.random() < 0.5, "boolean").asNondeterministic()
    return coin()


@pytest.mark.parametrize(
    "keep", [lambda: F.rand() < 0.5, _keep_half_python], ids=["rand", "python"]
)
def test_resume_records_what_a_random_transform_wrote(spark, tmp_path, keep):
    """A transform that filters at random, with nothing persisted
    between the write and the lineage: the manifest must record exactly
    the keys, row counts and digests that are on disk."""
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")
    # two rows per key: about a quarter of the keys lose both rows
    df = spark.range(800).withColumn("part_key", F.col("id") % 400)

    def xform(d):
        return d.filter(keep())

    r = run_stage_resumable(spark, df, "rand", "part_key", xform, out_dir, man_dir)
    on_disk = spark.read.parquet(out_dir)
    want = partition_lineage(on_disk, "rand", "part_key").toPandas()
    assert 0 < len(want) < 400
    got = Manifest(spark, man_dir).read().toPandas()
    cols = ["part_key", "row_count", "digest"]
    assert canon_rows(got[cols]) == canon_rows(want[cols])
    assert r.count() == on_disk.count() == want.row_count.sum()


def test_resume_heals_unrecorded_partitions_without_duplicates(spark, tmp_path):
    """Crash window between data append and manifest append: the data
    for a partition is fully committed but unrecorded. The resume must
    record its lineage from disk and NOT re-append its rows."""
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")
    df = (
        synthetic_images(spark, SF_SMALL)
        .select("img_key", "image_id", "lon", "lat")
        .withColumn("part_key", F.col("img_key") % 5)
    )

    def xform(d):
        return d.withColumn("lon2", F.col("lon") * 2)

    run_stage_resumable(spark, df, "heal", "part_key", xform, out_dir, man_dir)
    n = spark.read.parquet(out_dir).count()
    # simulate the crash window: data committed, manifest rows lost
    import shutil

    shutil.rmtree(man_dir)
    r2 = run_stage_resumable(spark, df, "heal", "part_key", xform, out_dir, man_dir)
    assert r2.count() == 0  # nothing reprocessed
    assert spark.read.parquet(out_dir).count() == n  # no duplicate rows
    m = Manifest(spark, man_dir)
    assert m.pending(df, "heal", "part_key").count() == 0  # manifest healed


def test_resume_heals_many_orphan_keys_without_key_list(spark, tmp_path, monkeypatch):
    """6,000 committed but unrecorded partition keys: the heal records
    every one from disk, re-appends no row, and its plan joins against
    the key frame instead of inlining a literal key list; once healed,
    a resume appends nothing."""
    import shutil

    from osm2shp_spark.plans import manifest as M

    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")
    df = (
        spark.range(12_000)
        .withColumn("part_key", F.col("id") % 6_000)
        .withColumn("v", F.col("id") * 2.5)
    )

    def xform(d):
        return d.withColumn("w", F.col("v") + 1)

    run_stage_resumable(spark, df, "many", "part_key", xform, out_dir, man_dir)
    shutil.rmtree(man_dir)

    appended = []
    append = M.Manifest.append

    def record(self, lineage):
        appended.append(lineage)
        append(self, lineage)

    monkeypatch.setattr(M.Manifest, "append", record)
    r2 = run_stage_resumable(spark, df, "many", "part_key", xform, out_dir, man_dir)
    assert r2.count() == 0
    assert spark.read.parquet(out_dir).count() == 12_000
    healed = Manifest(spark, man_dir).read().toPandas()
    assert len(healed) == healed.part_key.nunique() == 6_000
    assert (healed.row_count == 2).all()
    [heal] = appended
    plan = heal._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    # a literal list shows as a Filter INSET and a pushed In(part_key, [...])
    assert "INSET" not in plan and "In(part_key" not in plan

    appended.clear()
    run_stage_resumable(spark, df, "many", "part_key", xform, out_dir, man_dir)
    assert appended == []


def test_noop_resumes_add_no_manifest_files(spark, tmp_path):
    """A resume with nothing orphaned and nothing pending appends no
    manifest file: the heal writes only when some key is orphaned."""
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")
    df = (
        synthetic_images(spark, SF_SMALL)
        .select("img_key", "lon", "lat")
        .withColumn("part_key", F.col("img_key") % 5)
    )

    def manifest_files():
        return sorted(f for f in os.listdir(man_dir) if f.endswith(".parquet"))

    run_stage_resumable(spark, df, "noop", "part_key", lambda d: d, out_dir, man_dir)
    first = manifest_files()
    assert len(first) == 1
    for _ in range(2):
        r = run_stage_resumable(
            spark, df, "noop", "part_key", lambda d: d, out_dir, man_dir
        )
        assert r.count() == 0
    assert manifest_files() == first
    assert Manifest(spark, man_dir).read().count() == 5
