"""The broadcast budget measures payload bytes, not rows: the per-row
byte sum is exact, and a wider schema moves a selector off its
broadcast path at the same row count."""

from __future__ import annotations

import numpy as np
import pytest

from osm2shp_spark.operators import _budget
from osm2shp_spark.operators.similarity import cosine_topk


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_payload_bytes_mixed_schema_with_nulls(spark, monkeypatch):
    df = spark.createDataFrame(
        [
            (1, 1.5, "ab", [1.0, 2.0, 3.0]),  # 8 + 8 + 2 + 3*4 = 30
            (None, None, None, None),  # fixed slots only: 8 + 8 = 16
            (3, 2.0, "ü", []),  # 8 + 8 + 2 (UTF-8) + 0 = 18
            (4, None, "xyz", [5.0]),  # 8 + 8 + 3 + 4 = 23
        ],
        "id bigint, x double, s string, v array<float>",
    )
    assert df.agg(_budget.payload_bytes_sum(df)).collect()[0][0] == 87
    assert df.limit(0).agg(_budget.payload_bytes_sum(df)).collect()[0][0] == 0
    monkeypatch.setattr(_budget, "BROADCAST_BUDGET_BYTES", 87)
    assert _budget.fits_broadcast(df)
    monkeypatch.setattr(_budget, "BROADCAST_BUDGET_BYTES", 86)
    assert not _budget.fits_broadcast(df)
    # a boolean is 1 byte; an array of fixed-width structs (the PIP edge
    # list) is size x the summed field widths: 4 x 1 + (3 + 0 + 1) x 8
    edges = df.selectExpr("true AS b", "arrays_zip(v, v) AS e")
    assert edges.agg(_budget.payload_bytes_sum(edges)).collect()[0][0] == 36
    with pytest.raises(TypeError, match="'flag'"):
        _budget.payload_bytes_sum(df.selectExpr("id", "map('k', 1) AS flag"))


def test_wide_probe_schema_falls_back_to_sql(spark, monkeypatch):
    """1,000 probes at dim 4 carry 24,000 B and at dim 256 1,032,000 B:
    with the budget between the two, the narrow probe set takes the
    numpy broadcast scorer and the wide one the SQL plan — and each
    path's rows equal the other path's bit for bit. The SQL path is
    taken because the probes failed the budget, so it does not
    broadcast them either: with the planner's own broadcast off, its
    plan has no BroadcastExchange."""
    rng = np.random.default_rng(7)

    def table(n, dim):
        vecs = rng.standard_normal((n, dim)).astype(np.float32)
        return spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )

    def rows(df):
        return (
            df.toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True)
        )

    for dim, numpy_at_mid in ((4, True), (256, False)):
        probes = table(1000, dim)
        corpus = probes.filter("vec_id < 40")
        monkeypatch.setattr(_budget, "BROADCAST_BUDGET_BYTES", 100_000)
        mid = cosine_topk(corpus, probes, k=3)
        monkeypatch.undo()
        # the other path: SQL at a zero budget, numpy at the default
        if numpy_at_mid:
            monkeypatch.setattr(_budget, "BROADCAST_BUDGET_BYTES", 0)
        other = cosine_topk(corpus, probes, k=3)
        monkeypatch.undo()
        assert ("MapInPandas" in _plan(mid)) == numpy_at_mid
        assert ("MapInPandas" in _plan(other)) != numpy_at_mid
        a, b = rows(mid), rows(other)
        assert len(a) == 3000
        assert a.equals(b)
        # a plan is fixed when first planned: build the SQL path anew
        monkeypatch.setattr(_budget, "BROADCAST_BUDGET_BYTES", 0)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            sql = cosine_topk(corpus, probes, k=3)
            assert "BroadcastExchange" not in _plan(sql)
            assert rows(sql).equals(a)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            monkeypatch.undo()


def test_pip_budget_measures_the_exploded_side(spark, monkeypatch):
    """pip_join's one budget check measures the side it broadcasts: one
    row per tile, each with the full edge list. Two sets of ten 4-vertex
    polygons carry the same vertex payload, but the 1-degree set
    explodes into 441 tiles per polygon and falls back to the shuffle
    join, while the 0.01-degree set stays broadcast."""
    from osm2shp_spark.operators.spatial import pip_join

    pts = spark.createDataFrame(
        [(i, 8.0 + 0.013 * i, 47.0 + 0.011 * i) for i in range(40)],
        "image_id long, lon double, lat double",
    )

    def squares(size):
        rows = []
        for i in range(10):
            x, y = 8.0 + 0.1 * i, 47.0 + 0.1 * i
            rows.append((i, [x, x + size, x + size, x], [y, y, y + size, y + size]))
        return spark.createDataFrame(
            rows, "poly_id long, lons array<double>, lats array<double>"
        )

    monkeypatch.setattr(_budget, "BROADCAST_BUDGET_BYTES", 100_000)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for size, broadcast in ((0.01, True), (1.0, False)):
            joined = pip_join(pts, squares(size), ("image_id",), ("poly_id",))
            assert ("BroadcastExchange" in _plan(joined)) == broadcast, size
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
