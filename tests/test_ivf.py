"""IVF ANN: determinism, nprobe=n_cells exactness, subset of the exact
ranking."""

from __future__ import annotations

from conftest import SF_SMALL
from parity import canon_rows

from osm2shp_spark import queries as Q
from osm2shp_spark.operators.similarity import cosine_topk, cosine_topk_ivf_flat
from osm2shp_spark.sources.tables import register_driver_tables


def test_ivf_full_probe_equals_exact(spark):
    register_driver_tables(spark, SF_SMALL)
    emb = spark.table("embeddings")
    probes = emb.filter("vec_id % 50 = 0")
    exact = cosine_topk(emb, probes, k=5).toPandas()
    full = cosine_topk_ivf_flat(emb, probes, k=5, n_cells=8, nprobe=8).toPandas()
    assert canon_rows(exact) == canon_rows(full)


def test_ivf_deterministic(spark):
    a = Q.q_ann_cosine_ivf(spark, SF_SMALL).toPandas()
    b = Q.q_ann_cosine_ivf(spark, SF_SMALL).toPandas()
    assert canon_rows(a) == canon_rows(b)


def test_ivf_results_subset_of_exact_ranking(spark):
    register_driver_tables(spark, SF_SMALL)
    emb = spark.table("embeddings")
    probes = emb.filter("vec_id % 50 = 0")
    exact = cosine_topk(emb, probes, k=1000).toPandas()
    approx = Q.q_ann_cosine_ivf(spark, SF_SMALL).toPandas()
    exact_map = {
        (int(r.probe_id), int(r.neighbor_id)): r.cosine for _, r in exact.iterrows()
    }
    for _, r in approx.iterrows():
        assert (int(r.probe_id), int(r.neighbor_id)) in exact_map
