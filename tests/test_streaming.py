"""Structured Streaming: stream/batch parity + query surface."""

from __future__ import annotations

from conftest import SF_SMALL
from parity import canon_rows

from osm2shp_spark import queries as Q
from osm2shp_spark.sources.tables import register_driver_tables
from osm2shp_spark.streaming.windows import (
    run_stream_over_parquet,
    windowed_agg_stream,
)


def test_stream_equals_batch(spark):
    register_driver_tables(spark, SF_SMALL)
    batch = windowed_agg_stream(spark.table("events")).toPandas()
    streamed = run_stream_over_parquet(
        spark, f"{SF_SMALL}/events.parquet", name="t_stream_out"
    ).toPandas()
    assert canon_rows(batch) == canon_rows(streamed)


def test_sessionize_invariants(spark):
    df = Q.q_events_sessionize(spark, SF_SMALL).toPandas()
    assert (df.session_start <= df.session_end).all()
    assert (df.n_events >= 1).all()
    # session ids start at 1 and are dense per user
    g = df.groupby("user_id").session_id
    assert (g.min() == 1).all()
    assert (g.max() == g.count()).all()


def test_stream_decode_equals_batch(spark):
    """Streaming image decode (availableNow) must equal the batch
    operator row-for-row — including the lossy dcx third."""
    import pandas as pd

    from osm2shp_spark.operators.images import decode_stats
    from osm2shp_spark.sources.fixtures import image_table
    from osm2shp_spark.streaming.images import stream_decode_stats

    got = (
        stream_decode_stats(spark, 60, name="t_img_stream")
        .toPandas().sort_values("image_id").reset_index(drop=True)
    )
    want = (
        decode_stats(image_table(spark, 60))
        .toPandas().sort_values("image_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns], want)
