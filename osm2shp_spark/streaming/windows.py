"""Structured Streaming operators over the events stream.

The reference is single-pass streaming with an implicit ordering
contract (nodes precede ways in the dump; a way arriving early is
silently dropped — osm/point_database.cc:104-109). Our engine removes
that ordering dependency for the batch join, and this module covers
the *true* streaming surface: windowed aggregation with watermarked
late-data handling, plus a stateful sessionizer.

Batch/stream parity: the windowed aggregate is one function for both.
On a static table Spark drops the watermark, so the batch plan is the
plain window aggregate; the tests assert equality by running the
stream with ``availableNow`` over the same parquet — the standard
Spark pattern for exactly-once backfill.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)

WINDOW_MINUTES = 60
WATERMARK = "30 minutes"


def windowed_agg_stream(events: DataFrame) -> DataFrame:
    """Tumbling-window counts/sums per event_type with a 30-minute
    watermark (late rows beyond it are dropped, state is bounded). On
    a batch frame the watermark is a no-op: the same call is the batch
    operator.

    Value sums accumulate in DECIMAL and are quantized back to exact
    1e-6-multiple doubles — float partial-sum order depends on
    partitioning (and on the engine), DECIMAL addition doesn't, so
    batch, stream and the DuckDB oracle agree bitwise."""
    total = F.round(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double") * F.lit(1e6)
    ) / F.lit(1e6)
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(
            F.window("ts", f"{WINDOW_MINUTES} minutes").alias("win"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), total.alias("total_value"))
        .select(
            F.unix_timestamp("win.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def read_events_stream(spark: SparkSession, parquet_path: str) -> DataFrame:
    """``readStream`` over an events parquet directory — or a single
    file (the file source monitors a directory, so a file path becomes
    parent dir + pathGlobFilter). Shared by every parquet-backed
    stream driver so the path protocol cannot drift between them."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if os.path.isfile(parquet_path):
        reader = reader.option("pathGlobFilter", os.path.basename(parquet_path))
        parquet_path = os.path.dirname(parquet_path)
    return reader.parquet(parquet_path)


def run_to_memory_sink(
    stream: DataFrame,
    name: str,
    output_mode: str,
    available_now: bool = True,
) -> DataFrame:
    """Drive a streaming DataFrame to a memory sink and return the
    materialized table. ``available_now=True`` is the synchronous
    exactly-once backfill; ``False`` starts an unbounded query and
    uses processAllAvailable — the shape the stateful sessionizer
    needs so its event-time timeouts get the extra empty micro-batch
    availableNow would skip."""
    with tempfile.TemporaryDirectory() as ckpt:
        w = (
            stream.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(ckpt, "ck"))
        )
        if available_now:
            q = w.trigger(availableNow=True).start()
            q.awaitTermination()
        else:
            q = w.start()
            q.processAllAvailable()
            q.stop()
    return stream.sparkSession.table(name)


def stream_dedup_over_parquet(
    spark: SparkSession, parquet_path: str, name: str = "dedup_out"
) -> DataFrame:
    """Streaming exact dedup — the training-pipeline 'drop re-delivered
    records as they arrive' operator. The event stream is unioned with
    a duplicate substream (every 10th event re-delivered: the injected
    at-least-once-delivery fixture) and passed through
    ``dropDuplicatesWithinWatermark`` on the event key: state holds
    only keys younger than the watermark, so memory is bounded no
    matter how long the stream runs. Duplicate rows are bit-identical,
    so which physical copy survives is unobservable — the result is
    deterministic and equals the batch DISTINCT."""
    base = read_events_stream(spark, parquet_path)
    redelivered = base.filter(F.col("event_id") % 10 == 0)
    stream = (
        base.union(redelivered)
        .withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "value")
    )
    return run_to_memory_sink(stream, name, "append")


def run_stream_over_parquet(
    spark: SparkSession, parquet_path: str, name: str = "stream_out"
) -> DataFrame:
    """Drive the streaming query over a static parquet directory with
    availableNow + memory sink (synchronous, exactly-once backfill);
    returns the materialized result."""
    stream = read_events_stream(spark, parquet_path).transform(windowed_agg_stream)
    return run_to_memory_sink(stream, name, "complete")
