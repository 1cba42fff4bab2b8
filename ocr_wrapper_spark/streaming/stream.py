"""Watermarked windowed aggregation over a file-source stream of the
events table (late-data handling for crawl telemetry).

The reference is strictly batch (SURVEY.md §1.3) — its "resume" is the
cache + checkpoint table. The streaming extraction itself is the
registered ``pipeline_streaming_extract`` (the same fused operator over a
readStream); this module holds the event-window rollup shared by
``streaming_window_counts`` (tumbling) and ``streaming_sliding_windows``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def streaming_event_counts(spark: SparkSession, events_dir: str, window: Column) -> DataFrame:
    """Watermarked aggregation (late data tolerated 1 h) per (window,
    event_type), where ``window`` is the caller's ``F.window`` over
    ``ts``: one hour tumbling, or 10-minute windows every 5 minutes, so
    each event lands in two overlapping windows (the rate-monitor shape
    that a tumbling window cannot express). Returns the streaming
    DataFrame; caller attaches a sink."""
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    # watermarks require TIMESTAMP (ltz); events parquet is ntz — session
    # TZ is pinned UTC so the cast is deterministic
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(window, "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # integer-cents sum: order-independent across micro-batches
            # and engines (see relational.money_sum)
            (F.sum(F.round(F.col("value") * 100, 0).cast("long")) / 100.0).alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
