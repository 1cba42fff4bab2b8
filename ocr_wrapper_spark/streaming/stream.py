"""Streaming extraction: the same fused Arrow extraction operator over a
file-source stream of page batches.

The reference is strictly batch (SURVEY.md §1.3) — its "resume" is the
cache + checkpoint table. A crawl pipeline, however, naturally receives
WARC drops incrementally; this module shows the identical operator chain
under Structured Streaming with exactly-once file-sink semantics:

    readStream(pages dir) -> with_extraction -> writeStream(parquet,
    checkpointLocation=...)

plus a watermarked windowed aggregation over the events table (late-data
handling for crawl telemetry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import with_extraction
from ..schema import PAGES_SCHEMA


def stream_extraction(
    spark: SparkSession,
    pages_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
):
    """Returns the started StreamingQuery. Caller drives it
    (processAllAvailable for tests, awaitTermination in production)."""
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )
    result = with_extraction(stream)  # payload dropped by the operator
    return (
        result.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def streaming_session_windows(spark: SparkSession, events_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute gap (session_window):
    the streaming twin of the batch sessionize_events query."""
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


def streaming_event_window_counts(spark: SparkSession, events_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation (late data tolerated 1 h):
    the Structured Streaming shape for crawl-telemetry rollups. Returns
    the streaming DataFrame; caller attaches a sink."""
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    # watermarks require TIMESTAMP (ltz); events parquet is ntz — session
    # TZ is pinned UTC so the cast is deterministic
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
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


def streaming_event_sliding_counts(spark: SparkSession, events_dir: str) -> DataFrame:
    """Watermarked SLIDING-window aggregation (10-minute windows every
    5 minutes): each event lands in exactly two overlapping windows —
    the rate-monitor shape (requests per trailing 10 min, refreshed
    every 5) that a tumbling window cannot express. Same watermark /
    sink discipline as the tumbling variant; returns the streaming
    DataFrame, caller attaches a sink."""
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.round(F.col("value") * 100, 0).cast("long")) / 100.0).alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
