"""Per-partition lineage + metrics table (north_rule; SURVEY.md §2.11).

Rows: (run_id, bucket, status, n_docs, n_errors, n_cache_hits, wall_ms).
``bucket`` is the url-hash lineage unit — stable across runs and cluster
sizes (unlike physical partition ids), so a restarted job can anti-join
completed buckets regardless of parallelism. Append-only parquet
snapshots, same pattern as the cache table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import METRICS_SCHEMA
from .cache import append_snapshot, read_snapshots

STATUS_DONE = "done"


def read_metrics(spark: SparkSession, path: str | None) -> DataFrame:
    df = read_snapshots(spark, path, METRICS_SCHEMA)
    return df if df is not None else spark.createDataFrame([], METRICS_SCHEMA)


def append_metrics(df: DataFrame, path: str) -> None:
    append_snapshot(df, path, METRICS_SCHEMA)


def completed_buckets(spark: SparkSession, path: str | None, run_id: str) -> DataFrame:
    """Buckets already finished for this run_id (resume-from-failure)."""
    m = read_metrics(spark, path)
    return (
        m.filter((F.col("run_id") == run_id) & (F.col("status") == STATUS_DONE))
        .select("bucket")
        .distinct()
    )
