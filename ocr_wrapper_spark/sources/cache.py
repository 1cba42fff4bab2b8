"""Content-hash result cache — the Iceberg-style analogue of the
reference's shelve cache (ocr_wrapper.py:319-342, google_azure_ocr.py:260-281;
SURVEY.md §2.9 K1).

Semantics adopted from the GoogleAzure variant: the cache stores the
*final* extraction result, so hits skip all post-processing. Key is
``sha2(html, 256)`` computed JVM-side (no Python hashing of blobs).

Storage is an append-only parquet directory (each append writes a new
snapshot subdir, mirroring Iceberg's append-file semantics without the
catalog; on a real cluster this maps 1:1 onto
``df.writeTo(tbl).append()``). Appends are not deduped: a run appends
one row per missed url, so content shared by two urls of one crawl is
stored twice, and concurrent runs can append the same hash. Reads dedupe
on content_hash, the one place that keeps the cache 1:1 per hash.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import CACHE_SCHEMA

CACHE_KEY = "content_hash"


def read_snapshots(spark: SparkSession, path: str | None, schema) -> DataFrame | None:
    """Every snapshot of the append-only table at ``path``; None when it
    has none yet."""
    if path and os.path.isdir(path) and any(name.startswith("snap-") for name in os.listdir(path)):
        return spark.read.schema(schema).parquet(f"{path}/snap-*")
    return None


def append_snapshot(df: DataFrame, path: str, schema) -> None:
    """Write ``df``'s ``schema`` columns as a new snapshot of the table."""
    snap = f"{path}/snap-{uuid.uuid4().hex[:12]}"
    df.select([f.name for f in schema.fields]).write.mode("overwrite").parquet(snap)


def read_cache_or_none(spark: SparkSession, path: str | None) -> DataFrame | None:
    """Cache table as a DataFrame; None when the table has no snapshots yet
    (lets the pipeline skip the cache join entirely on first runs)."""
    df = read_snapshots(spark, path, CACHE_SCHEMA)
    # appends keep duplicates (same content at two urls, concurrent
    # runs); results are deterministic so any row of a hash is
    # equivalent — dropDuplicates keeps the join 1:1
    return None if df is None else df.dropDuplicates([CACHE_KEY])


def read_cache(spark: SparkSession, path: str | None) -> DataFrame:
    """Cache table as a DataFrame; empty frame when absent."""
    df = read_cache_or_none(spark, path)
    return df if df is not None else spark.createDataFrame([], CACHE_SCHEMA)


def append_cache(df: DataFrame, path: str) -> None:
    """Append rows as a new snapshot."""
    append_snapshot(df, path, CACHE_SCHEMA)


def split_hits_misses(
    pages: DataFrame, cache: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Split pages into cache hits (with cached result columns) and misses.

    One left join; Catalyst/AQE picks broadcast vs shuffle-hash based on
    cache stats (SURVEY.md §2.3 J5). Hits keep the cached payload, misses
    keep the raw html for extraction.
    """
    cached = cache.withColumnRenamed(CACHE_KEY, "_ck")
    joined = pages.join(
        cached, pages[CACHE_KEY] == cached["_ck"], "left"
    )
    hits = joined.filter(F.col("_ck").isNotNull()).drop("_ck")
    misses = joined.filter(F.col("_ck").isNull()).drop("_ck").select(pages.columns)
    return hits, misses
