"""The end-to-end extraction job (SURVEY.md §3.3 Spark shape):

    read pages -> content hash -> [resume filter] -> cache join ->
    extract misses (fused Arrow UDF) -> union hits -> write results +
    cache append + per-bucket lineage/metrics

Everything relational is declarative (Catalyst handles pushdown and the
broadcast-vs-shuffle cache join); the only imperative code is inside the
Arrow extraction UDF.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import EXTRACT_STRUCT, RESULT_SCHEMA
from ..sources import cache as cache_tbl
from ..sources import metrics as metrics_tbl
from . import partitioning

RESULT_COLS = [f.name for f in RESULT_SCHEMA.fields]


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    cache_path: str | None = None,
    metrics_path: str | None = None,
    run_id: str | None = None,
    n_buckets: int = partitioning.DEFAULT_BUCKETS,
    resume: bool = False,
    extractor: str | None = None,
) -> DataFrame:
    """Returns the result DataFrame (lazy). Side tables (cache, metrics)
    are written when their paths are given — those writes are actions.

    The returned frame is safe to write or aggregate further; when cache
    and metrics paths are set the function materializes once and reuses
    the result so extraction runs exactly once per miss.

    The cache append writes one row per missed url, without a dedup
    shuffle: content shared by two urls of one crawl lands twice in that
    snapshot. ``cache.read_cache_or_none`` dedups on ``content_hash``, so
    a later run still joins each page to one cached row.
    """
    run_id = run_id or uuid.uuid4().hex[:12]

    pages = pages.withColumn("content_hash", F.sha2(F.col("html"), 256))
    pages = partitioning.with_url_bucket(pages, n_buckets)

    if resume and metrics_path:
        done = metrics_tbl.completed_buckets(spark, metrics_path, run_id)
        pages = pages.join(F.broadcast(done), "bucket", "left_anti")

    cols = ["url", "bucket", "content_hash", *EXTRACT_STRUCT.fieldNames(), "is_hit"]

    # extractor dispatch (D1): explicit name > env > 'single'
    from ..operators.autoselect import autoselect_extractor

    extract_op = autoselect_extractor(extractor)

    cache = cache_tbl.read_cache_or_none(spark, cache_path)
    if cache is None:
        # no cache table yet: skip the join + two-branch union entirely —
        # the single-stage scan -> extract plan (measured ~2x throughput)
        result = extract_op(pages).withColumn("is_hit", F.lit(False)).select(cols)
    else:
        hits, misses = cache_tbl.split_hits_misses(pages, cache)
        computed = extract_op(misses).withColumn("is_hit", F.lit(False))
        hit_results = (
            hits.withColumn("extract_ms", F.lit(0.0))
            .withColumn("is_hit", F.lit(True))
        )
        result = computed.select(cols).unionByName(hit_results.select(cols))

    if cache_path or metrics_path:
        # materialize once so cache append + metrics + the returned frame
        # share a single extraction pass (on a cluster: write the results
        # table and read it back; localCheckpoint is the local-mode analogue).
        # Lazily: the first side-table write computes and checkpoints the
        # result, instead of a count job of its own before it
        result = result.localCheckpoint(eager=False)

        if cache_path:
            # no dedup shuffle here: read_cache_or_none dedups on the hash
            new_entries = result.filter(~F.col("is_hit"))
            cache_tbl.append_cache(new_entries, cache_path)

        if metrics_path:
            metrics = (
                result.groupBy("bucket")
                .agg(
                    F.count("*").alias("n_docs"),
                    F.sum(F.col("error").isNotNull().cast("long")).alias("n_errors"),
                    F.sum(F.col("is_hit").cast("long")).alias("n_cache_hits"),
                    F.sum("extract_ms").alias("wall_ms"),
                )
                .withColumn("run_id", F.lit(run_id))
                .withColumn("status", F.lit(metrics_tbl.STATUS_DONE))
            )
            metrics_tbl.append_metrics(metrics, metrics_path)

    return result.select(*RESULT_COLS, "bucket", "is_hit")
