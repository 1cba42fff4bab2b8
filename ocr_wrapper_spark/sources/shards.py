"""Deterministic training-shard writer.

A training job wants shards that are (a) bounded in size, (b) globally
ordered so shard k always holds the same id range regardless of cluster
size, and (c) reproducible — re-running the export regenerates
byte-identical shard membership. `repartitionByRange` on the id gives
contiguous, sorted ranges per output task; `maxRecordsPerFile` bounds
each file; explicit `shard_id = id // docs_per_shard` makes membership
a pure function of the id rather than of Spark's range sampling (range
partitioning only controls physical co-location, never the labels).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_shard_id(df: DataFrame, docs_per_shard: int) -> DataFrame:
    """shard_id as a pure function of doc_id — identical on any cluster.

    Integer `div`, not float division: a double quotient rounds for ids
    >= 2^53 and the truncating cast would shift boundary ids into the
    wrong shard."""
    return df.withColumn(
        "shard_id", F.expr(f"`doc_id` div {int(docs_per_shard)}")
    )


def write_training_shards(df: DataFrame, path: str, docs_per_shard: int) -> None:
    """Write `df` parquet-partitioned by deterministic shard_id.

    The exchange is a range repartition on the id (each output task gets
    a contiguous slice, so a shard's rows land in one or few files and
    shard directories stay hot-cache friendly); maxRecordsPerFile bounds
    every file at the shard size. Partition count is
    ceil(distinct-id upper bound / docs_per_shard) via the dataframe's
    own max id — one cheap aggregate, no full count.
    """
    sharded = with_shard_id(df, docs_per_shard)
    hi = sharded.agg(F.max("doc_id")).first()[0] or 0
    n_output_partitions = max(1, math.ceil((hi + 1) / docs_per_shard))
    (
        sharded.repartitionByRange(n_output_partitions, F.col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", docs_per_shard)
        .partitionBy("shard_id")
        .parquet(path)
    )
