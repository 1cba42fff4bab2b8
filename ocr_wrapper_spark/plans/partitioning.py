"""Partitioning & skew helpers (north_rule; SURVEY.md §2.11, §4).

Design notes for 100 TB scale:

* the pipeline's unit of work is the **url-hash bucket**
  ``pmod(xxhash64(url), n_buckets)`` — uniform regardless of host skew,
  stable across runs (lineage/resume) and across cluster sizes;
* host-keyed aggregations over Common-Crawl data are Zipfian — a handful
  of hosts own a large share of urls. AQE's skew-join handles skewed
  *joins*, but a ``groupBy(host)`` over a monster host still funnels one
  reducer. ``salted_host_counts`` demonstrates the two-phase
  (salt -> partial agg -> final agg) pattern the engine uses for any
  host-keyed rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 1024
DEFAULT_SALT = 16


def with_url_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Stable lineage bucket for every page, from its ``url``."""
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int"))


def host_of(url_col) -> F.Column:
    """Host component of a url (pure JVM expression)."""
    return F.parse_url(url_col, F.lit("HOST"))


def salted_host_counts(pages: DataFrame) -> DataFrame:
    """Two-phase skew-safe count per host: salt the hot key space, partial
    aggregate per (host, salt), then merge. The partial agg is map-side
    combinable so no single reducer ever sees a whole monster host."""
    return (
        pages.select(
            host_of(F.col("url")).alias("host"),
            F.pmod(F.xxhash64(F.col("url")), F.lit(DEFAULT_SALT)).alias("salt"),
        )
        .groupBy("host", "salt")
        .agg(F.count("*").alias("partial_n"))
        .groupBy("host")
        .agg(F.sum("partial_n").alias("n_docs"))
    )

