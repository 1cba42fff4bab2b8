"""Iceberg catalog wiring — gated behind an import/jar probe.

The production deployment targets Iceberg tables (north_rule); this
sandbox image ships no Iceberg runtime jar, so the cache/metrics tables
fall back to the snapshot-directory parquet layout in cache.py/metrics.py
(append-only snapshots, dedup-on-read — the same semantics MERGE/append
give on real Iceberg).

`iceberg_session_conf` returns the session config that makes
`df.writeTo(tbl).append()` and `MERGE INTO` available when the jar is
present (`spark.jars.packages` or on the cluster classpath);
`is_iceberg_available` probes the JVM classpath for it; and
`append_or_merge` uses that probe to write one frame either by an
Iceberg `MERGE INTO` or by a snapshot append through cache.py. The
pipeline (plans/pipeline.py, cache.py, metrics.py) does not call this
module: its tables stay snapshot-directory parquet whether or not the
jar is present.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

ICEBERG_CATALOG = "graft"


def is_iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg SparkCatalog class is on the JVM classpath."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def iceberg_session_conf(warehouse: str) -> dict[str, str]:
    """Session conf enabling a Hadoop-catalog Iceberg warehouse."""
    return {
        f"spark.sql.catalog.{ICEBERG_CATALOG}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{ICEBERG_CATALOG}.type": "hadoop",
        f"spark.sql.catalog.{ICEBERG_CATALOG}.warehouse": warehouse,
        "spark.sql.extensions": "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
    }


MERGE_SOURCE_VIEW = "_incoming"


def merge_statement(table: str, key: str) -> str:
    """The cache-upsert MERGE (reference ocr_wrapper.py:335-342 shelve
    set-if-absent semantics): insert rows whose key is not cached yet.
    Kept as a pure function so tests can validate it through Spark's SQL
    parser even when no Iceberg jar is on the classpath (the parser
    accepts MERGE INTO catalog-independently)."""
    return (
        f"MERGE INTO {ICEBERG_CATALOG}.{table} t "
        f"USING {MERGE_SOURCE_VIEW} s ON t.{key} = s.{key} "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def append_or_merge(spark: SparkSession, df, table: str, key: str,
                    sql_runner=None) -> str:
    """Write path selector: Iceberg MERGE when available, snapshot-append
    parquet otherwise. Returns the mechanism used (for metrics/logs).
    ``sql_runner`` (default ``spark.sql``) is the execution seam — tests
    exercise the MERGE branch through it without the runtime jar."""
    if is_iceberg_available(spark):
        df.createOrReplaceTempView(MERGE_SOURCE_VIEW)
        (sql_runner or spark.sql)(merge_statement(table, key))
        return "iceberg-merge"
    from . import cache as cache_tbl

    cache_tbl.append_cache(df, table)
    return "parquet-snapshot-append"
