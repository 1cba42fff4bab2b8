"""Structured Streaming pipeline tests (memory/file sinks, synchronous
processAllAvailable at sf0.001)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_streaming_event_windows(spark, tmp_path):
    from ocr_wrapper_spark.streaming.stream import streaming_event_counts

    # file-stream source needs a directory of parquet files
    events_dir = str(tmp_path / "events")
    spark.read.parquet(f"{SF}/events.parquet").write.parquet(events_dir)
    agg = streaming_event_counts(spark, events_dir, F.window("ts", "1 hour"))
    q = (
        agg.writeStream.format("memory")
        .queryName("evt_windows")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select * from evt_windows").collect()
    assert len(rows) > 0
    # cross-check totals against the batch engine
    batch_total = spark.read.parquet(f"{SF}/events.parquet").count()
    assert sum(r.n_events for r in rows) == batch_total


def test_stateful_stream_dedup(spark, tmp_path):
    """Cross-micro-batch dedup keeps only the first occurrence of each
    content hash (applyInPandasWithState keyed state)."""
    from ocr_wrapper_spark.streaming.dedup_stream import stream_dedup_first_seen
    from ocr_wrapper_spark.schema import PAGES_SCHEMA
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    rows_a = [(f"u{i}", ts, f"<div>{'doc '*30}{i % 3}</div>".encode(), "", "en") for i in range(6)]
    rows_b = [(f"v{i}", ts, f"<div>{'doc '*30}{i % 4}</div>".encode(), "", "en") for i in range(8)]
    src = str(tmp_path / "stream_src")
    spark.createDataFrame(rows_a, PAGES_SCHEMA).write.parquet(src + "/batch_a")

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        stream_dedup_first_seen(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    n1 = spark.sql("select count(*) n from dedup_out").collect()[0].n
    assert n1 == 3  # i%3 -> 3 distinct payload hashes

    # second drop: hashes 0..3; only the new one (3) survives dedup
    spark.createDataFrame(rows_b, PAGES_SCHEMA).write.parquet(src + "/batch_b")
    q.processAllAvailable()
    q.stop()
    out = spark.sql("select content_hash from dedup_out").collect()
    assert len(out) == 4
    assert len({r.content_hash for r in out}) == 4


def test_stateful_dedup_on_rocksdb_state_store(spark, tmp_path):
    """The same keyed-state dedup runs on the RocksDB state store —
    the production backend for large keyed state (keys spill to disk
    instead of executor heap). Results must match the default
    HDFS-backed store exactly."""
    import datetime

    from ocr_wrapper_spark.schema import PAGES_SCHEMA
    from ocr_wrapper_spark.streaming.dedup_stream import stream_dedup_first_seen

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ts = datetime.datetime(2024, 1, 1)
        rows = [
            (f"u{i}", ts, f"<div>{'doc ' * 30}{i % 5}</div>".encode(), "", "en")
            for i in range(15)
        ]
        src = str(tmp_path / "src")
        spark.createDataFrame(rows, PAGES_SCHEMA).write.parquet(src)
        stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
        q = (
            stream_dedup_first_seen(stream)
            .writeStream.format("memory")
            .queryName("dedup_rocks")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_rocks"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        out = spark.sql("select content_hash from dedup_rocks").collect()
        assert len(out) == 5
        assert len({r.content_hash for r in out}) == 5
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_stream_stream_watermark_join_matches_batch_and_runs_on_rocksdb(spark):
    """The watermarked stream-stream recrawl join equals the batch
    integer-delta join, and the same plan runs unchanged on the RocksDB
    state store (the store a 1000-executor deployment would use for
    O(window) join state)."""
    from ocr_wrapper_spark.relational import QUERIES
    from ocr_wrapper_spark.text_queries import (  # noqa: F401 — registers
        RECRAWL_WINDOW_S,
        _host_idx_col,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    d = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", _host_idx_col().alias("host_idx")
    )
    n = d.filter(F.col("doc_id") % 5 == 4).selectExpr("doc_id as new_id", "host_idx")
    r = d.filter(F.col("doc_id") % 5 == 3).selectExpr("doc_id as recent_id", "host_idx as rh")
    batch = {
        (x.new_id, x.recent_id)
        for x in n.join(
            r,
            (F.col("host_idx") == F.col("rh"))
            & (F.col("new_id") - F.col("recent_id") >= 0)
            & (F.col("new_id") - F.col("recent_id") <= RECRAWL_WINDOW_S),
        ).collect()
    }
    assert batch  # non-trivial pair set at sf0.001

    got = {
        (x.new_id, x.recent_id): x.lag_s
        for x in QUERIES["streaming_watermark_join"](spark, sf).collect()
    }
    assert set(got) == batch
    assert all(0 <= v <= RECRAWL_WINDOW_S for v in got.values())

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks = {
            (x.new_id, x.recent_id)
            for x in QUERIES["streaming_watermark_join"](spark, sf).collect()
        }
        assert rocks == batch
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
