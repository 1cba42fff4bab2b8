"""End-to-end Spark pipeline tests: byte identity at sf0.001, cache
hit/miss semantics, resume-from-checkpoint."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_wrapper_spark.plans.pipeline import run_extraction
from ocr_wrapper_spark.sources.pages import synthesize_pages

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_pages(spark, SF).cache()


def test_byte_identity_all_docs(spark, pages):
    """north_rule invariant: byte-identical extracted text per url."""
    result = run_extraction(spark, pages)
    check = (
        result.alias("r")
        .join(pages.alias("p"), "url")
        .select(
            "url",
            (F.col("r.extracted_text") == F.col("p.text")).alias("ok"),
            "r.error",
        )
    )
    rows = check.collect()
    assert len(rows) > 0
    bad = [r for r in rows if not r.ok]
    assert bad == [], f"{len(bad)} docs mismatched, first: {bad[:3]}"


def test_both_providers_present(spark, pages):
    result = run_extraction(spark, pages)
    providers = {r.provider for r in result.select("provider").distinct().collect()}
    assert {"html", "pdf"} <= providers


def test_rotation_and_tilt_variants_seen(spark, pages):
    result = run_extraction(spark, pages)
    rots = {r.doc_rotation for r in result.select("doc_rotation").distinct().collect()}
    assert len(rots) > 1  # rotated PDFs detected
    tilts = result.filter(F.abs(F.col("tilt_angle")) > 0.5).count()
    assert tilts > 0  # tilted PDFs detected


def test_no_errors_on_synthetic_pages(spark, pages):
    result = run_extraction(spark, pages)
    assert result.filter(F.col("error").isNotNull()).count() == 0


def test_cache_roundtrip(spark, pages, tmp_path):
    """Reference cache semantics (ocr_wrapper.py:319-342): second run of the
    same content is served from the cache table."""
    cache_path = str(tmp_path / "cache")
    metrics_path = str(tmp_path / "metrics")

    r1 = run_extraction(
        spark, pages, cache_path=cache_path, metrics_path=metrics_path, run_id="runA"
    )
    n_docs = pages.count()
    assert r1.filter(F.col("is_hit")).count() == 0

    r2 = run_extraction(
        spark, pages, cache_path=cache_path, metrics_path=metrics_path, run_id="runB"
    )
    assert r2.filter(F.col("is_hit")).count() == n_docs
    # hits carry identical results
    t1 = {r.url: r.extracted_text for r in r1.select("url", "extracted_text").collect()}
    t2 = {r.url: r.extracted_text for r in r2.select("url", "extracted_text").collect()}
    assert t1 == t2


def test_cache_content_shared_by_two_urls(spark, pages, tmp_path):
    """Two urls with identical html in one crawl: the append keeps a row
    for each, the reader dedups to one row per hash, and a rerun hits
    both urls with exactly one result row each."""
    from ocr_wrapper_spark.sources.cache import read_cache_or_none

    cache_path = str(tmp_path / "cache")
    head = pages.orderBy("url").limit(3)
    twin = head.orderBy("url").limit(1).withColumn("url", F.concat("url", F.lit("?twin")))
    crawl = head.unionByName(twin)
    urls = sorted(r.url for r in crawl.select("url").collect())
    assert len(urls) == 4

    r1 = run_extraction(spark, crawl, cache_path=cache_path, run_id="twinA")
    rows1 = r1.select("url", "is_hit", "extracted_text").collect()
    assert sorted(r.url for r in rows1) == urls
    assert not any(r.is_hit for r in rows1)

    assert spark.read.parquet(f"{cache_path}/snap-*").count() == 4
    cache = read_cache_or_none(spark, cache_path)
    per_hash = cache.groupBy("content_hash").count().collect()
    assert len(per_hash) == 3
    assert all(r["count"] == 1 for r in per_hash)

    r2 = run_extraction(spark, crawl, cache_path=cache_path, run_id="twinB")
    rows2 = r2.select("url", "is_hit", "extracted_text").collect()
    assert sorted(r.url for r in rows2) == urls
    assert all(r.is_hit for r in rows2)
    assert {r.url: r.extracted_text for r in rows2} == {r.url: r.extracted_text for r in rows1}


def test_metrics_and_resume(spark, pages, tmp_path):
    metrics_path = str(tmp_path / "metrics")
    run_extraction(spark, pages, metrics_path=metrics_path, run_id="runX")

    from ocr_wrapper_spark.sources.metrics import read_metrics

    m = read_metrics(spark, metrics_path)
    agg = m.agg(F.sum("n_docs").alias("n"), F.sum("n_errors").alias("e")).collect()[0]
    assert agg.n == pages.count()
    assert agg.e == 0

    # resuming the same run_id: all buckets done -> nothing left to process
    r = run_extraction(
        spark, pages, metrics_path=metrics_path, run_id="runX", resume=True
    )
    assert r.count() == 0


def test_results_parquet_roundtrip(spark, pages, tmp_path):
    """RESULT schema persists: write results, read back, spans reassemble
    to the same byte-identical text."""
    from ocr_wrapper_spark.operators.extract import assemble_text_col

    out = str(tmp_path / "results")
    run_extraction(spark, pages).write.parquet(out)
    back = spark.read.parquet(out)
    n_bad = back.filter(
        assemble_text_col(F.col("spans")) != F.col("extracted_text")
    ).count()
    assert n_bad == 0
    assert back.count() == pages.count()
    # confidence values survived (0.9 html / 0.95 pdf / 0.97 json / 0.96 hocr)
    confs = {
        r.c
        for r in back.select(F.explode("spans").alias("s"))
        .select(F.round(F.col("s.confidence"), 2).alias("c"))
        .distinct()
        .collect()
    }
    assert confs <= {0.9, 0.95, 0.97, 0.96, 0.93}  # html/pdf/json/hocr/textract dialect confidences


def test_side_tables_materialize_the_result_once(spark, pages, tmp_path):
    """With both side tables, the cache append is the job that computes
    and checkpoints the result: no standalone checkpoint count job, and
    the returned frame reads the checkpoint, so extraction runs once per
    miss."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # the cached fixture fills on its first action: run it outside the
    # group, so the count below does not depend on the tests run before
    pages.count()
    sc.setJobGroup("side_tables", "run_extraction with cache and metrics")
    try:
        result = run_extraction(spark, pages, cache_path=str(tmp_path / "cache"),
                                metrics_path=str(tmp_path / "metrics"), run_id="once")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    stages = [
        tracker.getStageInfo(s)
        for j in tracker.getJobIdsForGroup("side_tables")
        for s in tracker.getJobInfo(j).stageIds
    ]
    # the tracker returns None for a stage it no longer (or not yet) holds
    stage_names = [info.name for info in stages if info is not None]
    # the cache snapshot write, the metrics aggregate and the metrics write
    assert len(tracker.getJobIdsForGroup("side_tables")) == 3
    assert not [n for n in stage_names if n.startswith("localCheckpoint")]
    assert "MapInArrow" not in result._jdf.queryExecution().executedPlan().toString()
    assert result.count() == pages.count()
