"""Physical-plan audits: the plans we want at 100 TB, asserted at sf0.001.

These guard the scale properties (SURVEY.md §4): predicate pushdown into
the parquet scan, column pruning, broadcast joins for small dims, and a
shuffle-free extraction pipeline.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_scan(spark):
    l = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = l.filter(F.col("l_shipdate") < "1995-01-01").select("l_orderkey", "l_quantity")
    plan = _formatted(q)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "LessThan(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark):
    l = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = l.select("l_orderkey", "l_quantity")
    plan = _formatted(q)
    # ReadSchema must contain only the two referenced columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_dim_join_broadcasts(spark):
    from ocr_wrapper_spark.relational import QUERIES

    q = QUERIES["broadcast_dim_join"](spark, SF)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_extraction_plan_has_no_shuffle(spark, tmp_path):
    """Scan -> extract must be a single stage: no Exchange before the
    Python operator (reshuffling html payloads measured 3x the extraction
    cost)."""
    from ocr_wrapper_spark.operators.extract import with_extraction
    from ocr_wrapper_spark.sources.pages import synthesize_pages

    pages_dir = str(tmp_path / "pages")
    synthesize_pages(spark, SF).write.parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)
    plan = _plan(with_extraction(pages))
    before_python = plan.split("MapInArrow")[-1]  # operators BELOW (upstream of) the python node
    assert "Exchange" not in before_python


def test_cache_join_is_broadcast_when_cache_small(spark, tmp_path):
    from ocr_wrapper_spark.plans.pipeline import run_extraction
    from ocr_wrapper_spark.sources.pages import synthesize_pages

    from ocr_wrapper_spark.sources.cache import read_cache, split_hits_misses
    from pyspark.sql import functions as F

    cache_path = str(tmp_path / "cache")
    pages = synthesize_pages(spark, SF)
    run_extraction(spark, pages, cache_path=cache_path, run_id="p1")
    # second run: cache has rows; the hit/miss join should broadcast the
    # (small) cache side — run_extraction checkpoints the result, so
    # inspect the join plan at the split level
    cache = read_cache(spark, cache_path)
    hits, _ = split_hits_misses(pages.withColumn("content_hash", F.sha2(F.col("html"), 256)), cache)
    plan = _plan(hits)
    assert "BroadcastHashJoin" in plan


def test_lsh_candidate_join_is_equi_join(spark):
    """The MinHash LSH candidate generation must be a hash-partitioned
    equi-join on (band_id, band_hash) — never a cartesian product."""
    from ocr_wrapper_spark.operators.dedup import lsh_candidate_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(lsh_candidate_pairs(d))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q7_broadcasts_nations_and_pushes_type_filter(spark):
    from ocr_wrapper_spark.relational import QUERIES

    plan = _formatted(QUERIES["q7_volume_shipping"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2  # both nation lookups
    plan9 = _formatted(QUERIES["q9_product_type_profit"](spark, SF))
    # p_type filter must reach the part scan, not sit above the join
    assert "EqualTo(p_type,ECONOMY)" in plan9 or "p_type" in plan9.split("PushedFilters")[1].splitlines()[0]


def test_q13_left_join_preserves_customers(spark):
    from ocr_wrapper_spark.relational import QUERIES

    df = QUERIES["q13_customer_distribution"](spark, SF)
    total_customers = spark.read.parquet(f"{SF}/customer.parquet").count()
    dist = {r.c_count: r.custdist for r in df.collect()}
    assert sum(dist.values()) == total_customers  # no customer lost by the outer join


def test_q16_distinct_agg_is_two_phase(spark):
    from ocr_wrapper_spark.relational import QUERIES

    plan = _plan(QUERIES["q16_supplier_relation"](spark, SF))
    # countDistinct plans as expand + two HashAggregate phases
    assert plan.count("HashAggregate") >= 2


def test_ivf_candidates_meet_in_equi_join(spark):
    from ocr_wrapper_spark.operators.similarity import ivf_topk_cosine

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 100 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    plan = _plan(ivf_topk_cosine(e, q, k=3))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "cluster" in plan


def test_repetition_filter_single_text_scan(spark):
    """doc_repetition_filter reads the wide text column exactly once;
    the second scan is the doc_id-only re-entry for empty docs."""
    from ocr_wrapper_spark.relational import QUERIES
    import ocr_wrapper_spark.text_queries  # noqa: F401

    plan = _formatted(QUERIES["doc_repetition_filter"](spark, SF))
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    with_text = [l for l in reads if "text" in l]
    assert len(with_text) == 1


def test_source_mix_sampler_is_narrow(spark):
    """The stratified sampler itself adds no Exchange — the only shuffle
    in corpus_source_mix belongs to the monitoring rollup."""
    from ocr_wrapper_spark.operators.sampling import stratified_sample

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(stratified_sample(d, {"src0": 2.5}))
    assert "Exchange" not in plan


def test_dup_span_joins_are_keyed(spark):
    """doc_dup_span_coverage: no cartesian/broadcast-nested-loop — the
    gram match and the coverage re-join both hash on their keys."""
    from ocr_wrapper_spark.relational import QUERIES
    import ocr_wrapper_spark.text_queries  # noqa: F401

    plan = _plan(QUERIES["doc_dup_span_coverage"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_url_dedup_aggregate_is_two_phase(spark):
    """url_canonical_dedup pre-aggregates map-side (partial HashAggregate
    before the Exchange) so duplicate canonical URLs combine before the
    shuffle."""
    from ocr_wrapper_spark.relational import QUERIES
    import ocr_wrapper_spark.text_queries  # noqa: F401

    plan = _plan(QUERIES["url_canonical_dedup"](spark, SF))
    pre_exchange = plan.split("Exchange")[-1]  # bottom-most segment is below the exchange
    assert "HashAggregate" in pre_exchange
