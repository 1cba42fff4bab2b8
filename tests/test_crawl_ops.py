"""Round-4 crawl-ops guarantees that the generated corpus can't exercise:

* the content-fingerprint normalization is engine-exact on hostile
  whitespace (vertical tab: Java regex \\s includes \\x0B, RE2 \\s does
  not — the explicit class FP_WS_RE/FP_MD5_SQL must agree)
* the xxhash64 and md5 fingerprints share one normalization
* crawl-frontier slot assignment uses exact int64 division (a double
  quotient misrounds near 2^53)
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

HOSTILE_TEXTS = [
    "a\x0bb",              # vertical tab: the Java-vs-RE2 \s divergence
    "  A\tB\nC  ",
    "a\x0b\x0b  b\fc\rd",
    "plain text",
    "",
    "\x0b",
]


def _duckdb_fp(texts):
    from ocr_wrapper_spark.text_queries import FP_MD5_SQL

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?)", [(t,) for t in texts])
    return [r[0] for r in con.execute(f"SELECT {FP_MD5_SQL} FROM documents").fetchall()]


def test_fp_md5_engine_exact_on_hostile_whitespace(spark):
    from ocr_wrapper_spark.text_queries import fp_md5_col

    df = spark.createDataFrame([(t,) for t in HOSTILE_TEXTS], "text string")
    got = [r.fp for r in df.select(fp_md5_col(F.col("text")).alias("fp")).collect()]
    assert got == _duckdb_fp(HOSTILE_TEXTS)


def test_frontier_slot_division_exact_at_large_ranks(spark):
    """`div` must match Python // where a double quotient misrounds."""
    from ocr_wrapper_spark.text_queries import POLITENESS_BATCH

    ranks = [0, 15, 16, 2**53 - 1, 2**54 - 1, 2**60 + 7]
    df = spark.createDataFrame([(r,) for r in ranks], "fetch_rank long")
    got = {
        r.fetch_rank: r.slot
        for r in df.select(
            "fetch_rank", F.expr(f"fetch_rank div {POLITENESS_BATCH}").alias("slot")
        ).collect()
    }
    assert got == {r: r // POLITENESS_BATCH for r in ranks}
    # the replaced formulation really does misround up there
    bad = int((2**54 - 1) / POLITENESS_BATCH)
    assert bad != (2**54 - 1) // POLITENESS_BATCH


def test_quality_classifier_keeps_empty_docs_with_verdict(spark, tmp_path):
    """Empty docs get an explicit n_tokens=0/keep=true row, not a drop
    (the with_repetition_stats contract from the round-3 advice). The
    generated corpus has no empty docs, so synthesize them."""
    from ocr_wrapper_spark.text_queries import doc_quality_classifier

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(0, "some ordinary words"), (1, ""), (2, "more text here"), (3, "")],
        "doc_id long, text string",
    ).write.parquet(f"{sf_dir}/documents.parquet")
    rows = doc_quality_classifier(spark, sf_dir).collect()
    assert len(rows) == 4
    empties = [r for r in rows if r.doc_id in (1, 3)]
    assert all(r.n_tokens == 0 and r.keep and r.score_ppm == 0 for r in empties)
    assert all(r.n_tokens > 0 for r in rows if r.doc_id in (0, 2))


def test_host_reputation_plan_broadcasts_no_sort_merge(spark):
    """The reputation table must broadcast back to docs — a sort-merge
    join (or a window over host partitions) would shuffle/sort the full
    Zipf-skewed corpus by host at 10^12 rows."""
    from ocr_wrapper_spark.text_queries import host_reputation_filter

    plan = host_reputation_filter(
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ingest_funnel_stages_reconcile(spark):
    """Per host, the staged verdicts must partition the new batch:
    n_new == dup_of_old + dup_in_batch + quality_cut + host_cut + kept,
    and summed over hosts n_new == |new batch|."""
    from pyspark.sql import functions as FF

    from ocr_wrapper_spark.text_queries import crawl_ingest_funnel

    sf = "/root/testdata/sf0.001"
    rows = crawl_ingest_funnel(spark, sf).collect()
    for r in rows:
        assert r.n_new == r.dup_of_old + r.dup_in_batch + r.quality_cut + r.host_cut + r.kept
    n_new_total = sum(r.n_new for r in rows)
    expected = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .filter(FF.col("doc_id") % 5 == 4)
        .count()
    )
    assert n_new_total == expected


SF_SMOKE = "/root/testdata/sf0.001"


def test_sequence_packing_window_is_bucket_partitioned(spark):
    """The packing prefix sum must never collapse the corpus into one
    window partition: pass 1 partitions on the doc_id-range bucket
    (plan shows the bucket exchange feeding the window), pass 2 runs
    only on the tiny per-bucket totals table, and >1 bucket exists even
    at the smallest SF."""
    from ocr_wrapper_spark.relational import QUERIES
    from ocr_wrapper_spark.text_queries import PACK_BUCKET_WIDTH

    df = QUERIES["doc_sequence_packing"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(bucket" in plan  # pass-1 window exchange
    # every Window node carries a partition spec: the corpus-sized one
    # on `bucket`, the totals one on the non-foldable `bucket % 1`
    import re

    for spec in re.findall(r"windowspecdefinition\(([^,]+(?:, [^,]+)?),", plan):
        assert "bucket" in spec, f"unpartitioned window in plan: {spec}"
    n_buckets = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .selectExpr(f"doc_id div {PACK_BUCKET_WIDTH} as b")
        .distinct()
        .count()
    )
    assert n_buckets > 1


def test_sequence_packing_matches_single_global_window(spark):
    """Two-pass bucketed prefix sum == the single global window it
    replaced, row for row."""
    from pyspark.sql import Window
    from ocr_wrapper_spark.relational import QUERIES
    from ocr_wrapper_spark.text_queries import PACK_CAPACITY

    got = {
        r.doc_id: (r.n_tokens, r.bin_id, r.bin_offset)
        for r in QUERIES["doc_sequence_packing"](spark, SF_SMOKE).collect()
    }
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n = F.when(F.col("text") == "", 0).otherwise(F.size(F.split(F.col("text"), " ")))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ref = {
        r.doc_id: (r.n_tokens, r.bin_id, r.bin_offset)
        for r in d.select("doc_id", n.cast("long").alias("n_tokens"))
        .select(
            "doc_id",
            "n_tokens",
            F.floor(before / PACK_CAPACITY).cast("long").alias("bin_id"),
            (before % PACK_CAPACITY).alias("bin_offset"),
        )
        .collect()
    }
    assert got == ref


def test_frontier_rank_window_carries_salt_key(spark):
    """The frontier rank exchange must partition on (host, salt), not
    host alone — the Zipf-top host (~13% of the corpus) has to spread
    over FRONTIER_SALTS tasks — and the salted two-phase rank must equal
    the plain per-host window."""
    from pyspark.sql import Window
    from ocr_wrapper_spark.relational import QUERIES
    from ocr_wrapper_spark import text_queries  # noqa: F401 — triggers registration

    df = QUERIES["crawl_frontier_slots"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(host_idx" in plan
    import re

    big_rank_specs = [
        s for s in re.findall(r"windowspecdefinition\(([^)]+?), doc_id", plan)
    ]
    assert big_rank_specs and all("salt" in s for s in big_rank_specs), plan[:2000]

    got = {(r.doc_id): (r.host, r.fetch_rank, r.slot) for r in df.collect()}
    from ocr_wrapper_spark.text_queries import POLITENESS_BATCH, _host_idx_col, _host_name as _host_name_col

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    w = Window.partitionBy("host_idx").orderBy("doc_id")
    ref = {
        r.doc_id: (r.host, r.fetch_rank, r.slot)
        for r in d.select("doc_id", _host_idx_col().alias("host_idx"))
        .withColumn("fetch_rank", (F.row_number().over(w) - 1).cast("long"))
        .select(
            "doc_id",
            _host_name_col().alias("host"),
            "fetch_rank",
            F.expr(f"fetch_rank div {POLITENESS_BATCH}").alias("slot"),
        )
        .collect()
    }
    assert got == ref


def test_vocabulary_topk_has_group_limit(spark):
    """corpus_vocabulary's rank<=50 must reach a per-partition
    WindowGroupLimit BEFORE the single-partition exchange — Spark 4's
    InferWindowGroupLimit only fires for windows WITH a partition spec,
    so the non-foldable constant key is load-bearing here: without it
    the whole vocabulary sorts in one task."""
    from ocr_wrapper_spark.relational import QUERIES

    df = QUERIES["corpus_vocabulary"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("WindowGroupLimit")[1][:200] or \
        plan.count("WindowGroupLimit") >= 2  # partial (pre-shuffle) stage present
