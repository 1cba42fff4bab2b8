"""plan_audit.py guarantees: the pattern detectors catch the known
100x-killers, and the tricky registered plans stay clean/whitelisted.

The full 206-query sweep runs via `python scripts/plan_audit.py`
(round evidence, BENCH/PLAN_AUDIT_r*.log); the pytest keeps a fast
representative slice so a regression fails the suite, not just the
round log."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from plan_audit import WHITELIST, audit_plan, codegen_flags, codegen_stages  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_detects_empty_partition_window():
    plan = "Window [row_number() windowspecdefinition(specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rank#5]"
    assert any("empty partition spec" in f for f in audit_plan("x", plan))


def test_partitioned_window_not_flagged():
    plan = "Window [row_number() windowspecdefinition(bucket#3, doc_id#1 ASC NULLS FIRST, specifiedwindowframe(...)) AS rank#5]"
    assert audit_plan("x", plan) == []


def test_detects_missing_group_limit_on_rank_filter():
    plan = (
        "Filter (rank#5 <= 50)\n"
        "Window [row_number() windowspecdefinition(k#2, n#4 DESC, specifiedwindowframe(...)) AS rank#5]"
    )
    assert any("WindowGroupLimit" in f for f in audit_plan("x", plan))
    # with the group limit present the same plan is clean
    assert audit_plan("x", plan + "\nWindowGroupLimit [k#2], 50") == []


def test_detects_python_udf_and_cartesian():
    assert any("Python" in f for f in audit_plan("x", "BatchEvalPython [f(c#1)]"))
    assert any("Cartesian" in f for f in audit_plan("x", "CartesianProduct"))
    assert audit_plan("x", "ArrowEvalPython [f(c#1)]") == []


@pytest.mark.parametrize(
    "name",
    [
        "corpus_vocabulary",  # the InferWindowGroupLimit catch
        "doc_sequence_packing",  # two-pass prefix sum (whitelisted broadcast)
        "crawl_frontier_slots",  # salted rank (whitelisted broadcast)
        "topk_parts_per_brand",  # partitioned top-k: must be clean
        "q5_local_supplier_volume",  # broadcast-dim join chain: clean
        "dedup_minhash_lsh",  # banded equi-join: clean
    ],
)
def test_tricky_registered_plans_clean_or_whitelisted(spark, name):
    import __spark_entry__ as entrymod

    df = entrymod.queries()[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    flags = audit_plan(name, plan)
    assert not flags or name in WHITELIST, f"{name}: {flags}"


def test_detects_unreduced_single_partition_exchange():
    bad = (
        "Sort [x#1 ASC]\n"
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
        "   +- Project [x#1, y#2]\n"
    )
    assert any("SinglePartition" in f for f in audit_plan("x", bad))
    good = (
        "HashAggregate(keys=[], functions=[sum(s#3)])\n"
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
        "   +- HashAggregate(keys=[], functions=[partial_sum(v#1)])\n"
    )
    assert audit_plan("x", good) == []


def test_codegen_flags_name_each_fallback_stage():
    assert codegen_flags([(1, 900), (2, -1), (3, 70_000)]) == [
        "codegen fallback in stage 2 (largest method > 64 KB, does not compile)",
        "codegen fallback in stage 3 (largest method 70000 bytes)",
    ]


@pytest.mark.parametrize("name", ["url_parallel_candidates", "kmv_distinct_sketch"])
def test_host_index_stages_compile_under_the_jit_limit(spark, name):
    """Every whole-stage method of the host-index queries compiles, and
    stays under HotSpot's 8 000-byte limit for JIT-compiling a method
    (url_parallel_candidates' two stages did not compile at all while
    the index summed one comparison per host)."""
    import __spark_entry__ as entrymod

    key = "spark.sql.adaptive.enabled"  # codegen stages exist up front
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        plan = entrymod.queries()[name](spark, SF)._jdf.queryExecution().executedPlan()
        stages = codegen_stages(spark, plan)
    finally:
        spark.conf.set(key, old)
    assert stages and codegen_flags(stages) == []
    assert max(size for _, size in stages) < 8000, stages
