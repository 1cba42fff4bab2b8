"""Physical-plan audit over EVERY registered query — the 100x lens,
mechanized.

For each `queries()` entry, materialize the executed plan at a small SF
and grep it for the patterns that kill a job at the brief's scale
(10^12 rows / 1000 executors), well before any of them shows up in a
small-SF timing:

* CartesianProduct / BroadcastNestedLoopJoin on non-trivial inputs —
  quadratic blowup (1-row scalar-subquery broadcasts are whitelisted
  per query below, with the reason).
* BatchEvalPython — a row-at-a-time Python UDF in the plan (the repo
  rule is Arrow only: ArrowEvalPython / mapInPandas / mapInArrow).
* windowspecdefinition with an empty partition spec — a window that
  collapses its whole input into one task (the doc_sequence_packing /
  corpus_vocabulary class; both now carry partition keys).
* rank-filter windows missing a WindowGroupLimit — Spark's
  InferWindowGroupLimit only fires when the window HAS a partition
  spec, so a top-k that looks declarative can still sort everything
  in one task (how corpus_vocabulary was caught).
* whole-stage code that does not compile — Janino rejects a method past
  64 KB ("Code grows beyond 64 KB") and Spark silently runs that stage
  interpreted instead (spark.sql.codegen.fallback). Each stage is
  compiled through Spark's `debug.codegenStringSeq`, which needs a
  non-adaptive plan, so the audit session runs with AQE off. The
  largest method of each flagged stage is printed in bytes; Janino
  gives none for a stage it rejects, so that one reads "> 64 KB".

Exit 0 = no unexplained flags. Prints one line per flagged query.
Usage: python scripts/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# query -> reason a scary-looking node is actually bounded. Every entry
# must name the tiny side.
WHITELIST: dict[str, str] = {
    # 1-row broadcast scalar subquery (corpus-wide aggregate joined back)
    "scalar_subquery_above_avg": "BroadcastNestedLoopJoin over a 1-row aggregate (scalar subquery)",
    "q22_sales_opportunity": "crossJoin(broadcast(1-row avg(c_acctbal))) — TPC-H Q22 scalar subquery",
    "priority_sample_topk": "crossJoin(broadcast(1-row tau aggregate over the <=K+1 survivors))",
    "sketch_union_corpus": "crossJoin of three 1-row aggregates (exact count, merged HLL, merged KMV kth)",
    "collocation_lift_topk": "crossJoin(broadcast(1-row total-token count)) — scalar N in the lift",
    "doc_tfidf_topk": "1-row corpus-size broadcast (|D| for the idf term)",
    "bloom_filter_stats": "three 1-row aggregates (eval count, position count, bitmap stats) cross-joined into the single stats row",
    "source_mix_apportionment": "1-row corpus token total broadcast over the |sources|x|langs| group table",
    "host_downsample_cap": "1-row corpus doc total broadcast over the |hosts|-row counts table",
    "corpus_incremental_dedup": "1-row broadcast of the old-corpus high-water mark",
    "doc_sequence_packing": "per-bucket totals table (~|buckets| rows) broadcast back",
    "crawl_frontier_slots": "cumulative salt-group offsets (~|hosts|*salts rows) broadcast",
    "host_reputation_filter": "~|hosts|-row stats table broadcast back to documents",
    "crawl_ingest_funnel": "composition of the two above (both tiny sides)",
    "streaming_watermark_join": "batch-equivalence check joins two bounded stream snapshots",
    "crawl_hits": "1-row L1-normalization total broadcast over the |hosts|-row score vector",
    "dsir_importance_weights": "1-row smoothed token totals (qt, pt) cross-joined onto the <=B-row bucket-ratio table",
    "bm25_retrieval": "1-row corpus stats (n_docs, t_tokens) broadcast onto the per-(doc,term) tf table",
    "retrieval_eval_mrr": "embeds bm25_retrieval's 1-row corpus-stats broadcast (the ranking being graded)",
    "bpe_learn_merges": "per-iteration 1-row argmax merge broadcast onto the vocabulary-bounded rep table (unrolled-iteration shape, same as ann_topk_ivf_lloyd)",
    "bpe_encode_lengths": "1-row sorted-merge-array broadcast (the learned BPE merges) onto the documents scan — the encode itself is a narrow JVM map, no corpus shuffle",
    "bitext_mine_eval": "four 1-row scalar count aggregates cross-joined into the single stats row",
    "embedding_kcenter_coreset": "per-iteration 1-row argmax center broadcast (the ann_topk_ivf_lloyd unrolled-iteration shape)",
    "coreset_coverage_eval": "per-iteration 1-row center broadcasts + one KCENTER_K-row baseline fanout + two 1-row stat aggregates cross-joined",
    "crawl_overlap_sketch": "1-row exact-stats aggregate cross-joined with the 1-row bottom-OVERLAP_K sketch aggregate",
    "host_concentration_profile": "three 1-row aggregates over the ~|hosts|-row counts table (totals, Gini numerator, HHI numerator) cross-joined into the single monitor row",
    "wand_block_max": "1-row corpus stats (n_docs, t_tokens) broadcast onto the pruned postings — same scalar side as bm25_retrieval",
    "vocab_drift": "seven 1-row aggregates over the two vocabulary-bounded count tables cross-joined into the single drift row",
    "doclen_quantile_sketch": "crossJoin of three 1-row quantile aggregates (exact / direct-histogram / merged-histogram), exploded into the 5 percentile rows",
    "host_fair_share_alloc": "two 1-row scalar broadcasts (water level, leftover slots) over the |hosts|-row demand table",
    "postings_elias_fano_budget": "1-row universe broadcast (max doc id + 1, from the per-block maxima) onto the |vocab|-row budget table",
    "vocab_growth_curve": "1-row bucket-width broadcast (max doc id) onto per-doc rows and the |types|-bounded first-occurrence table; cumulative window over the fixed 10-row bucket curve",
    "neyman_sample_alloc": "1-row weight-total broadcast and remainder-rank windows over the |sources|x|langs|-row stratum table (the apportionment-family tiny-table shape)",
    "sort_layout_pruning_gain": "cumulative host-offset window over the ~|hosts|-row counts table (the crawl_frontier_slots offsets shape); the corpus-sized stage is the keyed distinct above it",
    "filter_overlap_matrix": "1-row corpus-total broadcast onto the <=16-row verdict-combination matrix",
}


def audit_plan(name: str, plan: str) -> list[str]:
    flags: list[str] = []
    if "BatchEvalPython" in plan:
        flags.append("row-at-a-time Python UDF (BatchEvalPython)")
    if "CartesianProduct" in plan:
        flags.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan:
        flags.append("BroadcastNestedLoopJoin")
    # windowspecdefinition(<sort-cols...>, specifiedwindowframe...) with no
    # partition columns: the first arg is a sort order, not a partition,
    # when the partition list is empty. Catalyst prints partition exprs
    # first; an empty partition spec shows as the frame directly after '('.
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        args = m.group(1)
        if args.lstrip().startswith("specifiedwindowframe"):
            flags.append("window with empty partition spec (single-task sort)")
            break
    # Exchange SinglePartition is the correct final stage of a global
    # aggregate ONLY when its child is a partial aggregate (then just
    # |partitions| pre-reduced rows cross). A single-partition exchange
    # fed by anything else moves the full input to one task.
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        ok_child = (
            "partial_" in child  # partial aggregate: tiny rows cross
            or "WindowGroupLimit" in child  # per-partition top-k already cut
            or "LocalLimit" in child  # limit pushed below the exchange
        )
        if not ok_child:
            flags.append(
                f"SinglePartition exchange fed by non-reduced input ({child.strip()[:60]})"
            )
            break
    # a row_number/rank window + a later rank filter should show a
    # WindowGroupLimit; absence means the full input crosses the window
    if re.search(r"row_number\(\)|rank\(\)", plan) and "WindowGroupLimit" not in plan:
        # only flag when the query also filters on the rank column —
        # detectable in the plan as a Filter on the window output attr.
        # Cheap heuristic: plan contains '<= <small int>' filter AND a
        # window function. False positives are possible; they surface
        # for human review rather than failing silently.
        if re.search(r"\(\w+#\d+ <= \d{1,3}\)", plan):
            flags.append("rank-filter window without WindowGroupLimit (top-k not pushed down)")
    return flags


# A compiled method longer than this falls back to interpreted execution
# (spark.sql.codegen.hugeMethodLimit's default, the JVM's own limit).
HUGE_METHOD_BYTES = 65535


def codegen_stages(spark, plan) -> list[tuple[int, int]]:
    """(stage id, largest compiled method in bytes) per whole-stage
    codegen subtree of an executed (non-adaptive) plan; -1 bytes when the
    stage does not compile."""
    dbg = getattr(spark._jvm.org.apache.spark.sql.execution.debug, "package$").__getattr__("MODULE$")
    out = []
    it = dbg.codegenStringSeq(plan).iterator()
    while it.hasNext():
        subtree = it.next()  # (plan text "*(id) ...", source, byte-code stats)
        stage = int(re.match(r"\*\((\d+)\)", subtree._1()).group(1))
        out.append((stage, subtree._3().maxMethodCodeSize()))
    return out


def codegen_flags(stages: list[tuple[int, int]]) -> list[str]:
    """One flag per stage that Spark would run interpreted."""
    return [
        f"codegen fallback in stage {sid} (largest method "
        + ("> 64 KB, does not compile)" if size < 0 else f"{size} bytes)")
        for sid, size in stages
        if size < 0 or size > HUGE_METHOD_BYTES
    ]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from ocr_wrapper_spark.session import get_spark

    spark = get_spark(
        app_name="plan_audit",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.adaptive.enabled": "false",  # codegen stages exist up front
        },
    )
    spark.sparkContext.setLogLevel("OFF")  # Janino's rejection dumps the whole source
    qs = entrymod.queries()

    hard = 0
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan()
            stages = codegen_stages(spark, plan)
        except Exception as exc:  # noqa: BLE001 — audit must visit every query
            print(f"ERROR {name}: {type(exc).__name__}: {exc}")
            hard += 1
            continue
        flags = audit_plan(name, plan.toString()) + codegen_flags(stages)
        if not flags:
            continue
        if name in WHITELIST:
            print(f"ok    {name}: {', '.join(flags)} — whitelisted: {WHITELIST[name]}")
        else:
            print(f"FLAG  {name}: {', '.join(flags)}")
            hard += 1
    print(f"\n{n_run} plans audited, {hard} unexplained flags")
    return 1 if hard else 0


if __name__ == "__main__":
    raise SystemExit(main())
