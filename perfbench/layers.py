"""Per-layer measurements of a traced run.

Each layer is timed around a call into one of the program's public
functions; nothing inside the program is wrapped. Three kinds:

* a traced replay of one extraction pass, layer by layer: every layer's
  output is local-checkpointed so the next layer starts from materialized
  input and each span holds one layer's work;
* the query mix's timed pass itself, one span per query, with the SQL
  metrics of each query's executed plan and the codegen fallbacks its
  execution logged;
* a single-thread replay of the extraction kernels over a seeded payload
  sample, one public stage function at a time.

A layer the workload does not exercise keeps the value 0.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

import numpy as np

import workloads

DIALECTS = ("html", "pdf", "json", "hocr", "textract")
KERNEL_SAMPLE_PER_DIALECT = 80
KERNEL_ROUNDS = 3
CODEGEN_FALLBACK_MARK = "Whole-stage codegen disabled"


@contextmanager
def layer_span(run, name: str):
    """A span named ``name`` whose duration is also the layer metric
    ``<name>_s``."""
    t0 = time.perf_counter()
    with run.tr.span(name):
        yield
    run.layer[f"{name}_s"] = time.perf_counter() - t0


# -- executed-plan SQL metrics ----------------------------------------------


def plan_metrics(plan, wanted: dict[str, tuple[str, ...]]) -> dict[str, float]:
    """Sums of SQL metrics over an executed plan, through adaptive and
    query-stage wrappers. ``wanted`` maps a node-name prefix to the metric
    names to add up on such nodes; timings come back in ms, sizes in bytes.
    Only the wanted metrics cross the py4j bridge, which keeps the walk of
    a large plan short."""
    sums: dict[str, float] = {}
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        for prefix, metrics in wanted.items():
            if name.startswith(prefix):
                table = node.metrics()
                for metric in metrics:
                    opt = table.get(metric)
                    if opt.isDefined():
                        m = opt.get()
                        v = float(m.value())
                        sums[metric] = sums.get(metric, 0.0) + (
                            v / 1e6 if m.metricType() == "nsTiming" else v)
        if name != "ReusedExchange":  # a reused exchange ran once, elsewhere
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))
    return sums


def executed_plan(df):
    return df._jdf.queryExecution().executedPlan()


def log_size(run) -> int:
    return os.path.getsize(run.log_path) if run.log_path else 0


def count_in_log(run, offset: int, mark: str) -> int:
    if not run.log_path:
        return 0
    with open(run.log_path, "rb") as f:
        f.seek(offset)
        return f.read().decode("utf-8", "replace").count(mark)


# -- extraction --------------------------------------------------------------


def row_extract_quantiles(run, extracted) -> None:
    """p50/p99 of the per-row ``extract_ms`` column that ``with_extraction``
    adds (the pipeline's result table drops it)."""
    ms = np.asarray([r[0] for r in extracted.select("extract_ms").collect()], dtype=np.float64)
    if len(ms):
        run.layer["kernels.row_extract_ms_p50"] = float(np.percentile(ms, 50))
        run.layer["kernels.row_extract_ms_p99"] = float(np.percentile(ms, 99))


def extraction_layers(run, pages_path: str, pass_dir: str, run_id: str,
                      pristine: str | None, untraced_pass_s: float) -> None:
    run.release_persisted()
    shutil.rmtree(pass_dir, ignore_errors=True)
    os.makedirs(pass_dir)
    if pristine:
        shutil.copytree(f"{pristine}/cache", f"{pass_dir}/cache")
        shutil.copytree(f"{pristine}/metrics", f"{pass_dir}/metrics")
    with run.tr.span("pass.traced"):
        traced_extraction_pass(run, pages_path, pass_dir, run_id)
    run.layer["trace.overhead_s"] = record_traced_pass(run, "pass.traced") - untraced_pass_s
    kernel_replay(run, pages_path)


def traced_extraction_pass(run, pages_path: str, pass_dir: str, run_id: str) -> None:
    """The stages of ``run_extraction`` replayed one public call at a time."""
    from pyspark.sql import functions as F

    from ocr_wrapper_spark.operators.extract import with_extraction
    from ocr_wrapper_spark.plans import partitioning
    from ocr_wrapper_spark.schema import CACHE_SCHEMA, RESULT_SCHEMA
    from ocr_wrapper_spark.sources import cache as cache_tbl
    from ocr_wrapper_spark.sources import metrics as metrics_tbl

    spark = run.spark
    cache_path, metrics_path = f"{pass_dir}/cache", f"{pass_dir}/metrics"

    with layer_span(run, "sources.pages.scan"):
        pages = spark.read.parquet(pages_path).localCheckpoint(eager=True)
    with layer_span(run, "plans.partitioning.hash_bucket"):
        keyed = partitioning.with_url_bucket(
            pages.withColumn("content_hash", F.sha2(F.col("html"), 256))
        ).localCheckpoint(eager=True)
    with layer_span(run, "sources.metrics.completed_buckets"):
        done = metrics_tbl.completed_buckets(spark, metrics_path, run_id).localCheckpoint(eager=True)
    run.layer["sources.metrics.buckets_skipped"] = float(done.count())
    with run.tr.span("plans.pipeline.resume_filter"):
        todo = keyed.join(F.broadcast(done), "bucket", "left_anti").localCheckpoint(eager=True)
    with layer_span(run, "sources.cache.split"):
        hits, misses = cache_tbl.split_hits_misses(todo, cache_tbl.read_cache(spark, cache_path))
        hits = hits.localCheckpoint(eager=True)
        misses = misses.localCheckpoint(eager=True)

    def identity(batches):
        yield from batches

    with layer_span(run, "operators.extract.arrow_roundtrip"):
        misses.mapInArrow(identity, misses.schema)._jdf.queryExecution().toRdd().count()
    with layer_span(run, "operators.extract.pass"):
        extracting = with_extraction(misses)
        extracted = extracting.localCheckpoint(eager=True)
    m = plan_metrics(executed_plan(extracting), {"MapInArrow": (
        "pythonBootTime", "pythonInitTime", "pythonTotalTime", "pythonDataSent",
        "pythonDataReceived")})
    run.layer["operators.extract.python_boot_ms"] = m.get("pythonBootTime", 0.0)
    run.layer["operators.extract.python_init_ms"] = m.get("pythonInitTime", 0.0)
    run.layer["operators.extract.python_total_ms"] = m.get("pythonTotalTime", 0.0)
    run.layer["operators.extract.python_data_sent_mb"] = m.get("pythonDataSent", 0.0) / 2**20
    run.layer["operators.extract.python_data_received_mb"] = m.get("pythonDataReceived", 0.0) / 2**20
    row_extract_quantiles(run, extracted)

    with layer_span(run, "sources.cache.append"):
        cache_tbl.append_cache(
            extracted.select([f.name for f in CACHE_SCHEMA.fields]).dropDuplicates(["content_hash"]),
            cache_path,
        )
    with layer_span(run, "sources.metrics.append"):
        rows = extracted.select(
            "bucket", "error", "extract_ms", F.lit(False).alias("is_hit")
        ).unionByName(
            hits.select("bucket", "error", F.lit(0.0).alias("extract_ms"), F.lit(True).alias("is_hit"))
        )
        per_bucket = rows.groupBy("bucket").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("n_errors"),
            F.sum(F.col("is_hit").cast("long")).alias("n_cache_hits"),
            F.sum("extract_ms").alias("wall_ms"),
        ).withColumn("run_id", F.lit(run_id)).withColumn("status", F.lit(metrics_tbl.STATUS_DONE))
        metrics_tbl.append_metrics(per_bucket, metrics_path)
    with run.tr.span("plans.pipeline.results_write"):
        cols = [f.name for f in RESULT_SCHEMA.fields]
        extracted.select(cols).unionByName(hits.select(cols)).write.parquet(f"{pass_dir}/results")


def record_traced_pass(run, span_name: str) -> float:
    """Record the wall of the last span ``span_name`` and the part of it
    its child spans leave uncovered; return the wall."""
    span = run.tr.find(span_name)[-1]
    wall = span["end"] - span["start"]
    run.layer["trace.pass_s"] = wall
    run.layer["trace.uncovered_s"] = wall - run.tr.covered_s(span["id"])
    return wall


def kernel_replay(run, pages_path: str) -> None:
    """Single-thread replay of the extraction kernels on a seeded sample of
    payloads, per dialect and per public stage function. Each figure is
    the median over rounds of (stage seconds / documents it ran on)."""
    import pyarrow.parquet as pq

    from ocr_wrapper_spark.kernels import (clean, extract_doc, hocr_extract, html_extract,
                                           json_extract, layout, order, pdf_extract,
                                           textract_extract)

    parsers = {
        "pdf": pdf_extract.parse_pdf_payload,
        "json": json_extract.parse_json_payload,
        "hocr": hocr_extract.parse_hocr_payload,
        "textract": textract_extract.parse_textract_payload,
    }
    t = pq.read_table(pages_path, columns=["url", "html", "lang"]).to_pandas()
    t["dialect"] = t["url"].str.rsplit(".", n=1).str[-1]
    t = t.sort_values("url").reset_index(drop=True)
    rng = np.random.default_rng([run.seed, 7])
    sample = []
    for d in DIALECTS:
        idx = np.flatnonzero(t["dialect"].to_numpy() == d)
        take = rng.choice(idx, size=min(KERNEL_SAMPLE_PER_DIALECT, len(idx)), replace=False)
        sample += [(d, t.at[i, "html"], t.at[i, "lang"] or "") for i in take]
    results = {id(p): extract_doc.extract_document(p, lang) for _, p, lang in sample}

    clock = time.perf_counter
    rounds: dict[str, list[float]] = {}
    with run.tr.span("kernels.replay"):
        for _ in range(KERNEL_ROUNDS):
            busy: dict[str, float] = {}
            docs: dict[str, int] = {}

            def add(key: str, dt: float) -> None:
                busy[key] = busy.get(key, 0.0) + dt
                docs[key] = docs.get(key, 0) + 1

            for d, payload, lang in sample:
                t0 = clock()
                extract_doc.extract_document(payload, lang)
                dt = clock() - t0
                add("extract_document", dt)
                add(d, dt)
                if d == "html":
                    t0 = clock()
                    text = html_extract.extract_main_text(payload)
                    add("main_text", clock() - t0)
                    words = text.split(" ") if text else []
                    t0 = clock()
                    layout.layout_words(words, rtl=lang in pdf_extract.RTL_LANGUAGES)
                    add("layout", clock() - t0)
                else:
                    t0 = clock()
                    parsed = parsers[d](payload)
                    add("parse", clock() - t0)
                    raw, doc_lang = parsed[0], parsed[5] or lang
                    t0 = clock()
                    pdf_extract.detect_rotation(raw, doc_lang)
                    add("rotation", clock() - t0)
                res = results[id(payload)]
                t0 = clock()
                clean.split_date_boxes(res.coords, list(res.texts), list(res.confidences))
                add("date_split", clock() - t0)
                t0 = clock()
                order.order_boxes(res.coords, list(res.texts), res.width, res.height)
                add("order_boxes", clock() - t0)
            for key, s in busy.items():
                rounds.setdefault(key, []).append(1000.0 * s / docs[key])
    for key, vals in rounds.items():
        run.layer[f"kernels.{key}_ms_per_doc"] = float(statistics.median(vals))


# -- query mix ---------------------------------------------------------------


class QueryTrace:
    """Traces the query mix's timed pass itself: one span per query, then,
    outside the span, the query's executed-plan SQL metrics and the codegen
    fallbacks it logged. The time spent collecting those is the tracing
    overhead of the pass."""

    def __init__(self, run):
        self.run = run
        self.shuffle_bytes = 0.0
        self.scan_ms = 0.0
        self.fallbacks = 0
        self.overhead_s = 0.0

    def query(self, qs: dict, name: str, sf: str):
        run = self.run
        offset = log_size(run)
        with layer_span(run, f"queries.{name}"):
            df, out = workloads.run_query(run, qs, name, sf)
        t0 = time.perf_counter()
        self.fallbacks += count_in_log(run, offset, CODEGEN_FALLBACK_MARK)
        if df is not None:
            m = plan_metrics(executed_plan(df), {"Exchange": ("shuffleBytesWritten",),
                                                 "Scan": ("scanTime",)})
            self.shuffle_bytes += m.get("shuffleBytesWritten", 0.0)
            self.scan_ms += m.get("scanTime", 0.0)
        self.overhead_s += time.perf_counter() - t0
        return out

    def finish(self) -> None:
        run = self.run
        record_traced_pass(run, "pass")
        run.layer["trace.overhead_s"] = self.overhead_s
        run.layer["queries.shuffle_mb"] = self.shuffle_bytes / 2**20
        run.layer["queries.scan_ms"] = self.scan_ms
        run.layer["queries.codegen_fallbacks"] = float(self.fallbacks)
