"""The benchmark's three workloads, driven through the program's public API.

Every workload runs in a fresh process and follows one schedule:

1. set-up: start a host-sized Spark session, build the seeded inputs in the
   run's own work directory, then a fixed number of untimed warm-up
   passes;
2. a fixed count of timed passes, about ``seconds`` of pass wall time
   (the query mix: one pass);
   every pass starts from the same state, restored outside the pass, and
   the state that had to be cleaned up is counted;
3. verification of the last timed pass's outputs, outside the timing;
4. with tracing on, a traced replay of one pass, layer by layer, and a
   single-thread kernel replay (``layers.py``).

Why each workload exists is recorded in README.md next to this file.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import threading
import time

import numpy as np

import datagen
import probe

# -- sizes ------------------------------------------------------------------
# Chosen so that one run of each workload, set-up included, stays well inside
# the time a benchmark run may take on a 4-core host; see README.md.
CRAWL_DOCS = 5000  # crawl_cold pages, all five payload dialects
RECRAWL_DOCS = 9000  # recrawl pages; one pass lasts about a crawl_cold pass
RECRAWL_CHANGED = 0.10  # share of pages whose content changed since the prior crawl
RECRAWL_DONE = 0.25  # share of lineage buckets already done for the resumed run
QUERY_SCALE = 0.005  # TPC-H scale of the tables the query mix reads
N_BUCKETS = 1024  # plans.partitioning.DEFAULT_BUCKETS, which run_extraction uses

# Untimed warm-up passes per run, a fixed count: the cold pass and three
# warm ones for crawl_cold; three warm recrawl passes after the prior crawl,
# which is the cold one. By then pass times have mostly stopped falling
# with the JIT's progress (see README.md). A count, not a time budget, so
# that every run's timed passes sit at the same point of the JIT warm-up
# curve; under a budget a slow host would buy fewer warm-ups and so also
# slower timed passes.
WARMUP_PASSES = {"crawl_cold": 4, "recrawl": 3, "query_mix": 0}
# The timed passes are a count too, for the same reason: ``seconds`` over a
# warm pass's wall time on a 4-core host of nominal speed. A slow host would
# fit fewer passes into a window of ``seconds``, and their median would sit
# higher on the still-falling JIT curve. The query mix times
# exactly one pass, the first (cold) one of a fresh session, which lasts
# about as long as the other workloads' timed passes together: a warm mix
# pass costs ~18 s and its JIT needs three or more to flatten, and the run
# budget has room for neither.
NOMINAL_PASS_S = {"crawl_cold": 2.7, "recrawl": 2.3}


def timed_passes(workload: str, seconds: float) -> int:
    """How many timed passes a run of ``workload`` makes."""
    if workload not in NOMINAL_PASS_S:
        return 1
    return max(1, round(seconds / NOMINAL_PASS_S[workload]))


# The registered queries of the mix. crawl_priority_fusion belongs here but
# is left out: through graph_queries._outlinked it calls
# sources.pages.materialize_pages, which writes under a fixed /tmp path keyed
# by the data directory's name, outside the benchmark's checkout, and reuses
# whatever an earlier run left there (see README.md).
MIX = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "dedup_minhash_lsh",
    "kmv_distinct_sketch",
    "doclen_quantile_sketch",
    "url_parallel_candidates",
    "crawl_ingest_funnel",
    "bitext_margin_mine",
    "redirect_chain_resolution",
    "vocab_drift",
    "wand_block_max",
]

def physical_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def med(values) -> float:
    return float(statistics.median(values))


def du_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def snapshots(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return sorted(n for n in os.listdir(path) if n.startswith("snap-"))


class Run:
    """One benchmark run: session, work directory, probes and results."""

    def __init__(self, name: str, root: str, work: str, seed: int, seconds: float, tracer):
        self.name = name
        self.root = root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer
        self.rng = np.random.default_rng([seed, 0])
        self.spark = None
        self.jvm = None
        self.layer: dict[str, float] = {}  # per-layer metric values
        self.passes: dict[str, list[dict]] = {}
        self.notes: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.rss = None  # probe.RssSampler, reset at the start of every pass
        self.log_path = ""  # the JVM's log
        self.setup_end = 0.0  # perf_counter() at the end of the set-up

    def start_session(self, build_inputs=None):
        """Start a host-sized Spark session. ``build_inputs`` (which needs
        no Spark) runs in a thread meanwhile, as the JVM start is mostly
        waiting; its result is returned."""
        from ocr_wrapper_spark.session import get_spark

        box: dict = {}

        def build() -> None:
            t0 = time.perf_counter()
            try:
                box["out"] = build_inputs()
            except BaseException as exc:  # re-raised in the caller's thread
                box["error"] = exc
            box["span"] = (t0, time.perf_counter())

        builder = threading.Thread(target=build) if build_inputs else None
        if builder:
            builder.start()
        ncpu = os.cpu_count() or 1
        # the program's defaults (32 cores, 16 GB heap) exceed small hosts
        heap_mb = max(1024, min(2048, physical_mb() // 4))
        conf = {
            "spark.driver.memory": f"{heap_mb}m",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{self.work}/spark-local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            # a fixed heap size, touched in full at start-up and backed by
            # transparent huge pages: RSS then does not depend on when the
            # collector grows the heap or first touches a region, and that
            # first-touch cost is paid in the set-up, not in a pass. A
            # fixed set of JIT compiler threads: their CPU, read per
            # thread, is then not lost when an idle one exits.
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap_mb}m -XX:+AlwaysPreTouch -XX:+UseTransparentHugePages "
                f"-XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={self.work}/tmp"
            ),
        }
        with self.tr.span("session.start"):
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench", master=f"local[{ncpu}]", extra_conf=conf)
            self.layer["session.start_s"] = time.perf_counter() - t0
        self.jvm = probe.Jvm(self.spark)
        if builder is None:
            return None
        builder.join()
        if "error" in box:
            raise box["error"]
        t0, t1 = box["span"]
        self.tr.record("sources.pages.build", t0, t1)
        self.layer["sources.pages.build_s"] = t1 - t0
        return box["out"]

    def release_persisted(self) -> int:
        """Unpersist every persisted RDD and return how many there were.

        ``run_extraction`` local-checkpoints its result and no caller can
        release it, so without this every pass would start with one more
        block set in memory than the one before."""
        rdds = self.spark.sparkContext._jsc.getPersistentRDDs()
        n = len(rdds)
        for rdd in list(rdds.values()):
            rdd.unpersist(True)
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark._jvm.System.gc()  # each pass starts from a collected heap
        return n

    def measure(self, fn) -> dict:
        pids = probe.tree_pids()
        cpu0 = probe.tree_cpu_s(pids)
        jit0, jit_cpu0, gc0 = self.jvm.jit_ms(), self.jvm.jit_cpu_s(), self.jvm.gc_ms()
        self.jvm.reset_heap_peak()
        if self.rss is not None:
            self.rss.reset()
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
        cpu_s = probe.tree_cpu_s(probe.tree_pids()) - cpu0
        jit_cpu_s = self.jvm.jit_cpu_s() - jit_cpu0
        return {
            "wall_s": wall,
            "cpu_s": cpu_s,
            # CPU net of the JIT compiler threads: compilation is a cost
            # that keeps falling for several passes (see README.md)
            "work_cpu_s": cpu_s - jit_cpu_s,
            "jit_cpu_s": jit_cpu_s,
            "jit_ms": self.jvm.jit_ms() - jit0,
            "gc_ms": self.jvm.gc_ms() - gc0,
            "heap_peak_mb": self.jvm.heap_peak_mb(),
            "peak_rss_mb": self.rss.peak_mb if self.rss is not None else 0.0,
        }

    def run_passes(self, pass_fn, reset_fn, warm: list[dict] | None = None,
                   before_timed=None) -> list[dict]:
        """Warm-up passes, then timed passes. ``reset_fn`` runs untimed
        before every pass and returns the count of state it cleaned up;
        ``before_timed`` runs once between the two, outside the set-up
        time. Returns the timed passes; ``self.setup_end`` marks the end of
        the set-up."""
        warm = list(warm or [])
        with self.tr.span("warmup"):
            for _ in range(WARMUP_PASSES[self.name]):
                drift = reset_fn()
                m = self.measure(pass_fn)
                m["drift"] = drift
                warm.append(m)
        self.setup_end = time.perf_counter()
        if before_timed is not None:
            before_timed()
        timed: list[dict] = []
        with self.tr.span("timed"):
            for _ in range(timed_passes(self.name, self.seconds)):
                drift = reset_fn()
                with self.tr.span("pass"):
                    m = self.measure(pass_fn)
                m["drift"] = drift
                timed.append(m)
        self.layer["jvm.jit_compile_ms"] = med(m["jit_ms"] for m in timed)
        self.layer["jvm.jit_cpu_ms"] = med(1000.0 * m["jit_cpu_s"] for m in timed)
        self.layer["jvm.gc_ms"] = med(m["gc_ms"] for m in timed)
        self.layer["jvm.heap_used_peak_mb"] = med(m["heap_peak_mb"] for m in timed)
        self.layer["state.persisted_rdds_released"] = med(m["drift"] for m in timed)
        self.layer["warmup.passes"] = float(len(warm))
        self.passes = {"warmup": warm, "timed": timed}
        return timed

    def record_cache_writes(self, cache_path: str, before: list[str]) -> None:
        """Snapshots and bytes the last timed pass added to the cache table."""
        new = [s for s in snapshots(cache_path) if s not in before]
        self.layer["sources.cache.snapshots_written"] = float(len(new))
        self.layer["sources.cache.bytes_written"] = float(
            sum(du_bytes(f"{cache_path}/{s}") for s in new)
        )


# ---------------------------------------------------------------------------
# extraction workloads


def page_rows(docs: dict):
    """Page rows (url, warc_ts, html, text, lang) from document rows, built
    by the program's page builder ``sources.pages.build_page_rows``."""
    import pandas as pd

    from ocr_wrapper_spark.sources.pages import build_page_rows

    rows = build_page_rows(pd.DataFrame(docs))
    rows["warc_ts"] = rows["warc_ts"].dt.tz_localize("UTC")
    return rows


def write_pages(rows, out: str) -> str:
    """Write page rows as 2 x cores parquet files, so the extraction scan
    plans one split per file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_files = 2 * (os.cpu_count() or 1)
    os.makedirs(out)
    for k in range(n_files):
        part = rows.iloc[k::n_files]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), f"{out}/part-{k:03d}.parquet")
    return out


def extraction_pass(run: Run, pages_path: str, pass_dir: str, run_id: str, resume: bool) -> None:
    """One crawl: run_extraction with cache and metrics tables, results written."""
    from ocr_wrapper_spark.plans.pipeline import run_extraction

    pages = run.spark.read.parquet(pages_path)
    result = run_extraction(
        run.spark, pages, cache_path=f"{pass_dir}/cache", metrics_path=f"{pass_dir}/metrics",
        run_id=run_id, resume=resume,
    )
    result.write.parquet(f"{pass_dir}/results")


def verify_extraction(run: Run, pages_path: str, results_path: str, done: list[int],
                      prior_pages: str | None) -> dict:
    """Per-url check of the last timed pass's results.

    A url is expected when its lineage bucket is not already done. An
    expected url verifies when it appears exactly once, with
    ``extracted_text == text``, no error, and ``is_hit`` exactly when its
    text is unchanged since the prior crawl. A url that should have been
    skipped but appears is a failure too. Buckets and expectations are
    computed here with plain Spark expressions, not the program's helpers."""
    from pyspark.sql import functions as F

    spark = run.spark
    expected = spark.read.parquet(pages_path).select("url", "text").withColumn(
        "b", F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).cast("int")
    )
    if done:
        expected = expected.filter(~F.col("b").isin(done))
    if prior_pages:
        prior = spark.read.parquet(prior_pages).select("url", F.col("text").alias("prior_text"))
        expected = expected.join(prior, "url", "left")
        expected = expected.withColumn("want_hit", F.col("prior_text").eqNullSafe(F.col("text")))
    else:
        expected = expected.withColumn("want_hit", F.lit(False))
    per_url = spark.read.parquet(results_path).groupBy("url").agg(
        F.count("*").alias("n"),
        F.first("extracted_text").alias("extracted_text"),
        F.first("error").alias("error"),
        F.first("is_hit").alias("is_hit"),
    )
    row = expected.join(per_url, "url", "full_outer").agg(
        F.sum(F.col("text").isNotNull().cast("long")).alias("n_expected"),
        F.sum((F.col("text").isNull() & F.col("n").isNotNull()).cast("long")).alias("n_unexpected"),
        F.sum(
            (
                F.col("text").isNotNull()
                & (F.col("n") == 1)
                & F.col("extracted_text").eqNullSafe(F.col("text"))
                & F.col("error").isNull()
                & F.col("is_hit").eqNullSafe(F.col("want_hit"))
            ).cast("long")
        ).alias("n_ok"),
        F.sum(F.col("is_hit").cast("long")).alias("n_hit"),
        F.sum(F.col("n")).alias("n_rows"),
    ).collect()[0]
    attempted = int(row["n_expected"] or 0) + int(row["n_unexpected"] or 0)
    return {
        "attempted": attempted,
        "ok": int(row["n_ok"] or 0),
        "rows": int(row["n_rows"] or 0),
        "hit_share": int(row["n_hit"] or 0) / max(1, int(row["n_rows"] or 0)),
    }


def extraction_result(run: Run, v: dict, timed: list[dict], setup_s: float) -> dict:
    run.attempted = v["attempted"]
    run.failed = v["attempted"] - v["ok"]
    run.layer["sources.cache.hit_share"] = v["hit_share"]
    docs = max(1, v["rows"])
    return {
        "docs_per_s": med(docs / m["wall_s"] for m in timed),
        "cpu_ms_per_doc": med(1000.0 * m["work_cpu_s"] / docs for m in timed),
        "mix_s": med(m["wall_s"] for m in timed),
        "setup_s": setup_s,
        "peak_rss_mb": med(m["peak_rss_mb"] for m in timed),
        "ok_share": v["ok"] / max(1, v["attempted"]),
    }


def crawl_cold(run: Run) -> dict:
    """First crawl: empty cache and metrics tables, every page a miss."""
    work = run.work
    pass_dir = f"{work}/pass"
    with run.tr.span("setup"):
        t_setup = time.perf_counter()
        docs = datagen.documents(run.rng, CRAWL_DOCS)
        docs["doc_id"] = datagen.remap_doc_ids(run.rng, docs["doc_id"])
        pages_path = run.start_session(lambda: write_pages(page_rows(docs), f"{work}/pages"))

        def reset() -> int:
            drift = run.release_persisted()
            shutil.rmtree(pass_dir, ignore_errors=True)
            return drift

        timed = run.run_passes(
            lambda: extraction_pass(run, pages_path, pass_dir, "crawl", resume=False), reset
        )
    setup_s = run.setup_end - t_setup
    run.record_cache_writes(f"{pass_dir}/cache", [])
    with run.tr.span("verify"):
        v = verify_extraction(run, pages_path, f"{pass_dir}/results", [], None)
    out = extraction_result(run, v, timed, setup_s)
    if run.tr.enabled:
        import layers

        layers.extraction_layers(run, pages_path, pass_dir, "crawl", None, out["mix_s"])
    return out


def recrawl(run: Run) -> dict:
    """A crashed recrawl resumed: the cache holds a prior crawl, a quarter
    of the lineage buckets are already done for this run id."""
    from ocr_wrapper_spark.sources import metrics as metrics_tbl

    work = run.work
    pass_dir = f"{work}/pass"
    pristine = f"{work}/pristine"
    with run.tr.span("setup"):
        t_setup = time.perf_counter()
        docs = datagen.documents(run.rng, RECRAWL_DOCS)
        docs["doc_id"] = datagen.remap_doc_ids(run.rng, docs["doc_id"])
        # changed pages keep their url and get new content, so a new hash
        n_changed = int(round(RECRAWL_CHANGED * RECRAWL_DOCS))
        changed = np.sort(run.rng.choice(RECRAWL_DOCS, size=n_changed, replace=False))
        new_docs = {k: v[changed] for k, v in docs.items()}
        new_docs["text"] = datagen.documents(run.rng, n_changed)["text"]
        new_docs["n_chars"] = np.array([len(t) for t in new_docs["text"]], dtype=np.int64)
        done = sorted(
            int(b) for b in run.rng.choice(N_BUCKETS, size=int(RECRAWL_DONE * N_BUCKETS),
                                            replace=False)
        )

        def build_inputs():
            import pandas as pd

            prior_rows = page_rows(docs)
            cur_rows = pd.concat([prior_rows.drop(index=changed), page_rows(new_docs)],
                                 ignore_index=True)
            return (write_pages(prior_rows, f"{work}/pages_prior"),
                    write_pages(cur_rows, f"{work}/pages"))

        prior_pages, pages_path = run.start_session(build_inputs)

        # the prior crawl is the cold warm-up pass: it fills the cache
        prior = run.measure(lambda: extraction_pass(run, prior_pages, pristine, "prior", False))
        prior["drift"] = 0
        shutil.rmtree(f"{pristine}/results")
        done_rows = run.spark.createDataFrame(
            [("resume", b, metrics_tbl.STATUS_DONE, 0, 0, 0, 0.0) for b in done],
            "run_id string, bucket int, status string, n_docs long, n_errors long, "
            "n_cache_hits long, wall_ms double",
        )
        metrics_tbl.append_metrics(done_rows, f"{pristine}/metrics")

        def reset() -> int:
            drift = run.release_persisted()
            shutil.rmtree(pass_dir, ignore_errors=True)
            os.makedirs(pass_dir)
            shutil.copytree(f"{pristine}/cache", f"{pass_dir}/cache")
            shutil.copytree(f"{pristine}/metrics", f"{pass_dir}/metrics")
            return drift

        timed = run.run_passes(
            lambda: extraction_pass(run, pages_path, pass_dir, "resume", resume=True), reset,
            warm=[prior],
        )
    setup_s = run.setup_end - t_setup
    run.record_cache_writes(f"{pass_dir}/cache", snapshots(f"{pristine}/cache"))
    with run.tr.span("verify"):
        v = verify_extraction(run, pages_path, f"{pass_dir}/results", done, prior_pages)
    out = extraction_result(run, v, timed, setup_s)
    if run.tr.enabled:
        import layers

        layers.extraction_layers(run, pages_path, pass_dir, "resume", pristine, out["mix_s"])
    return out


# ---------------------------------------------------------------------------
# query mix


def load_crosscheck(root: str):
    """``scripts/crosscheck.py`` as a module, imported unchanged."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("crosscheck", f"{root}/scripts/crosscheck.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_query(run: Run, qs: dict, name: str, sf: str):
    """(DataFrame, pandas result); on an error (None, the exception)."""
    try:
        df = qs[name](run.spark, sf)
        return df, df.toPandas()
    except Exception as exc:  # a failing query counts as failed; the mix goes on
        return None, exc


def query_mix(run: Run) -> dict:
    """One pass runs the registered query mix in a seeded order."""
    import __spark_entry__ as entry

    work = run.work
    with run.tr.span("setup"):
        t_setup = time.perf_counter()
        sf = datagen.write_sf_dir(run.seed, QUERY_SCALE, f"{work}/sf")
        order = [MIX[i] for i in run.rng.permutation(len(MIX))]
        # the DuckDB oracles need no Spark: they run while the session
        # starts and must be done before the timed pass. The query modules
        # are imported here first: they finish their oracle registry at
        # import time, so a second thread must not import them concurrently.
        qs = entry.queries()
        sql = entry.oracle_sql()
        cc = load_crosscheck(run.root)
        oracle: dict = {}
        oracles = threading.Thread(target=lambda: oracle.update(oracle_results(cc, sql, sf)))
        oracles.start()
        run.start_session()
        last: dict[str, object] = {}
        persisted: list[int] = []
        if run.tr.enabled:
            import layers

            query_trace = layers.QueryTrace(run)

        def one_pass() -> None:
            n = 0
            for name in order:
                if run.tr.enabled:
                    last[name] = query_trace.query(qs, name, sf)
                else:
                    last[name] = run_query(run, qs, name, sf)[1]
                # blocks a query persisted and cannot release itself
                n += len(run.spark.sparkContext._jsc.getPersistentRDDs())
                run.spark.catalog.clearCache()
            persisted.append(n)

        timed = run.run_passes(one_pass, run.release_persisted, before_timed=oracles.join)
    setup_s = run.setup_end - t_setup
    run.layer["queries.persisted_rdds"] = med(persisted[-len(timed):])
    with run.tr.span("verify"):
        ok = verify_queries(run, cc, oracle, last)
    run.attempted = len(MIX)
    run.failed = len(MIX) - ok
    n_docs = datagen.n_documents(QUERY_SCALE)
    out = {
        "docs_per_s": med(n_docs / m["wall_s"] for m in timed),
        "cpu_ms_per_doc": med(1000.0 * m["work_cpu_s"] / n_docs for m in timed),
        "mix_s": med(m["wall_s"] for m in timed),
        "setup_s": setup_s,
        "peak_rss_mb": med(m["peak_rss_mb"] for m in timed),
        "ok_share": ok / len(MIX),
    }
    if run.tr.enabled:
        query_trace.finish()
    return out


def oracle_results(cc, sql: dict, sf: str) -> dict:
    """Each mix query's DuckDB oracle result, normalized by
    ``scripts/crosscheck.py``'s ``norm``; an oracle error is kept as the
    exception."""
    import duckdb

    out: dict = {}
    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        for name in MIX:
            try:
                out[name] = cc.norm(con.sql(sql[name]).df())
            except Exception as exc:  # an oracle error fails the query, not the run
                out[name] = exc
    finally:
        con.close()
    return out


def verify_queries(run: Run, cc, oracle: dict, results: dict) -> int:
    """Compare each query's last result with its oracle as
    ``scripts/crosscheck.py`` does: row count, column names, integer/float
    dtype agreement and an order-insensitive value hash."""
    import pandas as pd

    ok = 0
    for name in MIX:
        got, odf = results.get(name), oracle.get(name)
        if not isinstance(got, pd.DataFrame):
            run.notes.append(f"{name}: spark error: {got}")
            continue
        if not isinstance(odf, pd.DataFrame):
            run.notes.append(f"{name}: oracle error: {odf}")
            continue
        sdf = cc.norm(got)
        same = (
            len(sdf) == len(odf)
            and sorted(sdf.columns) == sorted(odf.columns)
            and not any(
                {sdf[c].dtype.kind, odf[c].dtype.kind} in ({"i", "f"}, {"u", "f"})
                for c in sdf.columns
            )
            and cc.value_hash(sdf) == cc.value_hash(odf)
        )
        if same:
            ok += 1
        else:
            run.notes.append(f"{name}: result differs from its oracle")
    return ok


WORKLOADS = {"crawl_cold": crawl_cold, "recrawl": recrawl, "query_mix": query_mix}
