"""A/B sweep of the JVM<->Python exchange batch size on the extraction job.

Sweeps SPARK_GRAFT_ARROW_BATCH (Arrow batch rows) over the materialized
pages table, one fresh pinned JVM per cell so settings can't leak
between runs. Every cell embeds the pure-mp host-health probe so a
sweep taken in a dirty window is labeled as such; results append to
BENCH/AB_SWEEP_HISTORY.jsonl (the round-2 lesson: never keep only the
luckiest measurement).

Usage: python scripts/ab_sweep.py [sf_dir] [cores]
Interpret only same-window cells against each other; the probe value is
the window fingerprint.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time
sys.path.insert(0, sys.argv[3])
cores, pages_path = sys.argv[1], sys.argv[2]
from ocr_wrapper_spark.session import get_spark
from ocr_wrapper_spark.plans.pipeline import run_extraction
spark = get_spark(app_name="ab-sweep", master=f"local[{cores}]",
                  extra_conf={"spark.ui.showConsoleProgress": "false",
                              "spark.sql.files.maxPartitionBytes": "1m",
                              "spark.sql.files.openCostInBytes": "1m"})
pages = spark.read.parquet(pages_path)
run_extraction(spark, pages.limit(int(cores) * 64).repartition(int(cores))).count()
best = None; n = 0
for _ in range(3):
    t0 = time.perf_counter()
    n = run_extraction(spark, pages).count()
    dt = time.perf_counter() - t0
    best = dt if best is None or dt < best else best
print(json.dumps({"n_docs": n, "sec": best, "docs_per_sec": n / best}))
"""


def probe() -> dict:
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "scripts", "host_health.py")],
            capture_output=True, text=True, timeout=600,
        )
        lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
        return json.loads(lines[-1]) if lines else {"error": out.stderr[-200:]}
    except Exception as exc:  # a dead probe shouldn't abort the sweep
        return {"error": f"{type(exc).__name__}: {exc}"}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    sys.path.insert(0, REPO)
    from ocr_wrapper_spark.session import get_spark
    from ocr_wrapper_spark.sources.pages import materialize_pages

    spark = get_spark(
        app_name="ab-materialize", master="local[8]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    pages_path = materialize_pages(spark, sf_dir)
    spark.stop()

    history = os.path.join(REPO, "BENCH", "AB_SWEEP_HISTORY.jsonl")
    results = []
    for batch in (512, 1024, 2048):
        env = dict(os.environ, SPARK_GRAFT_ARROW_BATCH=str(batch))
        try:
            out = subprocess.run(
                ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", CHILD,
                 str(cores), pages_path, REPO],
                capture_output=True, text=True, timeout=1800, env=env,
            )
        except subprocess.TimeoutExpired:
            print(f"# cell batch={batch} TIMEOUT", file=sys.stderr)
            continue
        lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
        if not lines:
            print(f"# cell batch={batch} FAILED", file=sys.stderr)
            continue
        cell = json.loads(lines[-1])
        rec = {"arrow_batch": batch, "docs_per_sec": cell["docs_per_sec"], "probe": probe(),
               "sf_dir": sf_dir, "cores": cores,
               "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
        results.append(rec)
        with open(history, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(json.dumps(rec))

    if results:
        best = max(results, key=lambda r: r["docs_per_sec"])
        print(f"# best: batch={best['arrow_batch']} "
              f"{best['docs_per_sec']:.0f} docs/s "
              f"(probe {best['probe'].get('per_doc_ms', '?')} ms/doc)")


if __name__ == "__main__":
    main()
