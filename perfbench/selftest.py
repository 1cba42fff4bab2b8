"""Self-test of the benchmark harness on tiny inputs.

    python3 perfbench/selftest.py

Run it from the root of a checkout. It runs every workload twice, untraced
and traced, each in a fresh process with sf0.001-sized inputs, no warm-up
pass and one timed pass, and checks that:

* each run exits 0 and prints the result object as its last line;
* every end-to-end (untraced) or per-layer (traced) metric of
  BENCHMARK.json is printed with its unit;
* ``ok_share`` is 1 and the run verified every output;
* in a directory holding only BENCHMARK.json and the benchmark, the
  benchmark exits non-zero without printing a result.

It takes a few minutes, most of it Spark start-up and the query mix's cold
pass.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))

# sf0.001-sized inputs: 50 documents per table, a few hundred pages
TINY = {
    "CRAWL_DOCS": 200,
    "RECRAWL_DOCS": 300,
    "QUERY_SCALE": 0.001,
    "WARMUP_PASSES": {"crawl_cold": 0, "recrawl": 0, "query_mix": 0},
}


def child(argv: list[str]) -> int:
    """Run one workload through run.main with the tiny sizes."""
    sys.path.insert(0, HERE)
    sys.path.insert(0, os.getcwd())
    import run
    import workloads

    for name, value in TINY.items():
        setattr(workloads, name, value)
    return run.main(argv)


def last_json(stdout: str) -> dict:
    lines = stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else {}


def check_run(spec: dict, workload: str, traced: bool, problems: list[str]) -> None:
    argv = ["--workload", workload, "--seed", "1", "--seconds", "0.1", "--trace", str(int(traced))]
    if traced:
        out_dir = tempfile.mkdtemp(dir=os.getcwd(), prefix=".perfbench_selftest_")
        argv += ["--trace-out", os.path.join(out_dir, "trace.json")]
    p = subprocess.run([sys.executable, os.path.abspath(__file__), "--child", *argv],
                       capture_output=True, text=True, timeout=600)
    tag = f"{workload} trace={int(traced)}"
    if p.returncode != 0:
        problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
        return
    res = last_json(p.stdout)
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"{tag}: result keys {sorted(res)}")
        return
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        problems.append(f"{tag}: correct={res['correct']} attempted={res['attempted']} "
                        f"failed={res['failed']}\n{p.stderr[-2000:]}")
    for m in spec["per_layer" if traced else "end_to_end"]:
        got = res["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), float):
            problems.append(f"{tag}: metric {m['name']} printed as {got}")
    if not traced and res["metrics"].get("ok_share", {}).get("value") != 1.0:
        problems.append(f"{tag}: ok_share {res['metrics'].get('ok_share')}")
    if traced:
        with open(os.path.join(out_dir, "trace.json")) as f:
            trace = json.load(f)
        if not trace["spans"] or not res["metrics"]["trace.pass_s"]["value"] > 0:
            problems.append(f"{tag}: no traced pass in the trace file")
        shutil.rmtree(out_dir)


def check_bare_directory(problems: list[str]) -> None:
    """Without the program next to it, the benchmark must fail cleanly."""
    bare = tempfile.mkdtemp(dir=os.getcwd(), prefix=".perfbench_bare_")
    try:
        shutil.copy("BENCHMARK.json", bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "crawl_cold",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
        if p.returncode == 0 or p.stdout.strip():
            problems.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[-200:]!r}")
    finally:
        shutil.rmtree(bare)


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems: list[str] = []
    check_bare_directory(problems)
    sys.path.insert(0, HERE)
    import workloads

    # every workload, recrawl too, which BENCHMARK.json leaves out
    for name in workloads.WORKLOADS:
        for traced in (False, True):
            before = len(problems)
            check_run(spec, name, traced, problems)
            print(f"{name} trace={int(traced)}: {'ok' if len(problems) == before else 'FAILED'}",
                  flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        sys.exit(child(sys.argv[2:]))
    sys.exit(main())
