"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_cold --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. Each invocation is one fresh process
that runs one workload (``workloads.py``) and prints, as the last line of
standard output, one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics; a traced run also writes its spans to ``--trace-out``.

Everything the run writes goes to a work directory under the checkout,
removed at the end; the JVM's log goes there too and is echoed to standard
error only when the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import probe  # noqa: E402
from spans import Tracer  # noqa: E402


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", default=None,
                    help="spans JSON of a traced run (default .perfbench_out/trace-<workload>-<seed>.json)")
    return ap.parse_args(argv)


def fail(msg: str, err_fd: int) -> int:
    os.write(err_fd, f"perfbench: {msg}\n".encode())
    return 2


def stop_tree(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for all of them."""
    proc = None
    if spark is not None:
        gateway = spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    me = os.getpid()
    while True:
        left = [p for p in probe.tree_pids() if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        # reap our own exited children so they leave the tree
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    err_fd = os.dup(2)
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as exc:
        return fail(f"cannot read BENCHMARK.json in {root}: {exc}", err_fd)
    for need in ("ocr_wrapper_spark/__init__.py", "__spark_entry__.py", "scripts/crosscheck.py"):
        if not os.path.isfile(os.path.join(root, need)):
            return fail(f"{need} not found: run from the root of a checkout", err_fd)

    sys.path.insert(0, root)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
                    err_fd)

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    log_path = os.path.join(work, "driver.log")
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(log_fd, 2)  # the JVM inherits this: its log lands in driver.log
    os.close(log_fd)

    tracer = Tracer(bool(args.trace))
    run = workloads.Run(args.workload, root, work, args.seed, args.seconds, tracer)
    run.log_path = log_path
    status = 1
    result = None
    try:
        with probe.RssSampler() as rss:
            run.rss = rss
            e2e = workloads.WORKLOADS[args.workload](run)
        result = report(spec, run, e2e, bool(args.trace))
        if args.trace:
            out = args.trace_out or os.path.join(
                root, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
            os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
            tracer.write(out, {"workload": args.workload, "seed": args.seed,
                               "seconds": args.seconds, "metrics": result["metrics"],
                               "passes": run.passes, "notes": run.notes})
        status = 0
    except Exception:
        os.write(err_fd, traceback.format_exc().encode())
    finally:
        try:
            stop_tree(run.spark)
        except Exception:
            os.write(err_fd, traceback.format_exc().encode())
            status = 1
        if status != 0:
            with open(log_path, "rb") as f:
                os.write(err_fd, b"".join(f.readlines()[-60:]))
        for note in run.notes:
            os.write(err_fd, f"perfbench: {note}\n".encode())
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if status == 0:
        print(json.dumps(result), flush=True)
    return status


def report(spec: dict, run, e2e: dict, traced: bool) -> dict:
    """The result object; metric names and units come from BENCHMARK.json."""
    if traced:
        values = run.layer
        wanted = spec["per_layer"]
    else:
        values = e2e
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    return {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": int(run.attempted),
        "failed": int(run.failed),
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
