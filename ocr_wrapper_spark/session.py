"""SparkSession factory tuned for the extraction workload.

Settings chosen for scale (see SURVEY.md §4): AQE on (runtime re-plan +
skew-join splitting), shuffle partitions sized to cores for local mode,
Arrow enabled with a small max batch size because rows carry large
``html`` binary payloads (SURVEY.md §7 watch-list item 6).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Large html blobs: keep Arrow batches small so a batch of pages stays well
# under executor memory. The bytes cap makes the batch size adapt to the
# page size: thin synthetic pages run full 1024-row batches, 70KB+ real-web
# pages get cut to ~100 rows (measured 2.7x on fat pages; oversized batches
# stall the JVM<->worker pipeline and bloat task memory). ``extra_conf``
# overrides either.
ARROW_MAX_RECORDS_PER_BATCH = 1024
ARROW_MAX_BYTES_PER_BATCH = 8 * 1024 * 1024


def _default_driver_mem() -> str:
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 2, 16 * 1024**3) // 1024**2}m"


DAEMON_MODULE = "ocr_wrapper_spark.worker_daemon"
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?$")


def worker_daemon_conf(
    master: str, extra_conf: dict[str, str] | None = None, package_file: str = __file__
) -> dict[str, str]:
    """The conf that runs Python workers under ``worker_daemon`` (see its
    docstring), or {} for PySpark's stock daemon.

    Only for a ``local[...]`` master whose workers can import this package
    from the plain directory it was imported from here (not from a
    ``--py-files`` zip): that directory goes on the workers' PYTHONPATH.
    A caller who sets the daemon module or the workers' PYTHONPATH keeps
    the stock daemon, or their own."""
    pkg_dir = os.path.dirname(os.path.abspath(package_file))
    extra = extra_conf or {}
    if (
        not _LOCAL_MASTER.match(master)
        or "spark.python.daemon.module" in extra
        or "spark.executorEnv.PYTHONPATH" in extra
        or not os.path.isfile(os.path.join(pkg_dir, "worker_daemon.py"))
    ):
        return {}
    return {
        "spark.python.daemon.module": DAEMON_MODULE,
        "spark.executorEnv.PYTHONPATH": os.path.dirname(pkg_dir),
    }


def get_spark(
    app_name: str = "ocr_wrapper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default the
    host's core count); the driver heap to ``$SPARK_GRAFT_DRIVER_MEM``
    (env, default half the host's physical memory, at most 16g). On a
    real cluster the caller passes no master and spark-submit decides.
    A local session runs its Python workers under ``worker_daemon``
    (``worker_daemon_conf``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] -> N; a real cluster would size this to 2-3x total cores.
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if inner == "*" else max(8, int(inner))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS_PER_BATCH))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_MAX_BYTES_PER_BATCH))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in {**worker_daemon_conf(master, extra_conf), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
