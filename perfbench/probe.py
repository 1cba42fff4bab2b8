"""Process-tree and JVM probes.

The benchmark process starts the Spark driver JVM, which starts the Python
worker daemon and its workers. CPU and memory are therefore read for the
whole process tree rooted at this process, from ``/proc``.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in pids if pids is not None else tree_pids():
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                fields = f.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 (1-based)
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def tree_rss_mb(pids: list[int] | None = None) -> float:
    total = 0
    for pid in pids if pids is not None else tree_pids():
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 2**20


# HotSpot names its JIT threads "C1 CompilerThread<n>" / "C2 CompilerThread<n>";
# the kernel keeps the first 15 bytes of a thread name
_COMPILER_THREADS = (b"C1 CompilerThre", b"C2 CompilerThre")


def compiler_cpu_s(pid: int) -> float:
    """User + system CPU seconds of the JIT compiler threads of JVM ``pid``."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.index(b"(") + 1 : stat.rindex(b")")].startswith(_COMPILER_THREADS):
            fields = stat[stat.rindex(b")") + 2 :].split()
            total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / _CLK


class RssSampler:
    """Background thread that keeps the peak tree RSS seen since the last
    ``reset``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_mb(self) -> float:
        with self._lock:
            return self._peak_mb

    def reset(self) -> None:
        with self._lock:
            self._peak_mb = 0.0

    def _run(self) -> None:
        pids, refreshed = tree_pids(), time.monotonic()
        while not self._stop.wait(self.interval_s):
            if time.monotonic() - refreshed > 1.0:
                pids, refreshed = tree_pids(), time.monotonic()
            rss = tree_rss_mb(pids)
            with self._lock:
                self._peak_mb = max(self._peak_mb, rss)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Jvm:
    """JIT, GC and heap counters of the driver JVM, read over py4j, and the
    CPU of its compiler threads, read from /proc."""

    def __init__(self, spark):
        self.pid = spark.sparkContext._gateway.proc.pid  # spark-submit execs the JVM
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if str(p.getType().name()) == "HEAP"
        ]

    def jit_ms(self) -> float:
        """Elapsed milliseconds spent compiling, as the JVM reports it."""
        return float(self._comp.getTotalCompilationTime())

    def jit_cpu_s(self) -> float:
        return compiler_cpu_s(self.pid)

    def gc_ms(self) -> float:
        return float(sum(g.getCollectionTime() for g in self._gcs))

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools) / 2**20
