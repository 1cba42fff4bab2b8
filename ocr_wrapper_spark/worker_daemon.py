"""PySpark worker daemon that keeps zip imports' directories while unchanged.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, after adding the task's
``--py-files`` to ``sys.path``). Before CPython 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive at once, and a worker holds one zipimporter per
package directory it imported from ``pyspark.zip``: about 14 re-reads of
a 1 328-entry directory, some 127 ms of CPU, on every task. CPython 3.13
only drops the cached entry and re-reads lazily.

``install()`` makes a zipimporter re-read its archive only when the file
changed on disk since this importer last read it, judged by
``(st_mtime_ns, st_size, st_ino)``. A missing archive goes to the stock
code, which drops its cache entry. Run as a module, this is the daemon
that ``session.get_spark`` names in ``spark.python.daemon.module``: it
installs the rule, keys every importer that exists before the fork, then
runs PySpark's own daemon loop.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _archive_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_if_changed(self) -> None:
    """zipimporter.invalidate_caches that skips an unchanged archive."""
    key = _archive_key(self.archive)
    if key is not None and key == getattr(self, "_stat_key", None):
        return
    # keyed before the read: a rewrite racing the read is seen next time
    self._stat_key = key
    _stock_invalidate(self)


def install(version_info=sys.version_info) -> bool:
    """Patch zipimporter.invalidate_caches on Python < 3.13; True when
    this call patched it."""
    current = zipimport.zipimporter.invalidate_caches
    # by name: run with -m, this module is also __main__, a second copy
    if version_info >= (3, 13) or current.__name__ == _invalidate_if_changed.__name__:
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return True


if __name__ == "__main__":
    import importlib

    install()
    from pyspark import daemon

    importlib.invalidate_caches()  # forked workers inherit keyed importers
    daemon.manager()
