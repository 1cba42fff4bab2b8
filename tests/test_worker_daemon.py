"""The worker daemon's zip-directory rule, the session's choice of daemon,
and a pandas-free extraction operator module."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from ocr_wrapper_spark import worker_daemon
from ocr_wrapper_spark.session import DAEMON_MODULE, worker_daemon_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 re-reads zip directories lazily"
)


@pytest.fixture
def patched(monkeypatch):
    """worker_daemon.install() for one test; the stock method comes back after."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    assert worker_daemon.install()
    yield


@pytest.fixture
def reads(monkeypatch):
    """Counts zipimport._read_directory calls, by archive path."""
    seen: list[str] = []
    stock = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@needs_patch
def test_unchanged_zip_is_not_reread(tmp_path, patched, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"owd_mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()  # the first call keys the importer
    del reads[:]
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == []
    assert importer.find_spec("owd_mod_a") is not None


@needs_patch
def test_rewritten_zip_is_reread_and_new_module_imports(tmp_path, monkeypatch, patched, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"owd_mod_b": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "owd_mod_b", raising=False)
    monkeypatch.delitem(sys.modules, "owd_mod_c", raising=False)
    assert importlib.import_module("owd_mod_b").X == 1
    importer = sys.path_importer_cache[archive]
    importer.invalidate_caches()

    _write_zip(archive, {"owd_mod_b": "X = 1\n", "owd_mod_c": "Y = 2\n"})
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("owd_mod_c").Y == 2


@needs_patch
def test_deleted_zip_drops_its_cache_entry(tmp_path, patched):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"owd_mod_d": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    assert archive in zipimport._zip_directory_cache

    os.remove(archive)
    importer.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert importer._files == {}
    assert importer.find_spec("owd_mod_d") is None


def test_nothing_is_patched_on_python_313(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    assert worker_daemon.install((3, 13, 0)) is False
    assert worker_daemon.install((3, 14, 1)) is False
    assert zipimport.zipimporter.invalidate_caches is stock


# -- the session's choice of daemon (no JVM) ---------------------------------


def test_local_session_from_a_checkout_uses_the_daemon():
    for master in ("local", "local[4]", "local[*]", "local[4,2]"):
        conf = worker_daemon_conf(master)
        assert conf == {
            "spark.python.daemon.module": DAEMON_MODULE,
            "spark.executorEnv.PYTHONPATH": REPO,
        }, master


def test_non_local_master_keeps_the_stock_daemon():
    for master in ("spark://host:7077", "yarn", "k8s://https://h:443", "local-cluster[2,1,1024]"):
        assert worker_daemon_conf(master) == {}, master


def test_package_imported_from_a_zip_keeps_the_stock_daemon(tmp_path):
    zipped = str(tmp_path / "dist" / "ocr_wrapper_spark.zip" / "ocr_wrapper_spark" / "session.py")
    assert worker_daemon_conf("local[4]", package_file=zipped) == {}


def test_caller_conf_keeps_the_stock_daemon():
    for key, value in (("spark.python.daemon.module", "pyspark.daemon"),
                       ("spark.executorEnv.PYTHONPATH", "/elsewhere")):
        assert worker_daemon_conf("local[4]", {key: value}) == {}, key


# -- Spark level --------------------------------------------------------------


def test_worker_does_not_reread_zip_directories(spark):
    """A task's own importlib.invalidate_caches() re-reads no zip directory
    (the stock daemon re-reads pyspark.zip's for every zipimporter)."""
    import pyarrow as pa

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON_MODULE

    def count_reads(batches):
        import importlib
        import zipimport

        seen = []
        stock = zipimport._read_directory

        def counting(path):
            seen.append(path)
            return stock(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [len(seen)]})

    rows = spark.range(0, 64, numPartitions=4).mapInArrow(count_reads, "reads long").collect()
    assert len(rows) == 4
    assert [r.reads for r in rows] == [0, 0, 0, 0]


def test_extract_operator_imports_without_pandas():
    code = (
        "import sys, ocr_wrapper_spark.operators.extract; "
        "sys.exit('pandas' in sys.modules)"
    )
    proc = subprocess.run([sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True)
    assert proc.returncode == 0, proc.stderr or "pandas was imported"
