"""The session's Arrow batch shape: 1024 rows and 8 MB by default, and a
caller's ``extra_conf`` wins over either."""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import SparkSession

from ocr_wrapper_spark.session import get_spark

ROWS = "spark.sql.execution.arrow.maxRecordsPerBatch"
BYTES = "spark.sql.execution.arrow.maxBytesPerBatch"


def _built_conf(monkeypatch, **kwargs) -> dict[str, str]:
    """The conf ``get_spark(**kwargs)`` hands the session builder, read
    without starting a session."""
    built: dict[str, str] = {}

    def capture(builder):
        built.update(builder._options)
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    get_spark(master="local[1]", **kwargs)
    return built


def test_default_arrow_batch_shape(spark, monkeypatch):
    assert spark.conf.get(ROWS) == "1024"
    assert spark.conf.get(BYTES) == str(8 * 1024 * 1024)
    built = _built_conf(monkeypatch)
    assert (built[ROWS], built[BYTES]) == ("1024", str(8 * 1024 * 1024))


def test_extra_conf_overrides_batch_rows(monkeypatch):
    built = _built_conf(monkeypatch, extra_conf={ROWS: "256"})
    assert (built[ROWS], built[BYTES]) == ("256", str(8 * 1024 * 1024))
