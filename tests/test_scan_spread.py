"""The spread-read rule of relational._td: a table file at or above
_SPLIT_MIN_BYTES gets a round-robin exchange sized to twice the core
count directly above its scan; the bare _t read, and _td on a file
below the floor, plan the scan alone."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ocr_wrapper_spark.relational import _SPLIT_MIN_BYTES, _t, _td


def _write_table(sf_dir, n_rows: int, payload_bytes: int) -> int:
    """documents.parquet with ONE row group of incompressible payloads."""
    rng = [os.urandom(payload_bytes) for _ in range(n_rows)]
    table = pa.table({"doc_id": pa.array(range(n_rows), pa.int64()), "payload": pa.array(rng, pa.binary())})
    path = sf_dir / "documents.parquet"
    pq.write_table(table, path, row_group_size=n_rows, compression="none")
    assert pq.ParquetFile(path).num_row_groups == 1
    return os.path.getsize(path)


def _exchanges_over_scan(df) -> list[str]:
    """Physical nodes directly above the file scan, for every exchange
    in the plan: [(exchange line, child line)]."""
    lines = [
        ln.lstrip(" :+-").strip()
        for ln in df._jdf.queryExecution().sparkPlan().treeString().splitlines()
        if ln.strip()
    ]
    return [(ln, lines[i + 1]) for i, ln in enumerate(lines[:-1]) if ln.startswith("Exchange")]


@pytest.fixture(scope="module")
def big_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("spread_big")
    assert _write_table(d, n_rows=320, payload_bytes=1024) >= _SPLIT_MIN_BYTES
    return str(d)


def test_td_spreads_a_file_at_or_above_the_floor(spark, big_dir):
    n = 2 * spark.sparkContext.defaultParallelism
    ex = _exchanges_over_scan(_td(spark, big_dir))
    assert len(ex) == 1, ex
    exchange, child = ex[0]
    assert f"RoundRobinPartitioning({n})" in exchange, exchange
    assert child.startswith("FileScan parquet"), child


def test_bare_read_of_the_same_file_has_no_exchange(spark, big_dir):
    assert _exchanges_over_scan(_t(spark, big_dir, "documents")) == []


def test_td_below_the_floor_has_no_exchange(spark, tmp_path):
    assert _write_table(tmp_path, n_rows=16, payload_bytes=64) < _SPLIT_MIN_BYTES
    assert _exchanges_over_scan(_td(spark, str(tmp_path))) == []
