"""The Spark host index (sources/pages.py _host_idx_col, a constant-size
lookup table over the integer Knuth key) must equal the generator's numpy
mapping (host_for_doc: searchsorted over the Zipf CDF) for every int64
key, for both keys the query layer uses: doc_id itself and the site-path
group doc_id div PARA_GROUP — and every stage that carries it must
compile to whole-stage code."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_wrapper_spark.sources import pages as pages_src
from ocr_wrapper_spark.operators.sampling import KNUTH, MOD
from ocr_wrapper_spark.sources.pages import _host_idx_col
from ocr_wrapper_spark.text_queries import PARA_GROUP
from tests.conftest import SF_SMOKE

_EDGES = [0, 1, -1, 2**31, 2**32 - 1, 2**32, 2**32 + 1, 2**63 - 1, -(2**63)]


def _ids() -> np.ndarray:
    rng = np.random.default_rng(20241018)
    rand = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, size=200_000, dtype=np.int64, endpoint=True)
    return np.concatenate([np.array(_EDGES, dtype=np.int64), rand])


def _trunc_div(ids: np.ndarray, d: int) -> np.ndarray:
    """Spark `div` (truncates toward zero); numpy // floors."""
    q = ids // d
    q[(ids % d != 0) & (ids < 0)] += 1
    return q


def _spark_host_idx(spark, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(ids)), "doc_id": ids}))
    out = (
        df.select(
            "i",
            _host_idx_col().alias("by_doc"),
            _host_idx_col(F.expr(f"doc_id div {PARA_GROUP}")).alias("by_group"),
        )
        .toPandas()
        .sort_values("i")
    )
    return out["by_doc"].to_numpy(), out["by_group"].to_numpy()


def _assert_matches_host_for_doc(spark, ids: np.ndarray) -> None:
    by_doc, by_group = _spark_host_idx(spark, ids)
    want_doc = pages_src.host_for_doc(ids)
    want_group = pages_src.host_for_doc(_trunc_div(ids, PARA_GROUP))
    assert len(by_doc) == len(ids)
    bad_doc = ids[by_doc != want_doc]
    bad_group = ids[by_group != want_group]
    assert bad_doc.size == 0, f"{bad_doc.size} doc_id mismatches, e.g. {bad_doc[:5]}"
    assert bad_group.size == 0, f"{bad_group.size} group-key mismatches, e.g. {bad_group[:5]}"


def test_host_idx_matches_numpy_host_for_doc(spark):
    _assert_matches_host_for_doc(spark, _ids())


# Thresholds crowded 3e-4 apart (~1.3M keys, so the table needs 2^12+
# cells), dyadic ones whose c * 2^32 is an integer (the floor boundary),
# 0.0 and 1.0, and one below every key.
_CROWDED = np.sort(
    np.concatenate([[-0.1, 0.0, 0.25, 0.5], 0.6 + 3e-4 * np.arange(12), [0.9, 1.0]])
)


def test_crowded_cdf_matches_host_for_doc(spark, monkeypatch):
    monkeypatch.setattr(pages_src, "_host_cdf", lambda: _CROWDED)
    shift, _ = pages_src._cdf_table(_CROWDED)
    assert 32 - shift > 8, "the crowded CDF should need more than 256 cells"
    # ids whose Knuth key lands on each threshold and one past it
    thr = np.floor(_CROWDED * MOD).astype(np.int64)
    keys = [int(t) + d for t in thr if 0 <= t < MOD - 1 for d in (0, 1)]
    k_inv = pow(KNUTH, -1, MOD)
    boundary = np.array([k * k_inv % MOD for k in keys], dtype=np.int64)
    _assert_matches_host_for_doc(spark, np.concatenate([boundary, _ids()]))


def test_duplicate_threshold_is_rejected():
    """Two equal thresholds leave a host no key range; one table cell
    cannot tell them apart, so the table refuses to build."""
    with pytest.raises(ValueError):
        pages_src._cdf_table(np.array([0.25, 0.25, 1.0]))


def test_empty_cdf_counts_zero(spark, monkeypatch):
    """An empty CDF gives host 0 everywhere, as np.searchsorted([], u) does."""
    monkeypatch.setattr(pages_src, "_host_cdf", lambda: np.array([], dtype=np.float64))
    ids = np.array(_EDGES, dtype=np.int64)
    by_doc, by_group = _spark_host_idx(spark, ids)
    assert np.searchsorted(np.array([]), 0.5) == 0
    assert by_doc.tolist() == [0] * len(ids)
    assert by_group.tolist() == [0] * len(ids)


# the query_mix queries that carry the host index (perfbench/workloads.py)
_MIX_HOST_QUERIES = [
    "url_parallel_candidates",
    "kmv_distinct_sketch",
    "crawl_ingest_funnel",
    "doclen_quantile_sketch",
]


def test_mix_host_index_queries_compile(spark):
    """With the interpreted fallback off, a stage whose generated code
    Janino rejects ("Code grows beyond 64 KB") fails its query instead of
    running silently slower."""
    import __spark_entry__ as entrymod

    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for name in _MIX_HOST_QUERIES:
            entrymod.queries()[name](spark, SF_SMOKE).collect()
    finally:
        spark.conf.set(key, old)
