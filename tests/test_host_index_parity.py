"""The Spark host index (sources/pages.py _host_idx_col, an inline chain
of CDF comparisons over knuth_u) must equal the generator's numpy mapping
(host_for_doc: searchsorted over the Zipf CDF) for every
int64 key, for both keys the query layer uses: doc_id itself and the
site-path group doc_id div PARA_GROUP."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ocr_wrapper_spark.sources import pages as pages_src
from ocr_wrapper_spark.sources.pages import _host_idx_col
from ocr_wrapper_spark.text_queries import PARA_GROUP

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


def test_host_idx_matches_numpy_host_for_doc(spark):
    ids = _ids()
    by_doc, by_group = _spark_host_idx(spark, ids)
    want_doc = pages_src.host_for_doc(ids)
    want_group = pages_src.host_for_doc(_trunc_div(ids, PARA_GROUP))
    assert len(by_doc) == len(ids)
    bad_doc = ids[by_doc != want_doc]
    bad_group = ids[by_group != want_group]
    assert bad_doc.size == 0, f"{bad_doc.size} doc_id mismatches, e.g. {bad_doc[:5]}"
    assert bad_group.size == 0, f"{bad_group.size} group-key mismatches, e.g. {bad_group[:5]}"


def test_empty_cdf_counts_zero(spark, monkeypatch):
    """An empty CDF gives host 0 everywhere, as np.searchsorted([], u) does."""
    monkeypatch.setattr(pages_src, "_host_cdf", lambda: np.array([], dtype=np.float64))
    ids = np.array(_EDGES, dtype=np.int64)
    by_doc, by_group = _spark_host_idx(spark, ids)
    assert np.searchsorted(np.array([]), 0.5) == 0
    assert by_doc.tolist() == [0] * len(ids)
    assert by_group.tolist() == [0] * len(ids)
