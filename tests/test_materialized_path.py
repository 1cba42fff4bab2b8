"""Materialized inputs are keyed on the corpus, not its directory name:
two sf dirs with the same basename but different documents must each
read back their own rows."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from ocr_wrapper_spark.sources.pages import materialize_pages, materialized_path
from ocr_wrapper_spark.sources.warc import materialize_warc, read_warc
from tests.conftest import SF_SMOKE


def _plant(root, n_rows: int) -> str:
    sf = os.path.join(root, "sf_same_name")
    os.makedirs(sf)
    docs = pq.read_table(f"{SF_SMOKE}/documents.parquet").slice(0, n_rows)
    pq.write_table(docs, os.path.join(sf, "documents.parquet"))
    return sf


def test_same_basename_corpora_do_not_collide(spark, tmp_path):
    sf_a = _plant(tmp_path / "a", 7)
    sf_b = _plant(tmp_path / "b", 19)
    cache = str(tmp_path / "cache")
    assert materialized_path(cache, sf_a) != materialized_path(cache, sf_b)

    for sf, n in ((sf_a, 7), (sf_b, 19)):
        pages = materialize_pages(spark, sf, base_dir=cache, partitions=2)
        assert spark.read.parquet(pages).count() == n
        warc = materialize_warc(spark, sf, base_dir=cache, n_files=2)
        assert read_warc(spark, f"{warc}/*.warc").count() == n


def test_rebuilt_corpus_gets_a_new_path(tmp_path):
    sf = _plant(tmp_path / "a", 5)
    before = materialized_path(str(tmp_path), sf, "r1")
    docs = pq.read_table(f"{SF_SMOKE}/documents.parquet").slice(0, 11)
    pq.write_table(docs, os.path.join(sf, "documents.parquet"))
    assert materialized_path(str(tmp_path), sf, "r1") != before
