"""The single extraction path: every mode runs through the same batch
loop from both operators and through ``run_extraction``, unknown modes
fail on the driver, and each autoselect name keeps its output schema."""

from __future__ import annotations

import pandas as pd
import pytest

from ocr_wrapper_spark.kernels.extract_doc import EXTRACTORS
from ocr_wrapper_spark.operators.autoselect import ENV_OVERRIDE, autoselect_extractor, name2extractor
from ocr_wrapper_spark.operators.extract import (
    InvalidExtractorException,
    extract_documents_fused,
    with_extraction,
)
from ocr_wrapper_spark.plans.pipeline import run_extraction
from ocr_wrapper_spark.schema import PAGES_SCHEMA
from ocr_wrapper_spark.sources.pages import build_page_rows, doc_id_from_url

from tests.conftest import SF_SMOKE

COMPARED = ["extracted_text", "n_spans", "provider", "doc_rotation", "tilt_angle", "error"]

_SPANS = (
    "spans:array<struct<TLx:double,TLy:double,TRx:double,TRy:double,BRx:double,BRy:double,"
    "BLx:double,BLy:double,in_pixels:boolean,text:string,label:string,confidence:double>>"
)
_EXTRACTED = (
    f"{_SPANS},extracted_text:string,doc_rotation:int,tilt_angle:double,n_spans:int,"
    "provider:string,error:string,extract_ms:double"
)
# output schema of each autoselect name over a pages table
AUTOSELECT_SCHEMAS = {
    "single": f"struct<url:string,warc_ts:timestamp,text:string,lang:string,{_EXTRACTED}>",
    "dual": f"struct<url:string,warc_ts:timestamp,lang:string,{_EXTRACTED}>",
    "consensus": f"struct<url:string,warc_ts:timestamp,text:string,lang:string,{_EXTRACTED}>",
    "consensus3": f"struct<url:string,warc_ts:timestamp,text:string,lang:string,{_EXTRACTED}>",
    "aux": f"struct<url:string,warc_ts:timestamp,text:string,lang:string,{_EXTRACTED}>",
}


@pytest.fixture(scope="module")
def smoke_pages(spark):
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text", "lang"])
    return spark.createDataFrame(build_page_rows(docs), PAGES_SCHEMA)


@pytest.mark.parametrize("mode", ["bogus", "consensusX", ""])
def test_unknown_mode_rejected_on_driver(spark, smoke_pages, mode):
    with pytest.raises(InvalidExtractorException):
        with_extraction(smoke_pages, mode=mode)
    with pytest.raises(InvalidExtractorException):
        extract_documents_fused(spark, SF_SMOKE, mode=mode)


@pytest.mark.parametrize("mode", sorted(EXTRACTORS))
def test_fused_matches_pages_path(spark, smoke_pages, mode):
    """Both operators give the same per-document result in every mode."""
    fused = extract_documents_fused(spark, SF_SMOKE, mode=mode).select("doc_id", *COMPARED)
    paged = with_extraction(smoke_pages, mode=mode, text_col="text").select(
        doc_id_from_url().alias("doc_id"), *COMPARED
    )
    fused_rows = {r.doc_id: tuple(r) for r in fused.collect()}
    paged_rows = {r.doc_id: tuple(r) for r in paged.collect()}
    assert len(fused_rows) == smoke_pages.count()
    assert fused_rows == paged_rows
    assert not any(r[-1] for r in fused_rows.values())  # no error rows


@pytest.mark.parametrize("name", sorted(AUTOSELECT_SCHEMAS))
def test_autoselect_output_schema(spark, smoke_pages, name):
    assert sorted(name2extractor) == sorted(AUTOSELECT_SCHEMAS)
    out = name2extractor[name](smoke_pages.limit(0))
    assert out.schema.simpleString() == AUTOSELECT_SCHEMAS[name]


@pytest.mark.parametrize("mode", sorted(EXTRACTORS))
def test_every_mode_selectable_in_run_extraction(spark, smoke_pages, monkeypatch, mode):
    """Each kernel mode is an autoselect name, and ``run_extraction`` runs
    it over every page."""
    monkeypatch.delenv(ENV_OVERRIDE, raising=False)
    assert autoselect_extractor(mode) is name2extractor[mode]
    rows = run_extraction(spark, smoke_pages, extractor=mode).select("url", "error").collect()
    assert sorted(r.url for r in rows) == sorted(r.url for r in smoke_pages.select("url").collect())
    assert not any(r.error for r in rows)
