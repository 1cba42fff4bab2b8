"""Export-format conversion test (C15) — a value-level check against the
reference's LayoutLM arithmetic (bbox.py:439-457) — and the consensus
kernel's identity on a clean page."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_wrapper_spark.functions.convert import spans_to_layoutlm


@pytest.fixture(scope="module")
def spans_df(spark):
    span = {
        "TLx": 0.1, "TLy": 0.2, "TRx": 0.3, "TRy": 0.2,
        "BRx": 0.3, "BRy": 0.25, "BLx": 0.1, "BLy": 0.25,
        "in_pixels": False, "text": "w", "label": None, "confidence": 0.9,
    }
    from ocr_wrapper_spark.schema import SPANS_ARRAY
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("spans", SPANS_ARRAY)])
    return spark.createDataFrame([([span],)], schema)


def test_layoutlm_values(spark, spans_df):
    row = spans_df.select(spans_to_layoutlm(F.col("spans")).alias("ll")).collect()[0]
    assert row.ll == [[100, 200, 300, 250]]


def test_consensus_kernel_identity():
    from ocr_wrapper_spark.kernels.extract_doc import extract_consensus_batch, extract_document
    from ocr_wrapper_spark.sources.pages import build_html

    text = "the quick brown fox jumps over the lazy dog again and again today"
    html = build_html(5, text, "en")
    single = extract_document(html, "en")
    cons = extract_consensus_batch([html], ["en"])[0]
    assert cons.provider == "consensus"
    assert cons.extracted_text == single.extracted_text == text
    assert len(cons.texts) == len(single.texts)
