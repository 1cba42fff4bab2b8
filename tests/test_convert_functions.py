"""Export-format conversion tests (C15) — value-level checks against the
reference's arithmetic (bbox.py:439-519)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_wrapper_spark.functions.convert import (
    layoutlm_to_bbox_coords,
    spans_to_labelstudio,
    spans_to_layoutlm,
)


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


def test_layoutlm_roundtrip(spark, spans_df):
    out = spans_df.select(
        layoutlm_to_bbox_coords(spans_to_layoutlm(F.col("spans"))).alias("coords")
    ).collect()[0]
    assert out.coords[0] == pytest.approx([0.1, 0.2, 0.3, 0.2, 0.3, 0.25, 0.1, 0.25], abs=1e-9)


def test_labelstudio_values(spark, spans_df):
    row = spans_df.select(spans_to_labelstudio(F.col("spans")).alias("ls")).collect()[0]
    ls = row.ls[0]
    assert ls.x == pytest.approx(10.0)
    assert ls.y == pytest.approx(20.0)
    assert ls.width == pytest.approx(20.0)
    assert ls.height == pytest.approx(5.0)
    assert ls.rotation == 0


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


def test_postprocess_keeps_confidences_of_duplicate_boxes():
    """Two spans with the same box and text keep their own confidences
    through the filters and the date split."""
    import pandas as pd

    from ocr_wrapper_spark.functions.spans import postprocess_spans_udf

    def span(x, conf):
        return {
            "TLx": x, "TLy": 0.2, "TRx": x + 0.1, "TRy": 0.2,
            "BRx": x + 0.1, "BRy": 0.25, "BLx": x, "BLy": 0.25,
            "in_pixels": False, "text": "w", "label": None, "confidence": conf,
        }

    spans = [span(0.1, 0.2), span(0.1, 0.8), span(0.4, 0.5)]
    out = postprocess_spans_udf.func(pd.Series([spans]), pd.Series([1000]), pd.Series([1000]))
    assert [r["confidence"] for r in out[0]] == [0.2, 0.8, 0.5]


def test_labelstudio_roundtrip(spark, spans_df):
    from ocr_wrapper_spark.functions.convert import labelstudio_to_bbox_coords

    out = spans_df.select(
        labelstudio_to_bbox_coords(spans_to_labelstudio(F.col("spans"))).alias("coords")
    ).collect()[0]
    assert out.coords[0] == pytest.approx([0.1, 0.2, 0.3, 0.2, 0.3, 0.25, 0.1, 0.25], abs=1e-9)


def test_labelstudio_import_clips(spark):
    """Reference bbox.py:278-280: slightly out-of-range percent values clip."""
    from ocr_wrapper_spark.functions.convert import labelstudio_to_bbox_coords
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("ls", T.ArrayType(T.StructType([
        T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType()),
        T.StructField("width", T.DoubleType()), T.StructField("height", T.DoubleType()),
        T.StructField("rotation", T.IntegerType()),
    ])))])
    df = spark.createDataFrame([([{"x": -0.5, "y": 99.0, "width": 3.0, "height": 2.5, "rotation": 0}],)], schema)
    out = df.select(labelstudio_to_bbox_coords(F.col("ls")).alias("c")).collect()[0]
    c = out.c[0]
    assert c[0] == 0.0        # clipped negative x
    assert c[5] == 1.0        # clipped y+h > 100%


def test_stage_udfs_compose(spark):
    """normalize -> postprocess -> order -> assemble as separate column
    stages (the reference's composable post-processing surface)."""
    from ocr_wrapper_spark.functions.spans import (
        normalize_spans_udf,
        order_spans_udf,
        postprocess_spans_udf,
    )
    from ocr_wrapper_spark.operators.extract import assemble_text_col
    from ocr_wrapper_spark.kernels import layout, bbox_core as bc
    from ocr_wrapper_spark.schema import SPANS_ARRAY
    from pyspark.sql import types as T

    words = ["alpha", "01/01/2021 - 01/01/2022", "omega"] + [f"w{i}" for i in range(12)]
    coords_px, w, h = layout.layout_words(words)
    spans = []
    for i, word in enumerate(words):
        rec = dict(zip(
            ["TLx","TLy","TRx","TRy","BRx","BRy","BLx","BLy"], coords_px[i].tolist()))
        rec.update(in_pixels=True, text=word, label=None, confidence=0.9)
        spans.append(rec)

    schema = T.StructType([
        T.StructField("spans", SPANS_ARRAY),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
    ])
    df = spark.createDataFrame([(spans, w, h)], schema)
    staged = (
        df.withColumn("norm", normalize_spans_udf(F.col("spans"), F.col("w"), F.col("h")))
        .withColumn("post", postprocess_spans_udf(F.col("norm"), F.col("w"), F.col("h")))
        .withColumn("order_idx", order_spans_udf(F.col("post"), F.col("w"), F.col("h")))
    )
    row = staged.collect()[0]
    texts = [row.post[i].text for i in row.order_idx]
    # the date range split into three spans, everything else preserved
    assert "01/01/2021" in texts and "-" in texts and "01/01/2022" in texts
    assert len(texts) == len(words) + 2
    # assemble via the pure JVM expression
    assembled = staged.select(assemble_text_col(F.col("post")).alias("t")).collect()[0].t
    assert "alpha" in assembled


def test_spans_augmented_deterministic_and_bounded(spark):
    """C16 twin: jitter is reproducible (same seed -> same output, any
    partitioning), strictly within [0, max_augment) per coordinate, and
    differs across spans/coords; text/conf pass through."""
    from ocr_wrapper_spark.functions.convert import spans_augmented
    from ocr_wrapper_spark.plans.pipeline import run_extraction
    from ocr_wrapper_spark.sources.pages import synthesize_pages
    import pyspark.sql.functions as F

    pages = synthesize_pages(spark, "/root/testdata/sf0.001").limit(20)
    out = run_extraction(spark, pages).select(
        F.regexp_extract("url", r"/(\d{10,})\.", 1).cast("bigint").alias("doc_id"),
        "spans",
    ).filter(F.size("spans") > 0)
    aug = out.select(
        "doc_id",
        "spans",
        spans_augmented(F.col("spans"), F.col("doc_id"), 0.05).alias("aug"),
    )
    rows = aug.collect()
    rows2 = {r["doc_id"]: r for r in aug.repartition(7).collect()}
    assert len(rows) > 0
    deltas = set()
    for r in rows:
        r2 = r2b = rows2[r["doc_id"]]
        for s, a, a2 in zip(r["spans"], r["aug"], r2["aug"]):
            assert a == a2  # partitioning-invariant
            assert a["text"] == s["text"] and a["confidence"] == s["confidence"]
            for c in ("TLx", "TLy", "TRx", "TRy", "BRx", "BRy", "BLx", "BLy"):
                d = a[c] - s[c]
                assert 0.0 <= d < 0.05
                deltas.add(round(d, 12))
    assert len(deltas) > 10  # jitter actually varies per (span, coord)
