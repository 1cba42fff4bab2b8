"""Checkbox detector + JSON-layout dialect guarantees.

The detector mirrors the reference checkbox flow
(google_document_ocr_checkbox_detector.py:54-124 produces ☑/☐ spans,
google_azure_ocr.py:176-193 suppress-then-merges them; the reference
test test_google_azure_ocr.py:85-98 counts 8 checked / 24 unchecked).
The JSON dialect is the third provider branch in the sniffer.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_wrapper_spark.kernels.checkbox_detect import detect_checkboxes
from ocr_wrapper_spark.kernels.extract_doc import extract_document, extract_with_aux_batch
from ocr_wrapper_spark.sources.pages import build_html, build_json


def test_detector_counts_mirror_reference_fixture():
    """8 checked / 24 unchecked, like the reference's checkbox.png test."""
    inputs = "".join(
        f'<input type="checkbox"{" checked" if i % 4 == 0 else ""}>' for i in range(32)
    )
    html = f"<html><body><form>{inputs}</form></body></html>"
    coords, texts, confs = detect_checkboxes(html)
    assert texts.count("☑") == 8
    assert texts.count("☐") == 24
    assert len(confs) == 32 and coords.shape == (32, 8)


def test_detector_attribute_dialects_and_dedup():
    html = (
        "<input type=checkbox checked>"      # unquoted
        "<input TYPE='Checkbox' />"          # single-quote, case
        '<input type="text">'                 # not a checkbox
        '<input type="checkbox"\n checked="checked">'  # newline in attrs
    )
    _, texts, _ = detect_checkboxes(html)
    assert texts == ["☑", "☐", "☑"]


def test_aux_merge_full_pipeline():
    text = "alpha beta gamma delta epsilon zeta eta theta " * 8
    text = text.strip()
    html = build_html(10, text, "en")  # 10 % 6 = 4 boxes, checked at (10+i)%3==0
    res = extract_with_aux_batch([html], ["en"])[0]
    assert res.provider == "html+aux"
    assert sum(t == "☑" for t in res.texts) == 1   # i=2 only
    assert sum(t == "☐" for t in res.texts) == 3
    # plain mode never sees the glyphs and keeps byte identity
    plain = extract_document(html, "en")
    assert plain.extracted_text == text


def test_json_dialect_byte_identity_and_dispatch():
    text = "one two three four five six seven eight nine ten " * 6
    text = text.strip()
    payload = build_json(6, text, "en")
    assert payload.startswith(b'{"layout"')
    res = extract_document(payload, "en")
    assert res.provider == "json"
    assert res.extracted_text == text
    assert res.rotation == 0
    assert res.confidences[0] == pytest.approx(0.97)


def test_json_dialect_rtl_and_empty():
    res = extract_document(build_json(11, "", "en"), "en")
    assert res.provider == "json" and res.extracted_text == ""
    text = "كلمة أخرى ثم كلمة أخرى ثم كلمة أخرى ثم كلمة أخرى ثم كلمة"
    res = extract_document(build_json(16, text, "ar"), "ar")
    assert res.extracted_text == text


def test_aux_mode_spark_operator(spark):
    from ocr_wrapper_spark.operators.autoselect import autoselect_extractor
    from ocr_wrapper_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, "/root/testdata/sf0.001")
    out = autoselect_extractor("aux")(pages).select("provider").distinct()
    providers = {r.provider for r in out.collect()}
    assert providers == {"html+aux", "pdf", "json", "hocr", "textract"}


def test_code_detector_reference_payload():
    """CODE39[[WIKIPEDIA]]-style spans at confidence 1.0 (reference
    test_google_azure_ocr.py:75-82)."""
    from ocr_wrapper_spark.kernels.checkbox_detect import detect_codes

    html = ('<img data-code="CODE39[[WIKIPEDIA]]" src="/b.png">'
            "<img src='/plain.png'>"
            '<img class="qr" data-code="QRCODE[[HELLO]]"/>')
    coords, texts, confs = detect_codes(html)
    assert texts == ["CODE39[[WIKIPEDIA]]", "QRCODE[[HELLO]]"]
    assert confs == [1.0, 1.0]
    assert coords.shape == (2, 8)


def test_aux_mode_decodes_generator_qr():
    from ocr_wrapper_spark.sources.pages import build_html

    text = "alpha beta gamma delta epsilon zeta " * 10
    text = text.strip()
    html = build_html(22, text, "en")  # 22 % 4 == 2 -> QR carrier
    res = extract_with_aux_batch([html], ["en"])[0]
    assert "QRCODE[[DOC22]]" in res.texts
    i = res.texts.index("QRCODE[[DOC22]]")
    assert res.confidences[i] == 1.0
    # plain mode never sees the code and keeps byte identity
    assert extract_document(html, "en").extracted_text == text


def test_hocr_dialect_byte_identity_and_dispatch():
    from ocr_wrapper_spark.kernels.hocr_extract import is_hocr
    from ocr_wrapper_spark.sources.pages import build_hocr

    text = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6).strip()
    payload = build_hocr(9, text, "en")
    assert payload.startswith(b"<?xml") and is_hocr(payload)
    res = extract_document(payload, "en")
    assert res.provider == "hocr"
    assert res.extracted_text == text
    assert res.rotation == 0
    assert res.confidences[0] == pytest.approx(0.96)  # x_wconf 96


def test_textract_dialect_byte_identity_and_dispatch():
    """Fifth dialect mirrors the reference AwsOCR conversion
    (aws.py:51-60): WORD-only filter, Polygon->quad flatten, percent
    confidence scale."""
    from ocr_wrapper_spark.kernels.textract_extract import is_textract
    from ocr_wrapper_spark.sources.pages import build_textract

    text = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6).strip()
    payload = build_textract(7, text, "en")
    assert payload.startswith(b'{"DocumentMetadata"') and is_textract(payload)
    res = extract_document(payload, "en")
    assert res.provider == "textract"
    assert res.extracted_text == text
    assert res.rotation == 0 and res.tilt_angle == 0.0
    assert res.confidences[0] == pytest.approx(0.93)  # Confidence 93.0 / 100


def test_textract_word_block_filter_mirrors_aws_geometry():
    """Parse-level parity with aws.py:54-58: PAGE and LINE blocks are
    dropped, Polygon vertices flatten to [x0,y0,...,x3,y3] in relative
    coords, Confidence is percent."""
    import json

    import numpy as np

    from ocr_wrapper_spark.kernels.textract_extract import parse_textract_payload
    from ocr_wrapper_spark.sources.pages import build_textract

    payload = build_textract(27, "alpha beta", "en")
    doc = json.loads(payload)
    kinds = [b["BlockType"] for b in doc["Blocks"]]
    assert "PAGE" in kinds and "LINE" in kinds and kinds.count("WORD") == 2
    raw, words, confs, w, h, lang, pages = parse_textract_payload(payload)
    assert words == ["alpha", "beta"] and lang == "en"
    word0 = next(b for b in doc["Blocks"] if b["BlockType"] == "WORD")
    expect = [c for v in word0["Geometry"]["Polygon"] for c in (v["X"], v["Y"])]
    assert np.allclose(raw[0], expect)
    assert confs == [0.93, 0.93]
    assert (pages == 0).all()
    # malformed WORD blocks (no Polygon / no Text) drop, never fatal
    doc["Blocks"].append({"BlockType": "WORD", "Text": "orphan"})
    doc["Blocks"].append({"BlockType": "WORD", "Geometry": {"Polygon": []}})
    raw2, words2, *_ = parse_textract_payload(json.dumps(doc).encode())
    assert words2 == ["alpha", "beta"]


def test_textract_dialect_rtl_and_empty():
    from ocr_wrapper_spark.sources.pages import build_textract

    res = extract_document(build_textract(37, "", "en"), "en")
    assert res.provider == "textract" and res.extracted_text == ""
    text = "كلمة أخرى ثم كلمة أخرى ثم كلمة أخرى ثم كلمة أخرى ثم كلمة"
    res = extract_document(build_textract(47, text, "ar"), "ar")
    assert res.extracted_text == text


def test_hocr_dialect_rtl_empty_and_malformed():
    from ocr_wrapper_spark.sources.pages import build_hocr

    res = extract_document(build_hocr(14, "", "en"), "en")
    assert res.provider == "hocr" and res.extracted_text == ""
    text = "كلمة أخرى ثم كلمة أخرى ثم كلمة أخرى ثم كلمة أخرى ثم كلمة"
    res = extract_document(build_hocr(19, text, "ar"), "ar")
    assert res.extracted_text == text
    # words without a parsable title are dropped, not fatal (F3 analogue)
    mangled = build_hocr(24, "keep drop keep2", "en").decode()
    mangled = mangled.replace("x_wconf 96'>drop", "BROKEN'>drop")
    res = extract_document(mangled.encode(), "en")
    assert res.error is None and res.extracted_text == "keep keep2"
