"""Combiner (GoogleAzure semantics) and multi-sample consensus tests —
mirrors reference tests/test_google_azure_ocr.py behaviors."""

from __future__ import annotations

import numpy as np
import pytest

from ocr_wrapper_spark.kernels import bbox_core as bc
from ocr_wrapper_spark.kernels import clean, combine, layout, order
from ocr_wrapper_spark.kernels.extract_doc import extract_document, extract_dual_batch
from ocr_wrapper_spark.sources.pages import build_html

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor"
).split(" ")


def _spans(words, **kw):
    coords_px, w, h = layout.layout_words(words, **kw)
    return bc.to_normalized(coords_px, w, h), w, h


def test_combine_identical_secondary_adds_nothing():
    coords, w, h = _spans(WORDS)
    merged, texts, conf = combine.combine_primary_secondary(
        coords, WORDS, coords.copy(), list(WORDS), w, h
    )
    assert texts == WORDS
    assert conf == [combine.COMBINED_CONFIDENCE] * len(WORDS)


def test_combine_secondary_enriches_gap():
    # drop one word from the primary; the secondary still has it ->
    # J2 finds zero overlap for exactly that box, J4 re-inserts it in place
    coords, w, h = _spans(WORDS)
    keep = [i for i in range(len(WORDS)) if i != 7]
    primary_coords = coords[keep]
    primary_texts = [WORDS[i] for i in keep]
    merged, texts, _ = combine.combine_primary_secondary(
        primary_coords, primary_texts, coords.copy(), list(WORDS), w, h
    )
    assert texts == WORDS


def test_combine_applies_unwanted_filter_to_primary():
    coords, w, h = _spans(WORDS)
    # append a tall, skinny, multi-char primary box (merged digit column)
    tall = bc.from_xywh(0.95, 0.1, 0.005, 0.5)
    pc = np.vstack([coords, tall])
    pt = WORDS + ["123456"]
    merged, texts, _ = combine.combine_primary_secondary(pc, pt, bc.empty_boxes(), [], w, h)
    assert "123456" not in texts
    assert texts == WORDS


def test_aux_suppress_then_merge_checkbox_semantics():
    coords, w, h = _spans(WORDS)
    # one checkbox right on top of word index 3 -> that word is suppressed,
    # checkbox glyph merged in
    aux = coords[3:4].copy()
    merged, texts = combine.suppress_then_merge_aux(coords, WORDS, aux, ["☐"], w, h)
    assert "☐" in texts
    assert WORDS[3] not in texts
    assert len(texts) == len(WORDS)  # one dropped, one added


def test_group_overlapping_or_vs_and():
    a = bc.from_xywh(0.1, 0.1, 0.10, 0.10)
    b = bc.from_xywh(0.11, 0.11, 0.10, 0.10)  # mutual heavy overlap
    c = bc.from_xywh(0.5, 0.5, 0.10, 0.10)
    coords = np.vstack([a, b, c])
    groups_or = combine.group_overlapping(coords, 0.1)
    assert sorted(map(sorted, groups_or)) == [[0, 1], [2]]
    # same-response pairs are excluded under consensus semantics
    rid = np.array([0, 0, 1])
    groups_same = combine.group_overlapping(coords, 0.1, rid)
    assert sorted(map(sorted, groups_same)) == [[0], [1], [2]]


def test_aggregate_samples_best_response_wins():
    coords, w, h = _spans(WORDS[:12])
    c1, t1, conf1 = coords, WORDS[:12], [0.9] * 12
    # sample 2: same boxes, lower confidence, plus one unique box far away
    extra = bc.from_xywh(0.8, 0.9, 0.05, 0.01)
    c2 = np.vstack([coords, extra])
    t2 = WORDS[:12] + ["unique"]
    conf2 = [0.5] * 13
    mc, mt, mconf = combine.aggregate_samples_n([(c1, t1, conf1), (c2, t2, conf2)])
    # best = sample 1 (higher mean confidence), enriched with the singleton
    assert mt[:12] == WORDS[:12]
    assert "unique" in mt
    assert len(mt) == 13


def test_aggregate_samples_overlapping_extra_not_added():
    coords, w, h = _spans(WORDS[:12])
    c1, t1, conf1 = coords, WORDS[:12], [0.9] * 12
    # sample 2's "extra" overlaps an existing box heavily -> grouped, not singleton
    c2 = np.vstack([coords, coords[0:1]])
    t2 = WORDS[:12] + ["dup"]
    conf2 = [0.5] * 13
    mc, mt, _ = combine.aggregate_samples_n([(c1, t1, conf1), (c2, t2, conf2)])
    assert "dup" not in mt
    assert len(mt) == 12


def test_qr_style_aux_merge_reading_order():
    """Reference ocr_wrapper.py:157-169: QR spans (TYPE[[DATA]]) merged in
    reading order via merge_bbox_lists_with_confidences."""
    coords, w, h = _spans(WORDS[:10])
    qr = bc.from_xywh(0.45, 0.9, 0.1, 0.05)  # bottom of the page
    mc, mt = clean.merge_span_lists(coords, WORDS[:10], qr, ["QRCODE[[hello]]"], w, h)
    assert mt[-1] == "QRCODE[[hello]]"
    assert np.array_equal(mc[-1], qr[0])
    assert mt[:10] == WORDS[:10]


def test_extract_dual_byte_identity():
    text = " ".join(WORDS * 3)
    html = build_html(11, text, "en")
    res = extract_dual_batch([html], ["en"], [text])[0]
    assert res.error is None
    assert res.provider == "dual"
    assert res.extracted_text == text
    assert set(res.confidences) == {combine.COMBINED_CONFIDENCE}


def test_extract_dual_disjoint_secondary_tail():
    # provider text carries extra trailing words the page lacks; their
    # layout positions fall beyond the page's words (continuation of the
    # same flow), so the truly novel trailing boxes survive J2 and are
    # merged at the tail in reading order. Words whose positions collide
    # with existing ones are suppressed — geometry decides, exactly like
    # two providers looking at the same image.
    text_page = " ".join(WORDS)
    res = extract_dual_batch([build_html(3, text_page, "en")], ["en"], [text_page])[0]
    assert res.extracted_text == text_page  # identical geometry -> no dupes


def test_aggregate_samples_n_three_way_best_and_enrichment():
    """n=3 consensus: best-mean-confidence response wins; unique singletons
    from the other two responses are merged in; overlapping extras are not."""
    coords, w, h = _spans(WORDS[:12])
    s1 = (coords, WORDS[:12], [0.7] * 12)
    # sample 2: highest confidence -> becomes the base response
    s2 = (coords.copy(), [t.upper() for t in WORDS[:12]], [0.9] * 12)
    # sample 3: low confidence, one unique far-away box and one duplicate
    extra = bc.from_xywh(0.8, 0.9, 0.05, 0.01)
    c3 = np.vstack([coords, extra, coords[0:1]])
    t3 = WORDS[:12] + ["unique3", "dup3"]
    s3 = (c3, t3, [0.4] * 14)
    mc, mt, mconf = combine.aggregate_samples_n([s1, s2, s3])
    assert mt[:12] == [t.upper() for t in WORDS[:12]]  # sample 2 is base
    assert "unique3" in mt
    assert "dup3" not in mt
    assert mc.shape[0] == len(mt) == len(mconf) == 13


def test_aggregate_samples_n_single_and_empty():
    coords, w, h = _spans(WORDS[:3])
    mc, mt, mconf = combine.aggregate_samples_n([(coords, WORDS[:3], [0.5] * 3)])
    assert mt == WORDS[:3] and mc.shape[0] == 3
    mc0, mt0, mconf0 = combine.aggregate_samples_n([])
    assert mt0 == [] and mconf0 == [] and mc0.shape[0] == 0


def test_extract_consensus_three_samples_matches_base():
    """Deterministic extraction -> 3 identical samples -> consensus equals
    the base extraction (same invariant the 2-sample query relies on)."""
    from ocr_wrapper_spark.kernels import extract_doc as ed

    payload = build_html(7, " ".join(WORDS), "en")
    base = ed.extract_document(payload, "en")
    cons = ed.EXTRACTORS["consensus3"]([payload], ["en"], [None])[0]
    assert cons.error is None
    assert cons.texts == base.texts
    assert np.array_equal(cons.coords, base.coords)


def test_consensus3_extracts_the_batch_once(monkeypatch):
    """The kernel is deterministic, so consensus pools one extraction n
    times instead of extracting the same payloads n times."""
    from ocr_wrapper_spark.kernels import extract_doc as ed

    calls = []
    real = ed.extract_documents

    def counting(payloads, langs, texts=None):
        calls.append(len(payloads))
        return real(payloads, langs, texts)

    monkeypatch.setattr(ed, "extract_documents", counting)
    payloads = [build_html(i, " ".join(WORDS), "en") for i in range(3)]
    out = ed.EXTRACTORS["consensus3"](payloads, ["en"] * 3, [None] * 3)
    assert calls == [3]
    assert [r.provider for r in out] == ["consensus"] * 3
