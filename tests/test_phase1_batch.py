"""Phase 1 runs once over a whole batch's box table: a document's result
does not depend on its neighbours in the batch, a document that fails a
batch stage fails alone with its own error, and the row-by-row stages
give each document the bytes it gets alone."""

from __future__ import annotations

import numpy as np

from ocr_wrapper_spark.kernels import bbox_core as bc
from ocr_wrapper_spark.kernels import layout
from ocr_wrapper_spark.kernels.extract_doc import extract_document, extract_documents
from ocr_wrapper_spark.sources.pages import build_html, build_json, build_pdf

from tests.test_kernel_digest import _pdf, _quad_line, batch_digests, single_digest

TEXT = " ".join(f"w{i}" for i in range(60))
_BOX = "0.1 0.1 0.2 0.1 0.2 0.2 0.1 0.2".split()
_NAN_X = "nan 0.1 nan 0.1 nan 0.2 nan 0.2".split()


def _rotated_pdf(k: int, words=tuple(TEXT.split(" ")), lang="en") -> bytes:
    """A PDF scanned k x 90 deg off upright: the extractor detects and
    undoes k x 90 deg."""
    coords_px, w, h = layout.layout_words(list(words))
    raw = layout.rotate_raw_quads(coords_px / np.array([w, h] * 4, dtype=np.float64), (4 - k) % 4)
    page_w, page_h = (h, w) if k % 2 else (w, h)
    lines = [_quad_line([f"{v:.8f}" for v in q], word) for q, word in zip(raw, words)]
    return _pdf(page_w, page_h, [f"%L {lang}"] + lines)


HOSTILE = {
    # NaN x coordinates fail the reading order; NaN everywhere fails the
    # rotation vote already
    "nan_coords": _pdf(1000, 1000, [_quad_line(_NAN_X, "a"), _quad_line(_BOX, "b")]),
    "nan_all": _pdf(1000, 1000, [_quad_line(["nan"] * 8, "a"), _quad_line(_BOX, "b")]),
    "json_types": b'{"layout": {"width": "wide", "pages": "nope"}}',
    "bad_header": b"%PDF-GRAFT1.0\n%W 1000\n" + _quad_line(_BOX, "a").encode(),
    "empty": build_html(22, "", "en"),
    # a page size past float range stays a Python int until ordering fails
    "width_10_400": build_json(1, TEXT, "en").replace(b'"width":1224', b'"width":1' + b"0" * 400),
    # flows along +y, so it is turned 90 deg, which puts y = 1.5 out of range
    "rotated_out_of_range": _pdf(1000, 1000, [_quad_line("0.1 0.2 0.1 1.5 0.2 1.5 0.2 0.2".split(), "a")]),
}
CLEAN = [
    build_html(2, TEXT, "en"),
    build_pdf(8, TEXT, "en"),  # tilted, two pages
    build_json(1, TEXT + " 01.02.2020-03.04.2021", "de"),
    _rotated_pdf(1),
    build_html(12, "مرحبا كتاب بيت 12/01/2019-12/31/2019 قلم", "ar"),
]


def test_hostile_documents_anywhere_in_a_batch():
    """Hostile documents first, in the middle and last of one Arrow batch:
    every document's digest is its single-document call's, and each
    hostile one fails (or comes back empty) alone."""
    hostile = list(HOSTILE.values())
    payloads = hostile[:2] + CLEAN[:2] + hostile[2:5] + CLEAN[2:] + hostile[5:]
    assert payloads[0] in hostile and payloads[-1] in hostile
    langs = ["en"] * len(payloads)
    batch = batch_digests("single", payloads, langs, [None] * len(payloads))
    assert batch == [single_digest(p, "en") for p in payloads]
    results = extract_documents(payloads, langs)
    errors = {name: results[payloads.index(p)].error for name, p in HOSTILE.items()}
    assert errors["empty"] is None
    assert errors["width_10_400"] == "OverflowError: integer division result too large for a float"
    assert errors["nan_coords"] == "ValueError: Maximum allowed dimension exceeded"
    assert errors["nan_all"] == "ValueError: cannot convert float NaN to integer"
    assert errors["json_types"] == "ValueError: invalid literal for int() with base 10: 'wide'"
    assert errors["bad_header"].startswith("ValueError: not enough values to unpack")
    assert errors["rotated_out_of_range"] == (
        "ValueError: BBox claimed to not be in pixel values, but contained value 1.5, "
        "which is out of the range [0,1]"
    )
    assert [r.error for p, r in zip(payloads, results) if p in CLEAN] == [None] * len(CLEAN)


def test_mixed_canonical_rows_canonicalize_as_alone():
    """A table mixing strictly canonical boxes with boxes that need the
    corner sort (swapped corners, RTL-first quads, collapsed edges, NaN)
    canonicalizes to each document's own bytes, and so does a batch of
    the documents."""
    rng = np.random.default_rng(5)
    docs = []
    for k in range(12):
        x, y = rng.random(6) * 0.5, rng.random(6) * 0.5
        w, h = rng.random(6) * 0.2 + 0.01, rng.random(6) * 0.05 + 0.01
        q = bc.from_xywh(x, y, w, h)
        if k % 3 == 1:
            q[::2] = q[::2][:, [2, 3, 0, 1, 6, 7, 4, 5]]  # RTL-first quads
        if k % 3 == 2:
            q[1, 2] = q[1, 0]  # collapsed top edge
            q[2, [1, 3]] = q[2, [5, 7]]  # tops below bottoms
        if k == 5:
            q[0, 0] = np.nan
        docs.append(q)
    alone = [bc.canonicalize(q, in_pixels=False, validate=False) for q in docs]
    together = bc.canonicalize(np.concatenate(docs), in_pixels=False, validate=False)
    assert together.tobytes() == np.concatenate(alone).tobytes()

    payloads = [
        _pdf(1000, 1000, [_quad_line([repr(float(v)) for v in row], f"t{j}") for j, row in enumerate(q)])
        for q in docs
    ]
    langs = ["en"] * len(payloads)
    batch = batch_digests("single", payloads, langs, [None] * len(payloads))
    assert batch == [single_digest(p, "en") for p in payloads]


def test_each_document_keeps_its_own_rotation():
    """Rotated PDFs next to upright ones: each is turned by its own
    detected rotation, and its page size swaps only when it is turned by
    90 or 270 deg."""
    payloads = [_rotated_pdf(0), _rotated_pdf(1), build_pdf(8, TEXT, "en"), _rotated_pdf(2),
                _rotated_pdf(3), _rotated_pdf(0, lang="ar")]
    results = extract_documents(payloads, ["en"] * len(payloads))
    # the last one is tagged Arabic but flows left to right: its
    # right-to-left compensated vote says 180
    assert [r.rotation for r in results] == [0, 90, 0, 180, 270, 180]
    assert [r.error for r in results] == [None] * len(payloads)
    assert all(r.extracted_text == TEXT for r in results[:5])
    for p, r in zip(payloads, results):
        alone = extract_document(p, "en")
        assert (r.width, r.height, r.rotation) == (alone.width, alone.height, alone.rotation)
        assert r.coords.tobytes() == alone.coords.tobytes()
    assert (results[1].width, results[1].height) == (results[0].width, results[0].height)
