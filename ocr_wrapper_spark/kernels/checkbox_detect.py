"""Checkbox detection over HTML payloads — the aux-span detector.

Analogue of the reference's GoogleDocumentOcrCheckboxDetector
(google_document_ocr_checkbox_detector.py:54-124): the reference calls a
DocumentAI processor on the page image and converts each visual element
into a BBox whose text is "☑" (filled_checkbox) or "☐"
(unfilled_checkbox) plus a confidence, and removes duplicates
(`list(set(result))` — the service "generally returns exactly the same
checkbox twice"). Here every element gets its own grid cell, so no two
boxes are equal and there is nothing to remove. Downstream, the spans merge via suppress-then-merge
(google_azure_ocr.py:176-193, F6/J4 in kernels/combine.py).

For web pages the "visual elements" are ``<input type=checkbox>``
elements; ``checked`` maps to ☑. Boxes are synthesized on a fixed grid
in normalized coordinates (the HTML has no pixel geometry), one tiny
square per element in source order.
"""

from __future__ import annotations

import re

import numpy as np

CHECKED_GLYPH = "☑"  # ☑  (reference style2text filled_checkbox)
UNCHECKED_GLYPH = "☐"  # ☐  (unfilled_checkbox)
CHECKBOX_CONFIDENCE = 0.9  # detector confidence stand-in

_RE_INPUT = re.compile(r"<input\b[^>]*>", re.IGNORECASE | re.DOTALL)
_RE_TYPE_CHECKBOX = re.compile(r"""\btype\s*=\s*["']?checkbox["']?""", re.IGNORECASE)
_RE_CHECKED = re.compile(r"\bchecked\b", re.IGNORECASE)

_GRID_COLS = 20
_BOX_W = 0.02
_BOX_H = 0.015
_STEP_X = 0.048
_STEP_Y = 0.03
_MARGIN = 0.02
# aux grids sit BELOW the page (normalized y > 1.0): word boxes are
# normalized by a page height that grows with document length, so any
# in-page fixed band would eventually collide with (and suppress) real
# words on long documents; below-page boxes never overlap content and
# merge after it in reading order
_CHECKBOX_GRID_Y0 = 1.0 + _MARGIN


_RE_IMG = re.compile(r"<img\b[^>]*>", re.IGNORECASE | re.DOTALL)
_RE_DATA_CODE = re.compile(r"""\bdata-code\s*=\s*["']([^"']*)["']""", re.IGNORECASE)
CODE_CONFIDENCE = 1.0  # reference QR/barcode spans carry confidence 1.0 (C11)

_CODE_GRID_Y0 = 1.6  # below-page band floor; see _code_band_y0 for the
# dynamic offset — the checkbox grid grows downward 0.03/row, so beyond
# ~387 checkboxes (20 cols x ~19 rows) a FIXED 1.6 band would interleave
# code boxes into the checkbox run in reading order


def _as_text(html_bytes: bytes | str) -> str:
    if isinstance(html_bytes, (bytes, bytearray)):
        return html_bytes.decode("utf-8", errors="replace")
    return html_bytes


def _grid(n: int, y0: float) -> np.ndarray:
    """(n, 8) normalized squares, one per element in source order,
    _GRID_COLS to a row, rows growing down from ``y0``."""
    i = np.arange(n)
    x0 = _MARGIN + (i % _GRID_COLS) * _STEP_X
    top = y0 + (i // _GRID_COLS) * _STEP_Y
    x1, y1 = x0 + _BOX_W, top + _BOX_H
    return np.stack([x0, top, x1, top, x1, y1, x0, y1], axis=1)


def _code_band_y0(n_checkboxes: int) -> float:
    """Start of the code band: past the last checkbox row (plus margin),
    never below the 1.6 floor — keeps codes AFTER checkboxes in reading
    order at any checkbox count."""
    rows = (n_checkboxes + _GRID_COLS - 1) // _GRID_COLS
    return max(_CODE_GRID_Y0, _CHECKBOX_GRID_Y0 + rows * _STEP_Y + _MARGIN)


def detect_codes(html_bytes: bytes | str, n_checkboxes: int):
    """QR/barcode spans from the page (C11 analogue): the reference
    decodes QR/barcodes into ``TYPE[[DATA]]`` spans with confidence 1.0
    merged via the aux path (tests/test_google_azure_ocr.py:65-82,
    expected text e.g. CODE39[[WIKIPEDIA]]). For web pages the carrier is
    an ``<img data-code="TYPE[[DATA]]">`` element; boxes are synthesized
    on a grid band below the page's ``n_checkboxes`` checkboxes."""
    texts: list[str] = []
    for m in _RE_IMG.finditer(_as_text(html_bytes)):
        code = _RE_DATA_CODE.search(m.group(0))
        if code and code.group(1):
            texts.append(code.group(1))
    n = len(texts)
    return _grid(n, _code_band_y0(n_checkboxes)), texts, [CODE_CONFIDENCE] * n


def detect_checkboxes(html_bytes: bytes | str):
    """HTML page -> (coords (n,8) normalized, texts, confidences), in
    source order."""
    glyphs: list[str] = []
    for m in _RE_INPUT.finditer(_as_text(html_bytes)):
        attrs = m.group(0)
        if _RE_TYPE_CHECKBOX.search(attrs):
            glyphs.append(CHECKED_GLYPH if _RE_CHECKED.search(attrs) else UNCHECKED_GLYPH)
    n = len(glyphs)
    return _grid(n, _CHECKBOX_GRID_Y0), glyphs, [CHECKBOX_CONFIDENCE] * n
