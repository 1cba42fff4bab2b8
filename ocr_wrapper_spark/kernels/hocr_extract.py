"""hOCR payload dialect — the fourth provider branch.

Mirrors the breadth of the reference's provider registry
(autoselect.py:17-27 registers five providers; each converter turns a
provider-specific response shape into the common BBox+text+confidence
list, e.g. easy_ocr.py / paddleocr.py). The fourth response dialect is
the public hOCR microformat (tesseract-style XHTML):

    <div class='ocr_page' ... title='image "p"; bbox 0 0 W H; ppageno 0'>
      <span class='ocrx_word' id='w_1_1'
            title='bbox X0 Y0 X1 Y1; x_wconf 96'>word</span>

The converter returns the exact tuple shape of
``pdf_extract.parse_pdf_payload`` / ``json_extract.parse_json_payload``
so the downstream normalize -> rotate -> date-split -> order pipeline
is shared verbatim across all four dialects.
"""

from __future__ import annotations

import re

import numpy as np

HOCR_MAGIC = b"<?xml"
_HOCR_MARK = b"class='ocr_page'"

_RE_PAGE = re.compile(r"class='ocr_page'[^>]*title='[^']*bbox 0 0 (\d+) (\d+)")
_RE_LANG = re.compile(r"<html[^>]*\blang=\"([^\"]*)\"")
_RE_WORD = re.compile(
    r"<span class='ocrx_word'[^>]*"
    r"title='bbox (\d+) (\d+) (\d+) (\d+); x_wconf (\d+)'[^>]*>([^<]*)</span>"
)


def is_hocr(payload: bytes) -> bool:
    return payload[: len(HOCR_MAGIC)] == HOCR_MAGIC and _HOCR_MARK in payload[:1024]


def parse_hocr_payload(payload: bytes):
    """hOCR document -> (raw_quads (n,8), texts, confidences, page_width,
    page_height, lang, page_ids). Words without a parsable title are
    simply not matched (the F3 non-WORD-block filter analogue).

    hOCR bboxes are axis-aligned integers, so the flow-orientation
    corner the order kernel votes on (A3) is not in the format; like
    real hOCR consumers, writing direction comes from the document
    language — for RTL languages the quad corners are emitted with the
    start-of-word corner on the RIGHT edge (matching what the PDF/JSON
    converters produce natively)."""
    from .pdf_extract import RTL_LANGUAGES

    doc = payload.decode("utf-8", errors="replace")
    pm = _RE_PAGE.search(doc)
    width, height = (int(pm.group(1)), int(pm.group(2))) if pm else (1224, 1584)
    # hostile/degenerate page box: never divide by zero downstream
    width, height = (width if width > 0 else 1224), (height if height > 0 else 1584)
    lm = _RE_LANG.search(doc)
    lang = lm.group(1) if lm else ""
    rtl = lang in RTL_LANGUAGES
    hits = _RE_WORD.findall(doc)
    if not hits:
        return (np.zeros((0, 8), dtype=np.float64), [], [], width, height, lang,
                np.zeros(0, dtype=np.int64))
    # one C-level string->float conversion for all numeric groups (the
    # per-match generator version was the costliest converter in the
    # profile: ~5 numpy-free python calls per word)
    nums = np.asarray([h[:5] for h in hits], dtype=np.float64)
    words = [h[5] for h in hits]
    x0 = nums[:, 0] / width
    y0 = nums[:, 1] / height
    x1 = nums[:, 2] / width
    y1 = nums[:, 3] / height
    if rtl:
        x0, x1 = x1, x0
    coords = np.stack([x0, y0, x1, y0, x1, y1, x0, y1], axis=1)
    # clamp-on-import (the reference's LabelStudio import policy,
    # bbox.py:278-280):
    # hostile integer boxes far outside the page must not blow up the
    # downstream scatter-add kernels
    np.clip(coords, 0.0, 1.0, out=coords)
    confs = (np.minimum(nums[:, 4], 100.0) / 100.0).tolist()  # wconf is 0..100
    return (coords, words, confs, width, height, lang,
            np.zeros(len(words), dtype=np.int64))
