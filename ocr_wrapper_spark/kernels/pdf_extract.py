"""PDF-layout branch: parse synthetic PDF-like payloads into ordered spans.

The container image has no pdf rasterizer, so the PDF branch operates on a
deterministic PDF-like payload format (FIXTURES.md §1: "%PDF-prefixed
synthetic PDF-like payloads to exercise the PDF/layout branch"):

    %PDF-GRAFT1.0
    %W <page_width> <page_height>
    %L <lang>
    %R <written_rotation>          (generator bookkeeping; NOT read back)
    S x1 y1 x2 y2 x3 y3 x4 y4 <confidence> <word>

Word quads are normalized floats with orientation-preserving vertex order:
vertex 1 is the start-of-word corner, vertex 2 the end-of-word corner in
flow direction. Rotation is therefore detectable from the mean vertex1 ->
vertex2 delta exactly like the reference's mean-symbol-delta method
(google_ocr.py:35-89), with RTL compensation.
"""

from __future__ import annotations

import numpy as np

PDF_MAGIC = b"%PDF"

# language codes treated as right-to-left (subset of reference
# google_ocr.py rtl_languages list, :10-31)
RTL_LANGUAGES = {"ar", "he", "fa", "ur", "ps", "sd", "ug", "yi"}

ROTATION_DICT = {(1, 0): 0, (0, 1): 90, (-1, 0): 180, (0, -1): 270, (0, 0): 0}


def is_pdf(payload: bytes) -> bool:
    return payload[:4] == PDF_MAGIC


def parse_pdf_payload(payload: bytes):
    """Parse the payload; returns (raw_quads (n,8), texts, confidences,
    page_width, page_height, lang, page_ids).

    ``P <idx>`` lines open a new page group (multi-page documents — the
    reference's pdf2image produces one image per page); S records belong
    to the most recent page (default 0). Non-S record types are dropped,
    mirroring the reference's WORD-block filter (aws.py:54-56, F3)."""
    text = payload.decode("utf-8", errors="replace")
    width, height, lang = 1224, 1584, ""
    quads: list[list[float]] = []
    words: list[str] = []
    confs: list[float] = []
    pages: list[int] = []
    page = 0
    for line in text.split("\n"):
        if line.startswith("%W "):
            _, w, h = line.split(" ")
            width, height = int(w), int(h)
        elif line.startswith("%L "):
            lang = line[3:].strip()
        elif line.startswith("P "):
            page = int(line.split(" ", 1)[1])
        elif line.startswith("S "):
            parts = line.split(" ", 10)
            quads.append(parts[1:9])  # str->float batched below (numpy C parser)
            confs.append(float(parts[9]))
            words.append(parts[10] if len(parts) > 10 else "")
            pages.append(page)
    coords = np.asarray(quads, dtype=np.float64).reshape(-1, 8)
    return coords, words, confs, width, height, lang, np.asarray(pages, dtype=np.int64)


def mean_flow_deltas(raw_quads: np.ndarray, lang: str) -> tuple[float, float]:
    """Mean (dx, dy) from the start-of-word to end-of-word vertex across all
    words, with RTL compensation (reference get_mean_symbol_deltas,
    google_ocr.py:35-71)."""
    if raw_quads.shape[0] == 0:
        return 0.0, 0.0
    xd = raw_quads[:, 2] - raw_quads[:, 0]
    yd = raw_quads[:, 3] - raw_quads[:, 1]
    if lang in RTL_LANGUAGES:
        horizontal = np.abs(xd) > np.abs(yd)
        xd = np.where(horizontal, -xd, xd)
        yd = np.where(horizontal, yd, -yd)
    return float(xd.mean()), float(yd.mean())


def rotation_from_deltas(xmean_delta: float, ymean_delta: float) -> int:
    """Sign-map from dominant delta to 0/90/180/270 (reference get_rotation,
    google_ocr.py:74-89)."""
    if abs(xmean_delta) > abs(ymean_delta):
        key = (int(xmean_delta / abs(xmean_delta)), 0) if xmean_delta != 0 else (0, 0)
    else:
        key = (0, int(ymean_delta / abs(ymean_delta))) if ymean_delta != 0 else (0, 0)
    return ROTATION_DICT[key]


def detect_rotation(raw_quads: np.ndarray, lang: str) -> int:
    return rotation_from_deltas(*mean_flow_deltas(raw_quads, lang))
