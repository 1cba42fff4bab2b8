"""AWS Textract Blocks-JSON payload dialect — the fifth provider branch.

Mirrors the reference's AwsOCR response converter
(ref: ocr_wrapper/aws.py:51-60): a ``detect_document_text`` response is
a ``Blocks`` list of PAGE / LINE / WORD blocks; the converter keeps
ONLY ``BlockType == "WORD"`` (the F3 block-type filter on its native
shape, aws.py:54-56), flattens ``Geometry.Polygon`` ``{X, Y}`` vertices
into the 8-float quad (aws.py:57), and takes ``Text`` per block.
Textract reports relative coordinates (``in_pixels=False`` at
aws.py:58) and percent confidences.

A raw Textract response carries neither the image pixel dims nor the
language — the reference has both because it holds the PIL image it
sent (aws.py:40, ocr_wrapper.py:103). In the page-table world the
payload is all a task ever sees, so the synthetic crawler stores a
small envelope next to the verbatim response fields::

    {"DocumentMetadata": {"Pages": 1},
     "ImageSize": {"Width": W, "Height": H},   # envelope (the "PIL image")
     "Lang": "..",                             # envelope
     "Blocks": [{"BlockType": "WORD", "Text": t, "Confidence": 93.0,
                 "Id": "..", "Page": 1,
                 "Geometry": {"Polygon": [{"X": x, "Y": y}, ...x4]}}, ...]}

The converter returns the exact tuple shape of
``pdf_extract.parse_pdf_payload`` so normalize -> rotate -> date-split
-> order are shared verbatim with the PDF/JSON/hOCR branches.
"""

from __future__ import annotations

import numpy as np

from .json_extract import decode_with

TEXTRACT_MAGIC = b'{"DocumentMetadata"'


def is_textract(payload: bytes) -> bool:
    return payload[: len(TEXTRACT_MAGIC)] == TEXTRACT_MAGIC


def parse_textract_payload(payload: bytes):
    """Textract Blocks response -> (raw_quads (n,8), texts, confidences,
    page_width, page_height, lang, page_ids). Non-WORD blocks (PAGE,
    LINE) are dropped — the reference's ``if block["BlockType"] !=
    "WORD": continue`` (aws.py:54-56); WORD blocks missing Text or a
    4-vertex Polygon are dropped like the JSON dialect's malformed
    spans. Confidences are percent (aws Confidence field), scaled to
    [0, 1]."""
    return decode_with(payload, _convert)


def _convert(doc, text):
    size = doc.get("ImageSize") or {}
    width = int(size.get("Width") or 1224)
    height = int(size.get("Height") or 1584)
    lang = text(doc.get("Lang") or "")
    quads: list[list[float]] = []
    words: list[str] = []
    confs: list[float] = []
    pages: list[int] = []
    blocks = doc.get("Blocks") or []
    # containers: the document, its image size, the blocks list and blocks,
    # and of each WORD block kept its geometry, polygon and four vertices
    visited = 1 + bool(size) + bool(blocks) + len(blocks)
    for block in blocks:
        if block.get("BlockType") != "WORD":  # F3 on its native shape
            continue
        poly = (block.get("Geometry") or {}).get("Polygon")
        t = block.get("Text")
        if poly is None or t is None or len(poly) != 4:
            continue
        quads.append([c for v in poly for c in (v["X"], v["Y"])])  # aws.py:57
        words.append(text(t))
        confs.append(float(block.get("Confidence") or 0.0) / 100.0)
        pages.append(int(block.get("Page") or 1) - 1)
    coords = np.asarray(quads, dtype=np.float64).reshape(-1, 8)
    visited += 6 * len(quads)
    return (coords, words, confs, width, height, lang, np.asarray(pages, dtype=np.int64)), visited
