"""Batch-at-a-time reading order: a page's result does not depend on the
chunk it is ordered in, a failing page costs only its own document, and
per-document ``extract_ms`` adds up to the kernel's wall time."""

from __future__ import annotations

import time

import numpy as np
import pytest

from ocr_wrapper_spark.kernels import order
from ocr_wrapper_spark.kernels.extract_doc import EXTRACTORS, extract_document, extract_documents
from ocr_wrapper_spark.sources.pages import (
    build_hocr,
    build_html,
    build_json,
    build_page_rows,
    build_pdf,
    build_textract,
)

from tests.test_kernel_digest import (
    _pdf,
    _quad_line,
    doc_digest,
    order_digest,
    seeded_documents,
    tie_prone_pages,
)

TEXT = " ".join(f"w{i}" for i in range(60))
ARABIC = " ".join(["مرحبا", "كتاب", "بيت", "قلم", "123", "شمس"] * 8)
_NAN_X = "nan 0.1 nan 0.1 nan 0.2 nan 0.2".split()
_BOX = "0.1 0.1 0.2 0.1 0.2 0.2 0.1 0.2".split()


def mixed_batch() -> list[tuple[str, bytes, str]]:
    """(name, payload, lang): clean pages of every dialect around hostile
    ones. The tilted two-page PDF comes second, so its pages are pages 1
    and 2 of the batch: fixed chunks of two split it between chunks."""
    return [
        ("clean_html", build_html(2, TEXT, "en"), "en"),
        ("two_page_pdf", build_pdf(8, TEXT, "en"), "en"),
        ("nan_coords", _pdf(1000, 1000, [_quad_line(_NAN_X, "a"), _quad_line(_BOX, "b")]), "en"),
        ("clean_json", build_json(1, TEXT, "de"), "de"),
        ("narrow", _pdf(150, 1000, [_quad_line("0.1 0.1 0.9 0.1 0.9 0.2 0.1 0.2".split(), "a"),
                                    _quad_line("0.3 0.3 0.4 0.3 0.4 0.4 0.3 0.4".split(), "b")]), "en"),
        ("rtl", build_html(12, ARABIC, "ar"), "ar"),
        ("empty", build_html(22, "", "en"), "en"),
        ("nan_x_all", _pdf(1000, 1000, [_quad_line(_NAN_X, "a"), _quad_line(_NAN_X, "b")]), "en"),
        ("clean_hocr", build_hocr(4, TEXT, "fr"), "fr"),
        ("clean_textract", build_textract(7, TEXT, "en"), "en"),
        ("rtl_pdf", build_pdf(13, ARABIC, "ar"), "ar"),
    ]


def _digest(res) -> str:
    return doc_digest(res.extracted_text, res.coords.reshape(-1, 8), res.confidences,
                      res.rotation, res.tilt_angle, res.provider, res.error)


def _fixed_chunks(size: int):
    def chunks(pages):
        idx = list(range(len(pages)))
        return [idx[a : a + size] for a in range(0, len(idx), size)]

    return chunks


CHUNKINGS = {
    "one_page": _fixed_chunks(1),
    "two_pages": _fixed_chunks(2),
    "whole_batch": lambda pages: [list(range(len(pages)))],
}


def test_two_page_pdf_is_two_pages():
    assert b"\nP 1\n" in build_pdf(8, TEXT, "en")


@pytest.mark.parametrize("chunking", ["default", "small_budget", *CHUNKINGS])
def test_chunking_leaves_every_document_unchanged(monkeypatch, chunking):
    batch = mixed_batch()
    names = [b[0] for b in batch]
    alone = [_digest(extract_document(p, lang)) for _, p, lang in batch]
    if chunking == "small_budget":  # about two pages per chunk
        monkeypatch.setattr(order, "CHUNK_CELLS", 2 * order._cells(1224, 1584))
    elif chunking != "default":
        monkeypatch.setattr(order, "_chunks", CHUNKINGS[chunking])
    results = extract_documents([b[1] for b in batch], [b[2] for b in batch])
    assert dict(zip(names, map(_digest, results))) == dict(zip(names, alone))
    assert [n for n, r in zip(names, results) if r.error] == ["nan_coords"]
    assert results[names.index("nan_coords")].error.startswith("ValueError: ")
    assert results[names.index("two_page_pdf")].extracted_text == TEXT


def test_chunks_follow_the_cell_budget(monkeypatch):
    monkeypatch.setattr(order, "CHUNK_CELLS", 2 * order._cells(1224, 1584))
    page = (np.zeros((1, 8)), ["x"], 1224, 1584)
    tall = (np.zeros((1, 8)), ["x"], 1224, 200_000)
    hostile = (np.zeros((1, 8)), ["x"], -5, 1584)  # ordered alone whatever its size
    assert list(order._chunks([page] * 5)) == [[0, 1], [2, 3], [4]]
    assert list(order._chunks([page, tall, page, hostile, page])) == [[0], [1], [2], [3], [4]]


@pytest.mark.parametrize("chunking", ["default", *CHUNKINGS])
def test_tie_prone_pages_order_as_alone(monkeypatch, chunking):
    """Mirrored pages tie across tilts, so a tilt score summed any other
    way than per page (e.g. one segmented reduction) flips the pick; narrow
    pages take the clip path inside a chunk."""
    pages = tie_prone_pages()
    alone = [order_digest(order.order_boxes(*p)) for p in pages]
    if chunking != "default":
        monkeypatch.setattr(order, "_chunks", CHUNKINGS[chunking])
    results, ms = order.order_batch(pages)
    assert [order_digest(r) for r in results] == alone
    assert [order_digest(r) for r in order.order_segments(pages)] == alone
    assert (ms >= 0).all()


def test_tilt_angles_are_the_scalar_arctan_values():
    expected = [float(np.arctan(float(tf)) / order.DEGREE2RADIAN) for tf in order.TILT_FRACTIONS]
    assert order.TILT_ANGLES == expected


def test_empty_pages_in_a_chunk():
    pages = tie_prone_pages()[:3]
    empty = (np.zeros((0, 8)), [], 1224, 1584)
    out = order.order_segments([empty, pages[0], empty, pages[1], pages[2], empty])
    assert [out[i][0].tolist() for i in (0, 2, 5)] == [[], [], []]
    alone = [order_digest(order.order_boxes(*p)) for p in pages]
    assert [order_digest(r) for r in (out[1], out[3], out[4])] == alone


@pytest.mark.parametrize("mode", sorted(EXTRACTORS))
def test_extract_ms_adds_up_to_the_kernel_wall(mode):
    pages = build_page_rows(seeded_documents(seed=11, n=80))
    batch = mixed_batch()
    payloads = list(pages["html"]) + [b[1] for b in batch]
    langs = list(pages["lang"]) + [b[2] for b in batch]
    texts = list(pages["text"]) + [TEXT] * len(batch)
    kernel = EXTRACTORS[mode]
    for _ in range(2):
        t0 = time.perf_counter()
        results = kernel(payloads, langs, texts)
        wall_ms = (time.perf_counter() - t0) * 1000.0
        ms = [r.extract_ms for r in results]
        assert min(ms) >= 0.0
        assert abs(sum(ms) - wall_ms) <= 0.05 * wall_ms, (sum(ms), wall_ms)
