"""Extraction pipeline — the kernel behind the main Arrow UDF.

Reproduces the reference's single-doc dataflow (OcrWrapper.ocr,
ocr_wrapper.py:103-175, SURVEY.md §3.1) over page payloads:

    sniff doc type -> branch extract -> normalize -> detect & apply
    rotation -> split date-range boxes -> reading-order sort -> assemble

over a batch of documents at a time. Each document is parsed on its own
(sniff, branch extract, rotation vote); the rest of phase 1 then runs
once over one box table of the whole batch (``_phase1``: HTML
normalization, canonicalization, rotation, page split, date split, all
row by row); one ``order.order_batch`` call sorts the pages of the
batch, and one gather puts the table in reading order, which the
results slice and ``Extracted.spans`` hands to the Arrow columns whole.
``extract_documents`` is that batch kernel and ``extract_document`` a
batch of one; both are the pytest oracle and the body of the Spark UDF.
``EXTRACTORS`` maps each extraction mode to its batch kernel.
"""

from __future__ import annotations

import time
from functools import partial

import numpy as np

from . import bbox_core as bc
from . import clean, hocr_extract, json_extract, layout, order, pdf_extract, textract_extract
from .html_extract import extract_main_text
from .pdf_extract import RTL_LANGUAGES
from .textops import flip_number_blocks, has_arabic_text

# constant confidence assigned to combined-provider output
# (reference google_azure_ocr.py:208)
HTML_CONFIDENCE = 0.9


def bidi_fix_words(words: list[str], lang: str) -> list[str]:
    """Reference _correct_bidi_bug (google_ocr.py:123-136): words detected
    as Arabic but containing no Arabic characters get their digit blocks
    flipped."""
    if lang != "ar":
        return words
    return [
        flip_number_blocks(w) if len(w) > 1 and not has_arabic_text(w) else w
        for w in words
    ]


class ExtractResult:
    __slots__ = (
        "coords", "texts", "confidences", "rotation", "tilt_angle",
        "provider", "error", "width", "height", "extract_ms",
    )

    def __init__(self, coords, texts, confidences, rotation, tilt_angle, provider,
                 error=None, width=0, height=0):
        self.coords = coords
        self.texts = texts
        self.confidences = confidences
        self.rotation = rotation
        self.tilt_angle = tilt_angle
        self.provider = provider
        self.error = error
        self.width = width
        self.height = height
        self.extract_ms = 0.0

    @property
    def extracted_text(self) -> str:
        return order.assemble_text(self.texts)


class Extracted(list):
    """One batch's ExtractResults in document order, and their spans laid
    end to end: ``spans`` is (coords (total, 8), texts, confidences as a
    float64 array), document i's rows following document i - 1's (as many
    as its ``texts``)."""

    def __init__(self, results, spans=None):
        super().__init__(results)
        self._spans = spans

    @property
    def spans(self):
        if self._spans is None:
            kept = [r for r in self if len(r.texts)]
            coords = (np.vstack([r.coords.reshape(-1, 8) for r in kept]) if kept
                      else bc.empty_boxes())
            texts = [t for r in kept for t in r.texts]
            conf = np.array([c for r in kept for c in r.confidences], dtype=np.float64)
            self._spans = (coords, texts, conf)
        return self._spans


def _empty(provider: str, error: str | None = None) -> ExtractResult:
    return ExtractResult(bc.empty_boxes(), [], [], 0, 0.0, provider, error)


def _error(exc: Exception) -> ExtractResult:
    """Error row, not task failure (SURVEY.md §2.10 D2)."""
    return _empty("error", f"{type(exc).__name__}: {exc}")


class _Doc:
    """A document after its own parse, awaiting the batch stages: its
    boxes, raw quads with their page ids (layout dialects) or pixel boxes
    of one page with ``page_ids`` None (HTML)."""

    __slots__ = ("coords", "words", "confidences", "page_ids", "rotation", "provider",
                 "width", "height")

    def __init__(self, coords, words, confidences, page_ids, rotation, provider, width, height):
        self.coords = coords
        self.words = words
        self.confidences = confidences
        self.page_ids = page_ids
        self.rotation = rotation
        self.provider = provider
        self.width = width
        self.height = height


def _parse_html(payload: bytes, lang: str):
    """HTML branch: text-density boilerplate strip -> synthesized layout
    (pixels; normalized and date-split with the batch)."""
    main_text = extract_main_text(payload)
    words = main_text.split(" ") if main_text else []
    words = bidi_fix_words(words, lang)
    if not words:
        return _empty("html")
    coords_px, width, height = layout.layout_words(words, rtl=lang in RTL_LANGUAGES)
    return _Doc(coords_px, words, [HTML_CONFIDENCE] * len(words), None, 0, "html",
                width, height)


def _parse_layout(parsed, lang: str, provider: str):
    """Layout branches: the payload's boxes and its rotation (reference
    ocr_wrapper.py:146-151), detected once across all pages (a scanned
    document rotates as a whole) from the raw quads' mean flow, a
    reduction kept per document; canonicalizing and rotating run with
    the batch.

    Multi-page documents (the reference's pdf2image yields one image per
    page) are split into pages with the batch and ordered page by page."""
    raw, words, confidences, width, height, doc_lang, page_ids = parsed
    doc_lang = doc_lang or lang
    if raw.shape[0] == 0:
        return _empty(provider)
    rotation = pdf_extract.detect_rotation(raw, doc_lang)
    if rotation in (90, 270):
        width, height = height, width
    return _Doc(raw, bidi_fix_words(words, doc_lang), confidences, page_ids, rotation,
                provider, width, height)


# payload dialects with a word layout of their own, in sniffing order
# (SURVEY.md §2.10 D1; HTML is the fallback): each converter mirrors one
# reference provider's response converter (e.g. aws.py:54-60) and returns
# the same tuple, so normalize / rotate / date-split / order are shared
_LAYOUT_DIALECTS = (
    (pdf_extract.is_pdf, pdf_extract.parse_pdf_payload, "pdf"),
    (json_extract.is_json_layout, json_extract.parse_json_payload, "json"),
    (textract_extract.is_textract, textract_extract.parse_textract_payload, "textract"),
    (hocr_extract.is_hocr, hocr_extract.parse_hocr_payload, "hocr"),
)


def _parse(payload: bytes | None, lang: str | None):
    """The per-document part of phase 1: its ExtractResult when it ends
    here (null, empty or failing payload), else its _Doc."""
    lang = lang or ""
    if payload is None:
        return _empty("none", "null payload")
    try:
        for sniff, parse, provider in _LAYOUT_DIALECTS:
            if sniff(payload):
                return _parse_layout(parse(payload), lang, provider)
        return _parse_html(payload, lang)
    except Exception as exc:
        return _error(exc)


def _rotate_table(coords: np.ndarray, row_doc: np.ndarray, steps: np.ndarray) -> np.ndarray:
    """``bc.rotate`` of each document's rows by steps[doc] x 90 deg, one
    step for all rotated rows at a time; returns the documents whose rows
    fail a step's range check (each raises when rotated alone)."""
    failed = np.zeros(len(steps), dtype=bool)
    for step in range(1, int(steps.max(initial=0)) + 1):
        rows = np.flatnonzero(steps[row_doc] >= step)
        pts = coords[rows].reshape(-1, 4, 2)
        turned = np.empty_like(pts)
        turned[:, :, 0] = pts[:, :, 1]
        turned[:, :, 1] = 1.0 - pts[:, :, 0]
        turned = np.maximum(turned.reshape(-1, 8), 0.0)
        # bc.validate_relative per document: past the clip only a value over
        # the leeway fails, and a NaN anywhere in the document (it makes
        # min() and max() NaN) passes it
        docs, first = np.unique(row_doc[rows], return_index=True)
        top = np.maximum.reduceat(turned.max(axis=1), first)
        failed[docs[top > bc.RELATIVE_LEEWAY]] = True
        coords[rows] = bc.canonicalize(turned, in_pixels=False, validate=False)
    return failed


def _phase1(docs: list):
    """The batch part of phase 1 over the parsed documents ``docs``: one
    box table, normalized (HTML), canonicalized, rotated, split into pages
    and date-split once for all of them, every step row by row.

    Returns (coords, words, confidences, row_doc, page_starts, errors):
    the table with its rows grouped by document and page, the page runs'
    first rows (and the end), and {doc: exception} for the documents that
    fail a step, whose rows are left out."""
    counts = np.array([d.coords.shape[0] for d in docs])
    row_doc = np.repeat(np.arange(len(docs)), counts)
    coords = np.concatenate([d.coords for d in docs])
    words = [w for d in docs for w in d.words]
    conf = [c for d in docs for c in d.confidences]

    # HTML pixels -> relative, clamped into [0, 1] (bc.to_normalized, whose
    # range check cannot fail past the clamp)
    html = np.array([d.page_ids is None for d in docs])
    if html.any():
        # a layout page size may be any int, past float range too: only the
        # HTML pages (layout sizes) are converted
        scale = np.array([[d.width, d.height] * 4 if d.page_ids is None else [1] * 8
                          for d in docs], dtype=np.float64)
        rows = np.flatnonzero(html[row_doc])
        coords[rows] = np.clip(coords[rows] / scale[row_doc[rows]], 0.0, 1.0)
    coords = bc.canonicalize(coords, in_pixels=False, validate=False)

    errors = {}
    steps = np.array([d.rotation // 90 for d in docs])
    if steps.any():
        for i in np.flatnonzero(_rotate_table(coords, row_doc, steps)).tolist():
            try:  # the document alone raises its own range error
                bc.rotate(bc.canonicalize(docs[i].coords, in_pixels=False, validate=False),
                          docs[i].rotation)
            except Exception as exc:
                errors[i] = exc
    page = np.concatenate([
        np.zeros(len(d.words), dtype=np.int64) if d.page_ids is None else d.page_ids for d in docs
    ])
    keep = None
    if errors:
        keep = np.flatnonzero(~np.isin(row_doc, list(errors)))
    new_doc = row_doc[1:] != row_doc[:-1]
    if not ((page[1:] >= page[:-1]) | new_doc).all():
        # pages in ascending id order, boxes in payload order within a page
        order = np.lexsort((page, row_doc))
        keep = order if keep is None else order[np.isin(order, keep)]
    if keep is not None:
        coords, row_doc, page = coords[keep], row_doc[keep], page[keep]
        keep = keep.tolist()
        words = [words[k] for k in keep]
        conf = [conf[k] for k in keep]

    coords, words, split = clean.split_date_rows(coords, words)
    conf = np.asarray(conf, dtype=np.float64)
    if split is not None:
        row_doc, page, conf = (np.repeat(a, split) for a in (row_doc, page, conf))
    cut = np.flatnonzero((row_doc[1:] != row_doc[:-1]) | (page[1:] != page[:-1])) + 1
    page_starts = np.concatenate([[0], cut, [len(words)]]) if len(words) else np.zeros(1, dtype=np.int64)
    return coords, words, conf, row_doc, page_starts, errors


def extract_documents(payloads: list, langs: list, texts: list | None = None) -> Extracted:
    """The batch kernel: each document parsed on its own, then phase 1 over
    one box table of all of them, one reading-order pass over their pages,
    and one gather of the table into reading order. ``texts`` (the
    provider text column) is not read: it is there so that every
    ``EXTRACTORS`` kernel takes the same arguments.

    Each result's ``extract_ms`` is its own parse and result wall time,
    plus its share of the batch stages (by box count) and its pages'
    shares of their chunks' ordering time, so the values of a batch add
    up to the kernel's wall time."""
    clock = time.perf_counter
    n = len(payloads)
    out: list = [None] * n
    ms = np.zeros(n)
    boxes = np.zeros(n)
    docs: list[_Doc] = []
    doc_at: list[int] = []
    t_prev = clock()
    for i, (payload, lang) in enumerate(zip(payloads, langs)):
        res = _parse(payload, lang)
        if isinstance(res, _Doc):
            docs.append(res)
            doc_at.append(i)
            boxes[i] = res.coords.shape[0]
        else:
            out[i] = res
        t = clock()
        ms[i] = (t - t_prev) * 1000.0
        t_prev = t
    if not docs:
        for res, doc_ms in zip(out, ms.tolist()):
            res.extract_ms = doc_ms
        return Extracted(out, (bc.empty_boxes(), [], np.zeros(0)))

    coords, words, conf, row_doc, page_starts, errors = _phase1(docs)
    starts = page_starts[:-1].tolist()
    ends = page_starts[1:].tolist()
    page_doc = row_doc[page_starts[:-1]].tolist() if starts else []
    pages = [(coords[a:b], words[a:b], docs[d].width, docs[d].height)
             for a, b, d in zip(starts, ends, page_doc)]
    t = clock()
    share = boxes / boxes.sum()
    ms += (t - t_prev) * 1000.0 * share
    t_prev = t

    ordered, page_ms = order.order_batch(pages)
    page_ms = page_ms.tolist()
    t_prev = clock()

    # the reading order of every document whose pages all ordered, as rows
    # of the table; a failing page fails its document
    first_page = {}
    n_rows = {}
    for k, (d, res) in enumerate(zip(page_doc, ordered)):
        ms[doc_at[d]] += page_ms[k]
        if isinstance(res, Exception):
            errors.setdefault(d, res)
        elif d not in errors:
            first_page.setdefault(d, res)
            n_rows[d] = n_rows.get(d, 0) + len(res[0])
    perm = [res[0] + s for s, d, res in zip(starts, page_doc, ordered) if d not in errors]
    perm = np.concatenate(perm) if perm else np.zeros(0, dtype=np.int64)
    coords = coords[perm]
    words = [words[j] for j in perm.tolist()]
    conf = conf[perm]
    conf_list = conf.tolist()
    t = clock()
    ms += (t - t_prev) * 1000.0 * share
    t_prev = t

    a = 0
    for d, doc in enumerate(docs):
        i = doc_at[d]
        if d in errors:
            out[i] = _error(errors[d])
        else:
            b = a + n_rows[d]
            out[i] = ExtractResult(coords[a:b], words[a:b], conf_list[a:b], doc.rotation,
                                   first_page[d][1], doc.provider, width=doc.width,
                                   height=doc.height)
            a = b
        t = clock()
        ms[i] += (t - t_prev) * 1000.0
        t_prev = t
    for res, doc_ms in zip(out, ms.tolist()):
        res.extract_ms = doc_ms
    return Extracted(out, (coords, words, conf))


def extract_document(payload: bytes | None, lang: str | None) -> ExtractResult:
    """One document through the batch kernel: dispatch on sniffed document
    type (SURVEY.md §2.10 D1); errors are captured per-document into the
    error field instead of failing the task (D2)."""
    return extract_documents([payload], [lang])[0]


def _then(results: list[ExtractResult], step) -> Extracted:
    """``step(i, result)`` on every result without an error, its wall time
    added to the document's ``extract_ms``; a step that raises turns its
    document into an error row."""
    clock = time.perf_counter
    out = []
    for i, res in enumerate(results):
        if res.error is not None:
            out.append(res)
            continue
        t0 = clock()
        try:
            new = step(i, res)
        except Exception as exc:
            new = _error(exc)
        new.extract_ms = res.extract_ms + (clock() - t0) * 1000.0
        out.append(new)
    return Extracted(out)


def extract_dual_batch(payloads: list, langs: list, provider_texts: list) -> Extracted:
    """Dual-provider extraction (GoogleAzureOCR analogue, SURVEY.md §3.2).

    Primary = the batch kernel's result (rotation authority, like Google
    in the reference); secondary = spans synthesized from the pre-existing
    provider ``text`` column (enrichment source, like Azure). The combine
    applies F1/F2 to the primary, J2 anti-join + J4 ordered merge for the
    secondary, constant confidence 0.9 (google_azure_ocr.py:145-208)."""
    from . import combine as cmb

    langs = [lang or "" for lang in langs]

    def combine(i, primary):
        lang, provider_text = langs[i], provider_texts[i]
        words = (provider_text or "").split(" ") if provider_text else []
        words = bidi_fix_words(words, lang)
        coords_px, w2, h2 = layout.layout_words(words, rtl=lang in RTL_LANGUAGES)
        coords_s = bc.to_normalized(coords_px, w2, h2) if words else bc.empty_boxes()

        width = primary.width or w2
        height = primary.height or h2
        # the secondary is synthesized upright, so no rotation correction
        # is needed (the reference rotates Azure boxes because Azure saw
        # the still-rotated image)
        merged, texts, confidences = cmb.combine_primary_secondary(
            primary.coords, primary.texts, coords_s, words, width, height
        )
        return ExtractResult(merged, texts, confidences, primary.rotation, primary.tilt_angle,
                             "dual", width=width, height=height)

    return _then(extract_documents(payloads, langs), combine)


def extract_consensus_batch(payloads: list, langs: list, texts: list | None = None,
                            n_samples: int = 2) -> Extracted:
    """Multi-sample consensus extraction (reference ocr_samples=2 default,
    ocr_wrapper.py:69 + aggregate_ocr_samples, SURVEY.md §2.10 D5): pool
    the samples with response ids, pick the best-mean-confidence response,
    enrich with non-overlapping singletons.

    Page extraction is deterministic (no provider noise), so every sample
    equals the first: the batch is extracted once and that sample is
    pooled ``n_samples`` times. Consensus must return the base response
    unchanged — the grouping/enrichment machinery still runs end to end.

    n_samples > 2 is supported via the n-way generalization in
    ``combine.aggregate_samples_n`` (the reference raises
    NotImplementedError there, aggregate_multiple_responses.py:188).
    ``texts`` is not read.
    """
    from . import combine as cmb

    if n_samples < 1:
        raise ValueError(f"n_samples must be >= 1, got {n_samples}")

    def pool(i, base):
        sample = (base.coords, base.texts, base.confidences)
        coords, texts, conf = cmb.aggregate_samples_n([sample] * n_samples)
        return ExtractResult(coords, texts, conf, base.rotation, base.tilt_angle, "consensus",
                             width=base.width, height=base.height)

    return _then(extract_documents(payloads, langs), pool)


def extract_with_aux_batch(payloads: list, langs: list, texts: list | None = None) -> Extracted:
    """Extraction with auxiliary checkbox spans (reference checkbox flow:
    GoogleDocumentOcrCheckboxDetector produces ☑/☐ BBoxes from the page,
    google_azure_ocr.py:176-193 suppresses overlapped words then merges
    the aux spans in reading order — F6 + J4 in kernels/combine.py).

    The detector input here is the HTML page itself (the image analogue);
    PDF/JSON-layout documents pass through unchanged. ``texts`` is not
    read."""
    from . import combine as cmb
    from .checkbox_detect import (
        CHECKBOX_CONFIDENCE,
        CODE_CONFIDENCE,
        detect_checkboxes,
        detect_codes,
    )

    def merge_aux(i, base):
        if base.provider != "html":
            return base
        payload = payloads[i]
        coords_cb, texts_cb, _ = detect_checkboxes(payload)
        coords_qr, texts_qr, _ = detect_codes(payload, n_checkboxes=len(texts_cb))
        coords_aux = np.vstack([coords_cb, coords_qr])
        texts_aux = texts_cb + texts_qr
        width = base.width or layout.PAGE_WIDTH
        height = base.height or layout.PAGE_HEIGHT
        if len(texts_aux) == 0:
            merged, texts = base.coords, base.texts
        else:
            merged, texts = cmb.suppress_then_merge_aux(
                base.coords, base.texts, coords_aux, texts_aux, width, height
            )
        glyphs = {"☑", "☐"}
        code_texts = set(texts_qr)
        confidences = [
            CHECKBOX_CONFIDENCE
            if t in glyphs
            else (CODE_CONFIDENCE if t in code_texts else HTML_CONFIDENCE)
            for t in texts
        ]
        return ExtractResult(merged, texts, confidences, base.rotation, base.tilt_angle,
                             "html+aux", width=width, height=height)

    return _then(extract_documents(payloads, langs), merge_aux)


# extraction mode -> batch kernel; every kernel takes (payloads, langs,
# provider texts) and returns one ExtractResult per document, and only
# ``dual`` reads the provider texts
EXTRACTORS = {
    "single": extract_documents,
    "dual": extract_dual_batch,
    "consensus": extract_consensus_batch,
    "consensus3": partial(extract_consensus_batch, n_samples=3),
    "aux": extract_with_aux_batch,
}
