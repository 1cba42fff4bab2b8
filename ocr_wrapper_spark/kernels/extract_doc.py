"""Extraction pipeline — the kernel behind the main Arrow UDF.

Reproduces the reference's single-doc dataflow (OcrWrapper.ocr,
ocr_wrapper.py:103-175, SURVEY.md §3.1) over page payloads:

    sniff doc type -> branch extract -> normalize -> detect & apply
    rotation -> split date-range boxes -> reading-order sort -> assemble

in two phases over a batch of documents: ``_prepare`` runs everything up
to the sort for one document and leaves its pages; one
``order.order_batch`` call then sorts the pages of the whole batch, and
``_assemble`` puts each document back together. ``extract_documents`` is
that batch kernel and ``extract_document`` a batch of one; both are the
pytest oracle and the body of the Spark UDF. ``EXTRACTORS`` maps each
extraction mode to its batch kernel.
"""

from __future__ import annotations

import time

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


def _empty(provider: str, error: str | None = None) -> ExtractResult:
    return ExtractResult(bc.empty_boxes(), [], [], 0, 0.0, provider, error)


def _error(exc: Exception) -> ExtractResult:
    """Error row, not task failure (SURVEY.md §2.10 D2)."""
    return _empty("error", f"{type(exc).__name__}: {exc}")


class _Pages:
    """A document after phase 1: its pages as (coords, words, confidences)
    awaiting reading order."""

    __slots__ = ("pages", "rotation", "provider", "width", "height")

    def __init__(self, pages, rotation, provider, width, height):
        self.pages = pages
        self.rotation = rotation
        self.provider = provider
        self.width = width
        self.height = height


def _prepare_html(payload: bytes, lang: str):
    """HTML branch: text-density boilerplate strip -> synthesized layout ->
    normalize -> date split."""
    main_text = extract_main_text(payload)
    words = main_text.split(" ") if main_text else []
    words = bidi_fix_words(words, lang)
    if not words:
        return _empty("html")
    coords_px, width, height = layout.layout_words(words, rtl=lang in RTL_LANGUAGES)
    coords = bc.to_normalized(coords_px, width, height)
    page = clean.split_date_boxes(coords, words, [HTML_CONFIDENCE] * len(words))
    return _Pages([page], 0, "html", width, height)


def _prepare_layout(parsed, lang: str, provider: str):
    """Layout branches: canonicalize -> rotation detect & correct
    (reference ocr_wrapper.py:146-151) -> date split, page by page.

    Multi-page documents (the reference's pdf2image yields one image per
    page) are split and ordered page by page; rotation is detected once
    across all pages (a scanned document rotates as a whole)."""
    raw, words, confidences, width, height, doc_lang, page_ids = parsed
    doc_lang = doc_lang or lang
    if raw.shape[0] == 0:
        return _empty(provider)
    rotation = pdf_extract.detect_rotation(raw, doc_lang)
    coords = bc.canonicalize(raw, in_pixels=False, validate=False)
    if rotation:
        coords = bc.rotate(coords, rotation)
        if rotation in (90, 270):
            width, height = height, width
    words = bidi_fix_words(words, doc_lang)

    pages = []
    for page in np.unique(page_ids):
        sel = np.nonzero(page_ids == page)[0]
        pages.append(clean.split_date_boxes(
            coords[sel], [words[i] for i in sel], [confidences[i] for i in sel]
        ))
    return _Pages(pages, rotation, provider, width, height)


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


def _prepare(payload: bytes | None, lang: str | None):
    """Phase 1 of one document: its ExtractResult when it ends here (null,
    empty or failing payload), else its _Pages."""
    lang = lang or ""
    if payload is None:
        return _empty("none", "null payload")
    try:
        for sniff, parse, provider in _LAYOUT_DIALECTS:
            if sniff(payload):
                return _prepare_layout(parse(payload), lang, provider)
        return _prepare_html(payload, lang)
    except Exception as exc:
        return _error(exc)


def _assemble(doc: _Pages, ordered: list) -> ExtractResult:
    """Phase 3: the document's pages in reading order; the first page's
    tilt is the document's, and a page that failed to order fails it."""
    out_coords: list[np.ndarray] = []
    out_words: list[str] = []
    out_conf: list[float] = []
    tilt = 0.0
    for p_idx, ((coords, words, conf), res) in enumerate(zip(doc.pages, ordered)):
        if isinstance(res, Exception):
            return _error(res)
        idx = res[0]
        if p_idx == 0:
            tilt = res[1]
        out_coords.append(coords[idx])
        idx = idx.tolist()
        out_words.extend(words[i] for i in idx)
        out_conf.extend(conf[i] for i in idx)
    all_coords = np.vstack(out_coords) if out_coords else bc.empty_boxes()
    return ExtractResult(all_coords, out_words, out_conf, doc.rotation, tilt, doc.provider,
                         width=doc.width, height=doc.height)


def extract_documents(payloads: list, langs: list) -> list[ExtractResult]:
    """The batch kernel: phase 1 per document, one reading-order pass over
    the pages of all of them, then assembly.

    Each result's ``extract_ms`` is its own phase-1 and assembly wall time
    plus its pages' shares of their chunks' ordering time (shared by box
    count), so the values of a batch add up to the kernel's wall time."""
    clock = time.perf_counter
    docs = []
    ms = []
    t_prev = clock()
    for payload, lang in zip(payloads, langs):
        docs.append(_prepare(payload, lang))
        t = clock()
        ms.append((t - t_prev) * 1000.0)
        t_prev = t
    pages = [(c, w, d.width, d.height) for d in docs if isinstance(d, _Pages) for c, w, _ in d.pages]
    ordered, page_ms = order.order_batch(pages)
    page_ms = page_ms.tolist()

    out = []
    k = 0
    t_prev = clock()
    for doc, doc_ms in zip(docs, ms):
        if isinstance(doc, _Pages):
            n = len(doc.pages)
            res = _assemble(doc, ordered[k : k + n])
            doc_ms += sum(page_ms[k : k + n])
            k += n
        else:
            res = doc
        t = clock()
        res.extract_ms = doc_ms + (t - t_prev) * 1000.0
        t_prev = t
        out.append(res)
    return out


def extract_document(payload: bytes | None, lang: str | None) -> ExtractResult:
    """One document through the batch kernel: dispatch on sniffed document
    type (SURVEY.md §2.10 D1); errors are captured per-document into the
    error field instead of failing the task (D2)."""
    return extract_documents([payload], [lang])[0]


def _then(results: list[ExtractResult], step) -> list[ExtractResult]:
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
    return out


def extract_dual_batch(payloads: list, langs: list, provider_texts: list) -> list[ExtractResult]:
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
            primary.coords, primary.texts, coords_s, words, 0, width, height
        )
        return ExtractResult(merged, texts, confidences, primary.rotation, primary.tilt_angle,
                             "dual", width=width, height=height)

    return _then(extract_documents(payloads, langs), combine)


def extract_dual(payload: bytes | None, lang: str | None, provider_text: str | None) -> ExtractResult:
    return extract_dual_batch([payload], [lang], [provider_text])[0]


def extract_consensus_batch(payloads: list, langs: list, n_samples: int = 2) -> list[ExtractResult]:
    """Multi-sample consensus extraction (reference ocr_samples=2 default,
    ocr_wrapper.py:69 + aggregate_ocr_samples, SURVEY.md §2.10 D5): run the
    extractor per sample, pool with response ids, pick the
    best-mean-confidence response, enrich with non-overlapping singletons.

    Page extraction is deterministic (no provider noise), so samples are
    identical and consensus must return the base response unchanged — the
    grouping/enrichment machinery still runs end to end.

    n_samples > 2 is supported via the n-way generalization in
    ``combine.aggregate_samples_n`` (the reference raises
    NotImplementedError there, aggregate_multiple_responses.py:188).
    """
    from . import combine as cmb

    if n_samples < 1:
        raise ValueError(f"n_samples must be >= 1, got {n_samples}")
    out = extract_documents(payloads, langs)
    ok = [i for i, res in enumerate(out) if res.error is None]
    extra = [
        extract_documents([payloads[i] for i in ok], [langs[i] for i in ok])
        for _ in range(n_samples - 1)
    ]
    clock = time.perf_counter
    for j, i in enumerate(ok):
        t0 = clock()
        s1 = out[i]
        samples = [(s1.coords, s1.texts, s1.confidences)]
        samples += [(s[j].coords, s[j].texts, s[j].confidences) for s in extra]
        coords, texts, conf = cmb.aggregate_samples_n(samples)
        res = ExtractResult(coords, texts, conf, s1.rotation, s1.tilt_angle, "consensus",
                            width=s1.width, height=s1.height)
        res.extract_ms = (s1.extract_ms + sum(s[j].extract_ms for s in extra)
                          + (clock() - t0) * 1000.0)
        out[i] = res
    return out


def extract_consensus(payload: bytes | None, lang: str | None, n_samples: int = 2) -> ExtractResult:
    return extract_consensus_batch([payload], [lang], n_samples)[0]


def extract_with_aux_batch(payloads: list, langs: list) -> list[ExtractResult]:
    """Extraction with auxiliary checkbox spans (reference checkbox flow:
    GoogleDocumentOcrCheckboxDetector produces ☑/☐ BBoxes from the page,
    google_azure_ocr.py:176-193 suppresses overlapped words then merges
    the aux spans in reading order — F6 + J4 in kernels/combine.py).

    The detector input here is the HTML page itself (the image analogue);
    PDF/JSON-layout documents pass through unchanged."""
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


def extract_with_aux(payload: bytes | None, lang: str | None) -> ExtractResult:
    return extract_with_aux_batch([payload], [lang])[0]


def _single(payloads, langs, texts):
    return extract_documents(payloads, langs)


def _consensus2(payloads, langs, texts):
    return extract_consensus_batch(payloads, langs, 2)


def _consensus3(payloads, langs, texts):
    return extract_consensus_batch(payloads, langs, 3)


def _aux(payloads, langs, texts):
    return extract_with_aux_batch(payloads, langs)


# extraction mode -> batch kernel; every kernel takes (payloads, langs,
# provider texts) and returns one ExtractResult per document, and only
# ``dual`` reads the provider texts
EXTRACTORS = {
    "single": _single,
    "dual": extract_dual_batch,
    "consensus": _consensus2,
    "consensus3": _consensus3,
    "aux": _aux,
}
