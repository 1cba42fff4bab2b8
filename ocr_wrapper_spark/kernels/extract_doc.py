"""Per-document extraction pipeline — the kernel behind the main Arrow UDF.

Reproduces the reference's single-doc dataflow (OcrWrapper.ocr,
ocr_wrapper.py:103-175, SURVEY.md §3.1) over page payloads:

    sniff doc type -> branch extract -> normalize -> detect & apply
    rotation -> split date-range boxes -> reading-order sort -> assemble

The same function is the pytest oracle and the body of the Spark UDF;
``EXTRACTORS`` maps each extraction mode to its kernel.
"""

from __future__ import annotations

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
        "provider", "error", "width", "height",
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

    @property
    def extracted_text(self) -> str:
        return order.assemble_text(self.texts)


def _empty(provider: str, error: str | None = None) -> ExtractResult:
    return ExtractResult(bc.empty_boxes(), [], [], 0, 0.0, provider, error)


def extract_html(payload: bytes, lang: str) -> ExtractResult:
    """HTML branch: text-density boilerplate strip -> synthesized layout ->
    normalize -> order -> assemble."""
    main_text = extract_main_text(payload)
    words = main_text.split(" ") if main_text else []
    words = bidi_fix_words(words, lang)
    if not words:
        return _empty("html")
    rtl = lang in RTL_LANGUAGES
    coords_px, width, height = layout.layout_words(words, rtl=rtl)
    coords = bc.to_normalized(coords_px, width, height)
    confidences = [HTML_CONFIDENCE] * len(words)
    coords, words, confidences = clean.split_date_boxes(coords, words, confidences)
    ordered, tilt, _, _ = order.order_boxes(coords, words, width, height)
    return ExtractResult(
        coords[ordered],
        [words[i] for i in ordered],
        [confidences[i] for i in ordered],
        0,
        tilt,
        "html",
        width=width,
        height=height,
    )


def extract_pdf(payload: bytes, lang: str) -> ExtractResult:
    """PDF branch: parse layout quads -> canonicalize -> rotation detect &
    correct (reference ocr_wrapper.py:146-151) -> date split -> order.

    Multi-page documents (the reference's pdf2image yields one image per
    page) are ordered page by page; rotation is detected once across all
    pages (a scanned document rotates as a whole)."""
    return _extract_layout(pdf_extract.parse_pdf_payload(payload), lang, "pdf")


def extract_json(payload: bytes, lang: str) -> ExtractResult:
    """JSON-layout branch: third provider dialect (registry breadth —
    reference autoselect.py:17-27 registers five providers, each with its
    own response converter, e.g. aws.py:54-56). The converter lives in
    kernels/json_extract.py; normalize/rotate/date-split/order are shared
    verbatim with the PDF branch."""
    return _extract_layout(json_extract.parse_json_payload(payload), lang, "json")


def extract_textract(payload: bytes, lang: str) -> ExtractResult:
    """Textract Blocks-JSON branch: fifth provider dialect (reference
    AwsOCR converter, aws.py:51-60 — BlockType=="WORD" filter F3 on its
    native shape, Polygon->quad flatten). Converter in
    kernels/textract_extract.py; normalize / rotate / date-split / order
    shared verbatim with the PDF/JSON/hOCR branches."""
    return _extract_layout(
        textract_extract.parse_textract_payload(payload), lang, "textract"
    )


def extract_hocr(payload: bytes, lang: str) -> ExtractResult:
    """hOCR branch: fourth provider dialect (public tesseract-style
    XHTML microformat; converter in kernels/hocr_extract.py). Integer
    pixel word boxes, x_wconf percent confidences; normalize / rotate /
    date-split / order shared verbatim with the PDF/JSON branches."""
    return _extract_layout(hocr_extract.parse_hocr_payload(payload), lang, "hocr")


def _extract_layout(parsed, lang: str, provider: str) -> ExtractResult:
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

    out_coords: list[np.ndarray] = []
    out_words: list[str] = []
    out_conf: list[float] = []
    tilt = 0.0
    for p_idx, page in enumerate(np.unique(page_ids)):
        sel = np.nonzero(page_ids == page)[0]
        p_coords = coords[sel]
        p_words = [words[i] for i in sel]
        p_conf = [confidences[i] for i in sel]
        p_coords, p_words, p_conf = clean.split_date_boxes(p_coords, p_words, p_conf)
        ordered, p_tilt, _, _ = order.order_boxes(p_coords, p_words, width, height)
        if p_idx == 0:
            tilt = p_tilt
        out_coords.append(p_coords[ordered])
        out_words.extend(p_words[i] for i in ordered)
        out_conf.extend(p_conf[i] for i in ordered)

    all_coords = np.vstack(out_coords) if out_coords else bc.empty_boxes()
    return ExtractResult(
        all_coords,
        out_words,
        out_conf,
        rotation,
        tilt,
        provider,
        width=width,
        height=height,
    )


def extract_dual(payload: bytes | None, lang: str | None, provider_text: str | None) -> ExtractResult:
    """Dual-provider extraction (GoogleAzureOCR analogue, SURVEY.md §3.2).

    Primary = the regular branch extractor (rotation authority, like
    Google in the reference); secondary = spans synthesized from the
    pre-existing provider ``text`` column (enrichment source, like Azure).
    The combine applies F1/F2 to the primary, J2 anti-join + J4 ordered
    merge for the secondary, constant confidence 0.9
    (google_azure_ocr.py:145-208)."""
    from . import combine as cmb

    lang = lang or ""
    if payload is None:
        return _empty("none", "null payload")
    try:
        primary = extract_document(payload, lang)
        if primary.error is not None:
            return primary

        words = (provider_text or "").split(" ") if provider_text else []
        words = bidi_fix_words(words, lang)
        rtl = lang in RTL_LANGUAGES
        coords_px, w2, h2 = layout.layout_words(words, rtl=rtl)
        coords_s = bc.to_normalized(coords_px, w2, h2) if words else bc.empty_boxes()

        width = primary.width or w2
        height = primary.height or h2
        # the secondary is synthesized upright, so no rotation correction
        # is needed (the reference rotates Azure boxes because Azure saw
        # the still-rotated image)
        merged, texts, confidences = cmb.combine_primary_secondary(
            primary.coords, primary.texts, coords_s, words, 0, width, height
        )
        return ExtractResult(
            merged,
            texts,
            confidences,
            primary.rotation,
            primary.tilt_angle,
            "dual",
            width=width,
            height=height,
        )
    except Exception as exc:
        return _empty("error", f"{type(exc).__name__}: {exc}")


def extract_consensus(payload: bytes | None, lang: str | None, n_samples: int = 2) -> ExtractResult:
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
    s1 = extract_document(payload, lang)
    if s1.error is not None:
        return s1
    samples = [(s1.coords, s1.texts, s1.confidences)]
    for _ in range(n_samples - 1):
        s = extract_document(payload, lang)
        samples.append((s.coords, s.texts, s.confidences))
    coords, texts, conf = cmb.aggregate_samples_n(samples)
    return ExtractResult(
        coords, texts, conf, s1.rotation, s1.tilt_angle, "consensus",
        width=s1.width, height=s1.height,
    )


def extract_document(payload: bytes | None, lang: str | None) -> ExtractResult:
    """Dispatch on sniffed document type (SURVEY.md §2.10 D1): ``%PDF``
    magic bytes -> PDF branch, else HTML. Errors are captured per-document
    into the error field instead of failing the task (D2)."""
    lang = lang or ""
    if payload is None:
        return _empty("none", "null payload")
    try:
        if pdf_extract.is_pdf(payload):
            return extract_pdf(payload, lang)
        if json_extract.is_json_layout(payload):
            return extract_json(payload, lang)
        if textract_extract.is_textract(payload):
            return extract_textract(payload, lang)
        if hocr_extract.is_hocr(payload):
            return extract_hocr(payload, lang)
        return extract_html(payload, lang)
    except Exception as exc:  # error row, not task failure (SURVEY.md §2.10 D2)
        return _empty("error", f"{type(exc).__name__}: {exc}")


def extract_with_aux(payload: bytes | None, lang: str | None) -> ExtractResult:
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

    base = extract_document(payload, lang)
    if base.error is not None or base.provider != "html":
        return base
    try:
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
        return ExtractResult(
            merged,
            texts,
            confidences,
            base.rotation,
            base.tilt_angle,
            "html+aux",
            width=width,
            height=height,
        )
    except Exception as exc:
        return _empty("error", f"{type(exc).__name__}: {exc}")


def _single(payload, lang, text):
    return extract_document(payload, lang)


def _consensus2(payload, lang, text):
    return extract_consensus(payload, lang, 2)


def _consensus3(payload, lang, text):
    return extract_consensus(payload, lang, 3)


def _aux(payload, lang, text):
    return extract_with_aux(payload, lang)


# extraction mode -> kernel; every kernel takes (payload, lang, provider
# text), and only ``dual`` reads the provider text
EXTRACTORS = {
    "single": _single,
    "dual": extract_dual,
    "consensus": _consensus2,
    "consensus3": _consensus3,
    "aux": _aux,
}
