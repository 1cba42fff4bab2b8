"""Deterministic Common-Crawl-style page synthesis.

Turns the driver's ``documents`` table (doc_id, text, lang, source,
n_chars) into the input_hint page shape
``(url, warc_ts, html binary, text, lang)`` — seeded, reproducible,
no external data (FIXTURES.md §1).

* hosts are drawn from a Zipfian distribution so the skew/salting path is
  exercised (SURVEY.md §2.11);
* ~20% of documents carry a ``%PDF``-prefixed synthetic layout payload
  (kernels/pdf_extract.py format); a deterministic subset of those are
  rotated (90/180/270) or tilted (on the reading-order kernel's scan grid)
  to exercise the rotation / tilt paths;
* another ~20% carry a JSON-layout payload (kernels/json_extract.py
  dialect) — the third provider branch;
* the remaining documents are wrapped in templated HTML with known
  boilerplate (link-dense nav/footer, short ads) around the main content,
  plus a ``doc_id``-determined number of ``<input type=checkbox>``
  elements (void, no text) feeding the checkbox-detector path —
  so the expected extracted text is the document text, byte for byte.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels import layout, order
from ..operators.sampling import MOD, knuth_hash
from ..schema import PAGES_SCHEMA

# Bump whenever build_page_rows or any payload builder changes shape or
# bytes: /tmp materializations key their cache paths on it (through
# materialized_path), so generator edits can never silently reuse stale
# files.
PAGES_FORMAT_VERSION = 5  # v2: +textract; v3: json doc uri; v4: pdf %D id; v5: outlink anchors

N_HOSTS = 40
ZIPF_S = 1.1
PDF_MOD = 5  # doc_id % 5 == 3 -> PDF payload
JSON_REM = 1  # doc_id % 5 == 1 -> JSON-layout payload (third dialect)
HOCR_REM = 4  # doc_id % 5 == 4 -> hOCR payload (fourth dialect)
TEXTRACT_MOD, TEXTRACT_REM = 10, 7  # doc_id % 10 == 7 -> Textract Blocks JSON
# (fifth dialect; 7 mod 10 is a subset of the html class doc_id % 5 == 2
# and odd, so it never intersects the QR carriers doc_id % 4 == 2)
HOCR_WCONF = 96  # hOCR x_wconf percent -> confidence 0.96
PDF_CONFIDENCE = 0.95
JSON_CONFIDENCE = 0.97
TEXTRACT_CONFIDENCE = 0.93  # serialized as aws percent: Confidence 93.0
CHECKBOX_MOD = 6  # html pages carry doc_id % 6 checkbox inputs,
CHECKED_MOD = 3  # checkbox i is checked iff (doc_id + i) % 3 == 0
QR_MOD, QR_REM = 4, 2  # html pages with doc_id % 4 == 2 carry one QR code
EPOCH = np.datetime64("2024-01-01T00:00:00", "us")

# url anatomy: https://hostNN.example.com/{lang}/{doc_id:010d}.{ext} —
# the id field is zero-padded to 10 digits but WIDENS past 1e10, so any
# parse must accept 10+ digits (a bare {10} silently drops every page
# once ids cross 10^10, e.g. replicated corpora or the brief's 10^12
# rows). Shared by every url->doc_id parse in the query layer.
DOC_ID_URL_RE = r"/(\d{10,})\."
# the html dialect slice: doc_id % 5 in (0, 2) minus the Textract
# carve-out — the only payloads that carry <a> anchors. Keep the SQL
# and Spark forms in lockstep (both used by query/oracle pairs).
HTML_SLICE_SQL = "(doc_id % 5 = 0 OR doc_id % 5 = 2) AND doc_id % 10 <> 7"


def doc_id_from_url():
    """Spark column: doc_id parsed back out of the page url."""
    return F.regexp_extract(F.col("url"), DOC_ID_URL_RE, 1).cast("bigint")


def html_slice_filter(doc_id_col):
    """Spark predicate mirroring HTML_SLICE_SQL."""
    return ((doc_id_col % 5 == 0) | (doc_id_col % 5 == 2)) & (doc_id_col % 10 != 7)

_zipf_cdf: np.ndarray | None = None


def _host_cdf() -> np.ndarray:
    global _zipf_cdf
    if _zipf_cdf is None:
        w = 1.0 / np.arange(1, N_HOSTS + 1, dtype=np.float64) ** ZIPF_S
        _zipf_cdf = np.cumsum(w / w.sum())
    return _zipf_cdf


def host_for_doc(doc_id: np.ndarray) -> np.ndarray:
    """Deterministic Zipfian host index per doc (Knuth multiplicative hash)."""
    u = ((doc_id.astype(np.uint64) * np.uint64(2654435761)) % np.uint64(2**32)).astype(
        np.float64
    ) / 2.0**32
    return np.searchsorted(_host_cdf(), u)


def _host_cdf_sql() -> str:
    """The host CDF as a DuckDB list literal. Oracles write the `{cdf}`
    placeholder; __spark_entry__.oracle_sql() substitutes this once."""
    lits = ", ".join(f"{v!r}" for v in _host_cdf().tolist())
    return f"[{lits}]"


def _cdf_table(cdf: np.ndarray) -> tuple[int, list[int]]:
    """The host CDF as a constant-size lookup on the integer Knuth key k.

    ``c < k / 2^32`` holds exactly when ``floor(c * 2^32) < k`` (k is an
    integer and the scale is a power of two), so the host index is the
    count of integer thresholds ``t = floor(c * 2^32)`` below k. The key
    range splits into ``2^(32 - shift)`` cells by k's top bits, as few as
    leave at most one threshold per cell. For a key in cell j,
    ``(k + table[j]) >> 32`` is that count: ``table[j] = (b + 1) * 2^32 -
    1 - t``, with b the thresholds below the cell and t the cell's own
    threshold (2^32 - 1, which no key exceeds, when it has none), carries
    into bit 32 exactly when k > t. Returns ``(shift, table)``."""
    t = np.floor(np.asarray(cdf, dtype=np.float64) * float(MOD))
    vals = np.sort(t[(t >= 0) & (t < MOD - 1)]).astype(np.int64)
    if np.any(np.diff(vals) == 0):
        raise ValueError("host CDF has a host with an empty key range")
    shift = 32
    while np.any(np.diff(vals >> shift) == 0):
        shift -= 1
    n_cells = 1 << (32 - shift)
    thr = np.full(n_cells, MOD - 1, dtype=np.int64)
    thr[vals >> shift] = vals
    below = np.count_nonzero(t < 0) + np.searchsorted(vals, np.arange(n_cells, dtype=np.int64) << shift)
    return shift, ((below + 1) * MOD - 1 - thr).tolist()


def _host_idx_col(key=None):
    """Spark mirror of host_for_doc: the Zipf host index of the Knuth hash
    of ``key`` (default the ``doc_id`` column), i.e. the count of CDF
    thresholds strictly below ``knuth_u(key)``, read from ``_cdf_table``
    with one array lookup. The hash appears twice in the expression
    however many hosts the CDF has, so every stage that carries it stays
    small enough for whole-stage codegen."""
    k = knuth_hash(F.col("doc_id") if key is None else key)  # overflow-safe at full int64 id range
    shift, table = _cdf_table(_host_cdf())
    lookup = F.element_at(F.array(*map(F.lit, table)), F.shiftright(k, shift).cast("int") + 1)
    return F.shiftright(k + lookup, 32).cast("int")


def _host_name(idx_col=None):
    """`hostNN.example.com` for a host index column (default ``host_idx``)."""
    return F.concat(
        F.lit("host"),
        F.lpad((F.col("host_idx") if idx_col is None else idx_col).cast("string"), 2, "0"),
        F.lit(".example.com"),
    )


_BOILER_NAV = ["home", "products", "pricing", "about", "careers", "contact", "blog", "login"]
_BOILER_ADS = ["buy now click here", "sale ends soon", "subscribe today", "hot deals"]
_BOILER_FOOT = ["privacy", "terms", "imprint", "sitemap", "help", "status"]


_BOILER_VOCAB = _BOILER_NAV + _BOILER_FOOT + [
    "widget", "gadget", "shipping", "returns", "newsletter", "cookie",
    "policy", "support", "download", "partners", "press", "investors",
]


N_OUTLINKS = 4  # cross-host outlink anchors per html page


def _outlink_host(doc_id: int, k: int) -> int:
    """Zipf partner-host index for outlink slot ``k`` of an html page:
    the same Knuth-hash-to-cdf mapping as host_for_doc, keyed on
    (doc_id mod 2^32)*31 + k*7 + 13 (mirrored in SQL by
    graph_queries._LINK_KEY_SQL)."""
    key = ((doc_id % 2**32) * 31 + k * 7 + 13) % 2**32
    u = ((key * 2654435761) % 2**32) / 2**32
    return int(np.searchsorted(_host_cdf(), u))


def _pad_words(doc_id: int, salt: int, n_bytes: int) -> str:
    """Deterministic boilerplate-vocabulary filler of ~``n_bytes`` bytes.

    Used by the fat-page profile (BENCH/BASELINE.md §1d) to inflate
    payloads to realistic Common-Crawl sizes. Varied per (doc_id, salt)
    so fat pages compress like repetitive-but-not-constant chrome, not
    like a single run-length blob."""
    if n_bytes <= 0:
        return ""
    state = (doc_id * 2654435761 + salt * 40503 + 12345) % (2**31)
    out: list[str] = []
    total = 0
    while total < n_bytes:
        state = (state * 1103515245 + 12345) % (2**31)
        w = _BOILER_VOCAB[state % len(_BOILER_VOCAB)]
        out.append(w)
        total += len(w) + 1
    return " ".join(out)


def _paragraphs(words: list[str]) -> list[list[str]]:
    """Chunk words into 40-word paragraphs; merge a tail under 15 words
    into the previous chunk so every paragraph clears the extractor's
    MIN_BLOCK_CHARS."""
    chunks = [words[i : i + 40] for i in range(0, len(words), 40)]
    if len(chunks) > 1 and len(chunks[-1]) < 15:
        chunks[-2].extend(chunks[-1])
        chunks.pop()
    return chunks


def build_html(doc_id: int, text: str, lang: str, fat_pad: int = 0) -> bytes:
    """Boilerplate-wrapped page; main content == ``text`` byte-for-byte
    after the extractor's token join.

    ``fat_pad`` > 0 adds ~that many bytes of extra link-dense boilerplate
    (nav-style link walls: link_density 1.0, so the text-density strip
    drops every block) — the fat-page profile's realistic-size knob."""
    rng = (doc_id * 6364136223846793005 + 1442695040888963407) % (2**63)
    nav_n = 3 + rng % 5
    nav = "".join(
        f'<li><a href="/{w}">{w}</a></li>' for w in (_BOILER_NAV * 2)[: int(nav_n)]
    )
    # cross-host outlinks (the hyperlink-graph carrier): N_OUTLINKS
    # absolute anchors to Zipf-drawn partner hosts, deterministic in
    # (doc_id, k) via the same Knuth hash that assigns the page its own
    # host — graph_queries.crawl_link_graph parses these back out of the
    # payload bytes and its DuckDB oracle recomputes them closed-form.
    # They live in the nav wall (link_density 1.0), so the extractor's
    # boilerplate strip drops them and extracted text is unchanged.
    nav += "".join(
        f'<li><a href="https://host{_outlink_host(doc_id, k):02d}.example.com/">site</a></li>'
        for k in range(N_OUTLINKS)
    )
    ad = _BOILER_ADS[rng % len(_BOILER_ADS)]
    foot = " ".join(f'<a href="/{w}">{w}</a>' for w in _BOILER_FOOT[: 3 + rng % 3])
    paras = "".join(f"<p>{' '.join(p)}</p>" for p in _paragraphs(text.split(" "))) if text else ""
    # checkbox inputs are void elements (no text content), so the survey
    # form never changes the extracted main text; counts are closed-form
    # in doc_id so the DuckDB oracle recomputes them
    boxes = "".join(
        f'<input type="checkbox"{" checked" if (doc_id + i) % CHECKED_MOD == 0 else ""}/>'
        for i in range(doc_id % CHECKBOX_MOD)
    )
    form = f'<form class="survey">{boxes}</form>' if boxes else ""
    # QR/barcode carrier (void element, no text): doc_id % 4 == 2 pages
    # embed one code the aux detector decodes into a TYPE[[DATA]] span
    qr = (
        f'<img class="qr" data-code="QRCODE[[DOC{doc_id}]]" src="/qr/{doc_id}.png"/>'
        if doc_id % QR_MOD == QR_REM
        else ""
    )
    pad = ""
    if fat_pad > 0:
        # each pad word wrapped in <a>: link_density 1.0 per block, so the
        # extractor's MAX_LINK_DENSITY cut drops it no matter how long
        links = "".join(
            f'<li><a href="/p/{w}">{w}</a></li>'
            # markup ~5.4 bytes per budget byte ((2L+26)/(L+1) at L~6)
            for w in _pad_words(doc_id, 1, max(0, fat_pad - 40) * 2 // 11).split(" ")
        )
        pad = f'<nav class="mega"><ul>{links}</ul></nav>'
    html = (
        f'<!DOCTYPE html><html lang="{lang}"><head><title>Doc {doc_id}</title>'
        f"<style>body{{margin:0}}</style>"
        f'<script>var page={doc_id};</script></head><body>'
        f"<nav><ul>{nav}</ul></nav>"
        f"<header><h1>Doc {doc_id}</h1></header>"
        f'<aside class="ad">{ad}</aside>'
        f'<main><div class="content">{paras}</div></main>'
        f"{form}{qr}{pad}"
        f"<footer>{foot}</footer>"
        f"</body></html>"
    )
    return html.encode("utf-8")


def build_json(doc_id: int, text: str, lang: str, fat_pad: int = 0) -> bytes:
    """JSON-layout payload (kernels/json_extract.py dialect): the same
    deterministic word layout as the HTML branch, serialized as a
    documentai-style span document. Upright (rotation/tilt stay 0).

    ``fat_pad`` > 0 adds ~that many bytes in a top-level ``pad`` key the
    parser never reads (parse_json_payload only walks ``layout``) —
    stands in for the raw-response envelope real providers echo back."""
    import json

    words = text.split(" ") if text else []
    rtl = lang in {"ar", "he", "fa", "ur"}
    coords_px, width, height = layout.layout_words(words, rtl=rtl)
    scale = np.array([width, height] * 4, dtype=np.float64)
    quads = coords_px / scale if words else coords_px
    spans = [
        {"t": w, "c": JSON_CONFIDENCE, "q": [float(v) for v in quads[i]]}
        for i, w in enumerate(words)
    ]
    doc = {
        "layout": {
            "width": width,
            "height": height,
            "lang": lang,
            # document uri, like real documentai responses carry: keeps
            # payload bytes unique per doc even when texts collide, so
            # content-hash dedup semantics ("this exact response") hold
            # at any replication factor
            "uri": f"doc://{doc_id}",
            "pages": [{"id": 0, "spans": spans}],
        }
    }
    if fat_pad > 0:
        doc["pad"] = _pad_words(doc_id, 2, fat_pad)
    return json.dumps(doc, separators=(",", ":")).encode("utf-8")


def build_hocr(doc_id: int, text: str, lang: str, fat_pad: int = 0) -> bytes:
    """hOCR payload (kernels/hocr_extract.py dialect, fourth provider
    branch): the same deterministic word layout serialized as the public
    tesseract-style XHTML microformat. Word boxes are integer pixel
    bboxes (floor/ceil of the float layout), as real hOCR emits.

    ``fat_pad`` > 0 adds ~that many bytes of XML comment inside the body
    (the word regex never matches comments) — stands in for the layout
    debug chatter real tesseract output carries."""
    words = text.split(" ") if text else []
    rtl = lang in {"ar", "he", "fa", "ur"}
    coords_px, width, height = layout.layout_words(words, rtl=rtl)
    xs = coords_px[:, 0::2]
    ys = coords_px[:, 1::2]
    x0 = np.floor(xs.min(axis=1)).astype(np.int64) if words else np.zeros(0, np.int64)
    x1 = np.ceil(xs.max(axis=1)).astype(np.int64) if words else np.zeros(0, np.int64)
    y0 = np.floor(ys.min(axis=1)).astype(np.int64) if words else np.zeros(0, np.int64)
    y1 = np.ceil(ys.max(axis=1)).astype(np.int64) if words else np.zeros(0, np.int64)
    spans = "".join(
        f"<span class='ocrx_word' id='word_1_{i + 1}' "
        f"title='bbox {x0[i]} {y0[i]} {x1[i]} {y1[i]}; "
        f"x_wconf {HOCR_WCONF}'>{w}</span>\n   "
        for i, w in enumerate(words)
    )
    doc = (
        "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
        "<!DOCTYPE html PUBLIC \"-//W3C//DTD XHTML 1.0 Transitional//EN\" "
        "\"http://www.w3.org/TR/xhtml1/DTD/xhtml1-transitional.dtd\">\n"
        f"<html xmlns=\"http://www.w3.org/1999/xhtml\" lang=\"{lang}\">\n"
        " <head><title></title>\n"
        "  <meta name='ocr-system' content='graft-hocr 1.0'/>\n"
        "  <meta name='ocr-capabilities' content='ocr_page ocrx_word'/>\n"
        " </head>\n <body>\n"
        f"  <div class='ocr_page' id='page_1' "
        f"title='image \"doc_{doc_id}.png\"; bbox 0 0 {width} {height}; ppageno 0'>\n"
        f"   {spans}</div>\n"
        + (f"  <!-- {_pad_words(doc_id, 3, fat_pad)} -->\n" if fat_pad > 0 else "")
        + " </body>\n</html>\n"
    )
    return doc.encode("utf-8")


def build_textract(doc_id: int, text: str, lang: str, fat_pad: int = 0) -> bytes:
    """Textract-style Blocks JSON payload (kernels/textract_extract.py
    dialect, fifth provider branch — reference AwsOCR, aws.py:51-60):
    PAGE + LINE + WORD blocks with ``Geometry.Polygon`` vertices and
    percent confidences; the converter must drop the PAGE/LINE blocks
    (F3 on its native shape) and keep the WORD quads. Upright
    (rotation/tilt stay 0). ImageSize/Lang are the crawler envelope —
    a raw Textract response carries neither (the reference holds the
    PIL image instead, aws.py:40)."""
    import json

    words = text.split(" ") if text else []
    rtl = lang in {"ar", "he", "fa", "ur"}
    coords_px, width, height = layout.layout_words(words, rtl=rtl)
    scale = np.array([width, height] * 4, dtype=np.float64)
    quads = coords_px / scale if words else coords_px

    def poly(q) -> list[dict[str, float]]:
        return [{"X": float(q[i]), "Y": float(q[i + 1])} for i in range(0, 8, 2)]

    blocks: list[dict] = [
        {
            "BlockType": "PAGE",
            "Id": f"{doc_id:08x}-page-0001",
            "Page": 1,
            "Geometry": {
                "BoundingBox": {"Width": 1.0, "Height": 1.0, "Left": 0.0, "Top": 0.0},
                "Polygon": [
                    {"X": 0.0, "Y": 0.0}, {"X": 1.0, "Y": 0.0},
                    {"X": 1.0, "Y": 1.0}, {"X": 0.0, "Y": 1.0},
                ],
            },
        }
    ]
    for ln in range(0, len(words), 10):  # LINE blocks: dropped by F3
        blocks.append(
            {
                "BlockType": "LINE",
                "Id": f"{doc_id:08x}-line-{ln // 10:04d}",
                "Page": 1,
                "Text": " ".join(words[ln : ln + 10]),
                "Confidence": TEXTRACT_CONFIDENCE * 100,
            }
        )
    for i, w in enumerate(words):
        blocks.append(
            {
                "BlockType": "WORD",
                "Id": f"{doc_id:08x}-word-{i:04d}",
                "Page": 1,
                "Text": w,
                "Confidence": TEXTRACT_CONFIDENCE * 100,
                "Geometry": {"Polygon": poly(quads[i])},
            }
        )
    if fat_pad > 0:
        # fat-page knob: extra LINE blocks (~90 bytes of envelope each) —
        # dropped by the converter's WORD-only cut (F3), like the real
        # service's LINE duplication of every WORD
        filled = 0
        i = 0
        while filled < fat_pad:
            t = _pad_words(doc_id, 4 + i, 160)
            blocks.append(
                {
                    "BlockType": "LINE",
                    "Id": f"{doc_id:08x}-pad-{i:04d}",
                    "Page": 1,
                    "Text": t,
                    "Confidence": TEXTRACT_CONFIDENCE * 100,
                }
            )
            filled += len(t) + 90
            i += 1
    doc = {
        "DocumentMetadata": {"Pages": 1},
        "ImageSize": {"Width": width, "Height": height},
        "Lang": lang,
        "Blocks": blocks,
    }
    return json.dumps(doc, separators=(",", ":")).encode("utf-8")


def build_pdf(doc_id: int, text: str, lang: str, fat_pad: int = 0) -> bytes:
    """Synthetic PDF-like payload (kernels/pdf_extract.py format) with a
    deterministic rotation or on-grid tilt variant.

    ``fat_pad`` > 0 appends ~that many bytes of ``%`` comment lines the
    parser skips (parse_pdf_payload only acts on %W/%L/P/S prefixes) —
    stands in for the embedded-font/xref bulk of real PDFs."""
    words = text.split(" ") if text else []
    variant = (doc_id // PDF_MOD) % 2
    rotation = 0
    tilt_fraction = 0.0
    if variant == 0 and words:
        rotation = [0, 90, 180, 270][(doc_id // PDF_MOD) % 4]
    elif words:
        # pick a fraction from the order kernel's scan grid (exact recovery)
        grid = np.linspace(-order.MAX_TILT_FRACTION, order.MAX_TILT_FRACTION, order.NB_TILT)
        tilt_fraction = float(grid[8 + (doc_id // PDF_MOD) % 5])  # ~±2.2 deg

    rtl = lang in {"ar", "he", "fa", "ur"}

    # multi-page variant: tilted docs with enough words span two pages
    # (reference: pdf2image yields one image per page)
    if tilt_fraction != 0.0 and len(words) > 40:
        pages_words = [words[: len(words) // 2], words[len(words) // 2 :]]
    else:
        pages_words = [words]

    page_quads = []
    width = height = 0
    for pw in pages_words:
        coords_px, width, height = layout.layout_words(pw, rtl=rtl, tilt_fraction=tilt_fraction)
        scale = np.array([width, height] * 4, dtype=np.float64)
        page_quads.append(coords_px / scale if len(pw) else coords_px)

    page_w, page_h = width, height
    if rotation:
        # synthesize the scanned-rotated document: inverse of the
        # extractor's rotate(rotation) CCW correction
        page_quads = [layout.rotate_raw_quads(q, (4 - rotation // 90) % 4) for q in page_quads]
        if rotation in (90, 270):
            page_w, page_h = height, width

    lines = [
        "%PDF-GRAFT1.0",
        f"%D {doc_id}",  # document id, like the PDF trailer /ID — keeps
        # payload bytes unique per doc (empty or duplicate texts would
        # otherwise produce byte-identical scans and content-hash dedup
        # would correctly fold them, breaking per-doc oracles at 10x)
        f"%W {page_w} {page_h}",
        f"%L {lang}",
        f"%R {rotation}",
    ]
    for p_idx, (pw, raw) in enumerate(zip(pages_words, page_quads)):
        if len(pages_words) > 1:
            lines.append(f"P {p_idx}")
        for i, w in enumerate(pw):
            c = " ".join(f"{v:.8f}" for v in raw[i])
            lines.append(f"S {c} {PDF_CONFIDENCE} {w}")
    if fat_pad > 0:
        filled = 0
        i = 0
        while filled < fat_pad:
            t = _pad_words(doc_id, 16 + i, 200)
            lines.append(f"% {t}")
            filled += len(t) + 3
            i += 1
    return "\n".join(lines).encode("utf-8")


def build_page_rows(pdf: pd.DataFrame, fat_pad: int = 0) -> pd.DataFrame:
    """pandas batch -> pages batch (vectorized where it matters)."""
    doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    hosts = host_for_doc(doc_ids)
    langs = pdf["lang"].fillna("").tolist()
    texts = pdf["text"].fillna("").tolist()

    is_pdf = (doc_ids % PDF_MOD) == 3
    is_json = (doc_ids % PDF_MOD) == JSON_REM
    is_hocr = (doc_ids % PDF_MOD) == HOCR_REM
    is_tex = (doc_ids % TEXTRACT_MOD) == TEXTRACT_REM
    exts = np.where(
        is_pdf,
        "pdf",
        np.where(
            is_json,
            "json",
            np.where(is_hocr, "hocr", np.where(is_tex, "textract", "html")),
        ),
    )
    urls = [
        f"https://host{int(h):02d}.example.com/{lang}/{did:010d}.{ext}"
        for h, lang, did, ext in zip(hosts, langs, doc_ids, exts)
    ]
    ts = EPOCH + (doc_ids % 365).astype("timedelta64[D]").astype("timedelta64[us]") + (
        (doc_ids * 7919) % 86400
    ).astype("timedelta64[s]").astype("timedelta64[us]")

    builders = {
        "pdf": build_pdf,
        "json": build_json,
        "hocr": build_hocr,
        "textract": build_textract,
        "html": build_html,
    }
    payloads = [
        builders[ext](int(did), text, lang, fat_pad)
        for did, text, lang, ext in zip(doc_ids, texts, langs, exts)
    ]
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.Series(ts),
            "html": payloads,
            "text": texts,
            "lang": langs,
        }
    )


def synthesize_pages(
    spark: SparkSession,
    sf_dir: str,
    replicate: int = 1,
    partitions: int | None = None,
    fat_pad: int = 0,
) -> DataFrame:
    """documents.parquet -> pages DataFrame (distributed, Arrow-batched).

    ``replicate`` deterministically multiplies the corpus (doc_id' =
    doc_id*replicate + rep) for benchmarking at larger-than-sf scales.
    ``partitions`` pre-repartitions *before* synthesis — the documents
    parquet is a single small file, so without this the synthesis UDF
    would run in one task. Defaults to 2x the cluster's default
    parallelism (repartitioning the small documents rows is cheap; it is
    the *pages* rows that must never be reshuffled).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism * 2
    if replicate > 1:
        docs = (
            docs.withColumn("_rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))))
            .withColumn("doc_id", F.col("doc_id") * replicate + F.col("_rep"))
            .drop("_rep")
        )
    if partitions:
        docs = docs.repartition(partitions, "doc_id")

    def gen(batches):
        for pdf in batches:
            yield build_page_rows(pdf, fat_pad)

    return docs.mapInPandas(gen, schema=PAGES_SCHEMA)


def materialized_path(base_dir: str, sf_dir: str, tag: str = "") -> str:
    """Path under ``base_dir`` of a materialization derived from
    ``sf_dir``. Keyed on PAGES_FORMAT_VERSION, the resolved sf path and
    documents.parquet's size and mtime, so a different or rebuilt corpus
    under the same directory name never reuses stale files; ``tag`` names
    the variant (replication, partitioning, ...)."""
    import hashlib
    import os

    src = os.path.realpath(sf_dir)
    st = os.stat(os.path.join(src, "documents.parquet"))
    key = hashlib.md5(f"{src}:{st.st_size}:{st.st_mtime_ns}".encode()).hexdigest()[:12]
    path = f"{base_dir}/v{PAGES_FORMAT_VERSION}_{os.path.basename(src)}_{key}"
    return f"{path}_{tag}" if tag else path


def materialize_pages(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str = "/tmp/spark_graft_pages",
    replicate: int = 1,
    partitions: int | None = None,
    fat_pad: int = 0,
) -> str:
    """Write (once) and return the path of a materialized pages table —
    the benchmarking input shape (the north_rule input is a table, not an
    in-flight generator)."""
    import os

    n_parts = partitions or 64
    fat_tag = f"_f{fat_pad}" if fat_pad else ""
    path = materialized_path(base_dir, sf_dir, f"r{replicate}_p{n_parts}{fat_tag}")
    if not os.path.exists(path + "/_SUCCESS"):
        synthesize_pages(
            spark, sf_dir, replicate=replicate, partitions=n_parts, fat_pad=fat_pad
        ).write.mode("overwrite").parquet(path)
    return path
