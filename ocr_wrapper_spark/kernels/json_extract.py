"""JSON-layout payload dialect — the third provider branch.

Mirrors the breadth of the reference's provider registry
(autoselect.py:17-27 registers google/azure/aws/easy/paddle; each
converter turns a provider-specific response shape into the common
BBox+text+confidence list, e.g. aws.py:54-56, easy_ocr.py,
paddleocr.py). Here the third response dialect is a documentai-style
JSON layout document:

    {"layout": {"width": W, "height": H, "lang": "..",
                "pages": [{"id": 0,
                           "spans": [{"t": word, "c": conf,
                                      "q": [x0,y0,...x3,y3]}, ...]}]}}

The converter returns the exact tuple shape of
``pdf_extract.parse_pdf_payload`` so the downstream normalize -> rotate
-> date-split -> order pipeline is shared verbatim between dialects.

Both JSON dialects (this one and Textract) decode with orjson, about 4x
faster than the stdlib ``json`` module, through ``decode_with``, which
falls back to ``json.loads`` wherever the two could differ, so every
payload parses, or fails, as under the stdlib decoder alone.
"""

from __future__ import annotations

import json
import re

import numpy as np
import orjson

JSON_MAGIC = b'{"layout"'


def is_json_layout(payload: bytes) -> bool:
    return payload[: len(JSON_MAGIC)] == JSON_MAGIC


# every byte but the container openers '[' and '{'
_NOT_OPENER = bytes(sorted(set(range(256)) - set(b"[{")))
# a payload may hold this many containers that its converter does not
# visit; past it the document goes to the stdlib decoder. Visited
# containers sit at most 7 deep, so the document nests at most 7 + this
# deep, far under MAX_NESTING, which orjson never enforces.
MAX_UNVISITED = 64
# Containers nested deeper than this fail the page with the RecursionError
# json.loads raises. The stdlib's own point of failure is the worker's
# current recursion limit less its stack depth, so a fixed bound keeps the
# verdict a function of the payload: half CPython's default limit (1000)
# leaves the decoder room under that limit at any stack depth a worker
# reaches.
MAX_NESTING = 500
_NESTING_ERROR = {
    ord(c): f"maximum recursion depth exceeded while decoding a JSON {kind} from a unicode string"
    for c, kind in (("[", "array"), ("{", "object"))
}
_JSON_STRING = re.compile(r'"(?:[^"\\]|\\.)*"', re.DOTALL)
# orjson decodes an int past the int64/uint64 range as a float, correctly
# rounded, where json.loads keeps the exact int: the same number to a float
# conversion, a different one to int() once it reaches 2^63 in magnitude
_EXACT_LIMIT = 2**63


def exact_text(value) -> str:
    """``str(value)`` of a decoded word or language when it is a str;
    anything else may print differently from what the stdlib decoded (an
    int past 2^64 prints as a float), so it raises."""
    if type(value) is not str:
        raise TypeError("not a decoded str")
    return value


def decode_with(payload: bytes, convert):
    """``convert(document, text)`` over the payload decoded by orjson when
    that converts exactly as ``json.loads(payload.decode("utf-8",
    errors="replace"))`` does, else over the latter, which gives the
    result or raises the error of the stdlib decoder alone.

    ``convert`` returns (parsed tuple, number of containers it visited)
    and turns every text field with ``text``. orjson rejects what the
    stdlib accepts beyond the JSON grammar (NaN, Infinity, 1e400, invalid
    UTF-8, lone surrogates); the stdlib raises on nesting that orjson
    decodes at any depth, so a payload with more than MAX_UNVISITED
    opening brackets beyond the visited containers (brackets in strings
    count too) goes to the stdlib; and ints past 2^64 come back as floats,
    so a text field must be a str and the page size under 2^63. Page ids
    past 2^63 overflow int64 either way, and coordinates and confidences
    are floats either way. Nesting past MAX_NESTING raises the stdlib's
    RecursionError whatever the recursion limit."""
    try:
        parsed, visited = convert(orjson.loads(payload), exact_text)
        if (
            len(payload.translate(None, _NOT_OPENER)) - visited <= MAX_UNVISITED
            and abs(parsed[3]) < _EXACT_LIMIT
            and abs(parsed[4]) < _EXACT_LIMIT
        ):
            return parsed
    except Exception:  # whatever fails here, the stdlib pass below decides
        pass
    text = payload.decode("utf-8", errors="replace")
    _check_nesting(text)
    return convert(json.loads(text), str)[0]


def _check_nesting(text: str) -> None:
    """Raise json.loads' RecursionError, with its text, at the first
    container nested deeper than MAX_NESTING (brackets inside strings do
    not nest)."""
    brackets = np.frombuffer(_JSON_STRING.sub("", text).encode(), dtype=np.uint8)
    step = np.isin(brackets, (ord("["), ord("{"))).astype(np.int64)
    step -= np.isin(brackets, (ord("]"), ord("}")))
    deep = np.flatnonzero(np.cumsum(step) > MAX_NESTING)
    if deep.size:
        raise RecursionError(_NESTING_ERROR[brackets[deep[0]]])


def parse_json_payload(payload: bytes):
    """JSON layout document -> (raw_quads (n,8), texts, confidences,
    page_width, page_height, lang, page_ids). Spans missing a quad or
    text are dropped (the F3 non-WORD-block filter analogue for this
    dialect)."""
    return decode_with(payload, _convert)


def _convert(doc, text):
    layout = doc.get("layout") or {}
    width = int(layout.get("width") or 1224)
    height = int(layout.get("height") or 1584)
    lang = text(layout.get("lang") or "")
    quads: list[list[float]] = []
    words: list[str] = []
    confs: list[float] = []
    pages: list[int] = []
    page_list = layout.get("pages") or []
    # containers: the document, the layout, the pages list, each page, its
    # spans list and spans (a falsy one counts as absent), and the quads
    visited = 1 + bool(layout) + bool(page_list)
    for page in page_list:
        pid = int(page.get("id") or 0)
        spans = page.get("spans") or []
        visited += 1 + bool(spans) + len(spans)
        for span in spans:
            q = span.get("q")
            t = span.get("t")
            if q is None or t is None or len(q) != 8:
                continue
            quads.append(q)  # numeric conversion batched below (C loop)
            words.append(text(t))
            confs.append(float(span.get("c") or 0.0))
            pages.append(pid)
    coords = np.asarray(quads, dtype=np.float64).reshape(-1, 8)
    visited += coords.shape[0]  # fewer than the quads unless each is a list
    return (coords, words, confs, width, height, lang, np.asarray(pages, dtype=np.int64)), visited
