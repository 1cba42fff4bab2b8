"""The JSON-layout and Textract converters decode with orjson and fall back
to the stdlib decoder: on every edge input they return what the stdlib
decoder alone gives at CPython's default recursion limit, or raise its
error with its text — and nesting past json_extract.MAX_NESTING fails
whatever the limit."""

from __future__ import annotations

import contextlib
import json
import sys

import numpy as np
import pytest

from ocr_wrapper_spark.kernels import json_extract, textract_extract

_Q = "[0.1,0.1,0.2,0.1,0.2,0.2,0.1,0.2]"


def _layout(width="100", span=f'{{"t":"a","c":0.5,"q":{_Q}}}', extra="") -> bytes:
    return ('{"layout":{"width":%s,"height":200,"lang":"en","pages":[{"id":0,"spans":[%s]}]}%s}'
            % (width, span, extra)).encode()


def _textract(width="100", word='"Text":"a","Confidence":50', poly=None, extra="") -> bytes:
    poly = poly or '[{"X":0.1,"Y":0.1},{"X":0.2,"Y":0.1},{"X":0.2,"Y":0.2},{"X":0.1,"Y":0.2}]'
    return ('{"DocumentMetadata":{"Pages":1},"ImageSize":{"Width":%s,"Height":200},"Lang":"en",'
            '"Blocks":[{"BlockType":"WORD","Page":1,%s,"Geometry":{"Polygon":%s}}]%s}'
            % (width, word, poly, extra)).encode()


DEEP = ',"pad":' + "[" * 2000 + "]" * 2000
EDGES = {
    "nan_quad": (_layout(span='{"t":"a","q":[NaN,0.1,0.2,0.1,0.2,0.2,0.1,0.2]}'),
                 _textract(poly='[{"X":NaN,"Y":0.1},{"X":0.2,"Y":0.1},{"X":0.2,"Y":0.2},{"X":0.1,"Y":0.2}]')),
    "infinity_conf": (_layout(span=f'{{"t":"a","c":Infinity,"q":{_Q}}}'),
                      _textract(word='"Text":"a","Confidence":-Infinity')),
    "negative_zero": (_layout(width="-0", span='{"t":"a","c":-0,"q":[-0,0.1,0.2,0.1,0.2,0.2,-0.0,0.2]}'),
                      _textract(width="-0", word='"Text":"a","Confidence":-0')),
    "overflow_float": (_layout(span='{"t":"a","q":[1e400,0.1,0.2,0.1,0.2,0.2,0.1,0.2]}'),
                       _textract(word='"Text":"a","Confidence":1e400')),
    "width_2_64": (_layout(width=str(2**64)), _textract(width=str(2**64))),
    "width_10_30": (_layout(width=str(10**30)), _textract(width=str(10**30))),
    "word_10_30": (_layout(span=f'{{"t":{10**30},"q":{_Q}}}'), _textract(word=f'"Text":{10**30}')),
    "page_2_64": (_layout(span=f'{{"t":"a","q":{_Q}}}').replace(b'"id":0', b'"id":%d' % 2**64),
                  _textract(word='"Text":"a","Page":%d' % 2**64)),
    "duplicate_keys": (_layout(width='100,"width":300'), _textract(width='100,"Width":300')),
    "lone_surrogate": (_layout(span=f'{{"t":"\\ud800x","q":{_Q}}}'), _textract(word='"Text":"\\udc00"')),
    "escaped_quote": (_layout(span=f'{{"t":"say \\"a\\" [","q":{_Q}}}'), _textract(word='"Text":"\\"]"')),
    "bom": (b"\xef\xbb\xbf" + _layout(), b"\xef\xbb\xbf" + _textract()),
    "deep_2000": (_layout(extra=DEEP), _textract(extra=DEEP)),
    "trailing_garbage": (_layout() + b" x", _textract() + b"}"),
    "invalid_utf8": (_layout(span=f'{{"t":"aXb","q":{_Q}}}').replace(b"aXb", b"a\xff\xfeb"),
                     _textract(word='"Text":"Q7"').replace(b'"Q7"', b'"\xff"')),
}
PARSERS = {"json": json_extract, "textract": textract_extract}


@contextlib.contextmanager
def _recursion_limit(limit: int):
    old = sys.getrecursionlimit()
    sys.setrecursionlimit(limit)
    try:
        yield
    finally:
        sys.setrecursionlimit(old)


def _stdlib(module, payload: bytes):
    """The converter over the stdlib decoder alone, at the default
    recursion limit (other code in the process may have raised it)."""
    with _recursion_limit(1000):
        return module._convert(json.loads(payload.decode("utf-8", errors="replace")), str)[0]


def _outcome(fn, payload: bytes):
    try:
        coords, words, confs, width, height, lang, pages = fn(payload)
    except Exception as exc:  # RecursionError included
        return ("error", type(exc).__name__, str(exc))
    return ("ok", coords.tobytes(), coords.shape, words, np.asarray(confs).tobytes(),
            width, height, lang, pages.tobytes())


@pytest.mark.parametrize("dialect", sorted(PARSERS))
@pytest.mark.parametrize("edge", sorted(EDGES))
def test_edge_inputs_decode_as_the_stdlib(dialect, edge):
    module = PARSERS[dialect]
    payload = EDGES[edge][0 if dialect == "json" else 1]
    parse = json_extract.parse_json_payload if dialect == "json" else textract_extract.parse_textract_payload
    assert _outcome(parse, payload) == _outcome(lambda p: _stdlib(module, p), payload)


def test_edge_inputs_cover_both_outcomes():
    """The stdlib parses some edge inputs that orjson rejects and rejects
    some that orjson parses, so a converter without the fallback fails."""
    outcomes = {edge: _outcome(lambda p: _stdlib(json_extract, p), pair[0])
                for edge, pair in EDGES.items()}
    assert outcomes["nan_quad"][0] == outcomes["overflow_float"][0] == "ok"
    assert outcomes["bom"][0] == "error"
    assert outcomes["deep_2000"][:2] == ("error", "RecursionError")


@pytest.mark.parametrize("dialect", sorted(PARSERS))
@pytest.mark.parametrize("opener, closer", [("[", "]"), ('{"a":', "}")])
def test_nesting_verdict_ignores_the_recursion_limit(dialect, opener, closer):
    """A page nested exactly MAX_NESTING deep parses, and one level deeper
    or 2 000 deep fails with the stdlib's RecursionError text, under the
    default recursion limit and under a raised one (with which the stdlib
    alone parses all three)."""
    parse = json_extract.parse_json_payload if dialect == "json" else textract_extract.parse_textract_payload
    build = _layout if dialect == "json" else _textract
    fill = "0" if opener == "[" else "1"

    def nested(depth: int) -> bytes:  # the document itself is level 1
        n = depth - 1
        return build(extra=',"pad":' + opener * n + fill + closer * n)

    kind = "array" if opener == "[" else "object"
    limit_error = f"maximum recursion depth exceeded while decoding a JSON {kind} from a unicode string"
    verdicts = []
    depths = (json_extract.MAX_NESTING, json_extract.MAX_NESTING + 1, 2000)
    for limit in (1000, 20_000):
        with _recursion_limit(limit):
            verdicts.append([_outcome(parse, nested(d)) for d in depths])
    assert verdicts[0] == verdicts[1]
    fits, *too_deep = verdicts[0]
    assert fits[0] == "ok"
    assert too_deep == [("error", "RecursionError", limit_error)] * 2


@pytest.mark.parametrize("dialect", sorted(PARSERS))
def test_clean_payloads_take_orjson(monkeypatch, dialect):
    """A clean payload never reaches the stdlib decoder."""
    def refuse(*args, **kwargs):
        raise AssertionError("stdlib decoder called")

    payload = _layout() if dialect == "json" else _textract()
    expected = _outcome(lambda p: _stdlib(PARSERS[dialect], p), payload)
    monkeypatch.setattr(json_extract.json, "loads", refuse)
    parse = json_extract.parse_json_payload if dialect == "json" else textract_extract.parse_textract_payload
    assert _outcome(parse, payload) == expected
