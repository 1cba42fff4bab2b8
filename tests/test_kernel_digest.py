"""Pins the extraction kernels' output, document by document.

One sha256 per document over every output field (extracted text, span
coordinate bytes, confidences, rotation, ``repr(tilt_angle)``, provider,
error), over a seeded corpus of all five payload dialects plus the
hostile payloads of ``test_robustness.py`` / ``test_fat_pages.py`` and a
set of degenerate-geometry pages. The digests below were computed before
the reading-order sort became batched; any byte that moves in any mode
fails the group it belongs to.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pandas as pd
import pytest

from ocr_wrapper_spark.kernels import bbox_core as bc
from ocr_wrapper_spark.kernels import order
from ocr_wrapper_spark.kernels.extract_doc import EXTRACTORS, extract_document
from ocr_wrapper_spark.operators.extract import _extract_columns
from ocr_wrapper_spark.sources.pages import build_page_rows

from tests.test_fat_pages import _CASES as FAT_CASES
from tests.test_fat_pages import FAT
from tests.test_robustness import HOSTILE

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the 2024 17 3.5 01.02.2020-03.04.2021 x "
    "12/01/2019-12/31/2019 - ... naïve Straße"
).split()
RTL_VOCAB = "مرحبا كتاب بيت قلم شمس 123 ٤٥ שלום ספר בית abc".split()
LANGS = ["en", "en", "de", "fr", "es", "zh", "ar", "he"]


def seeded_documents(seed: int = 20261018, n: int = 260) -> pd.DataFrame:
    """Seeded documents whose doc_ids cover every dialect class, rotation
    and tilt variant; lengths 0..160 words, so tilted PDFs split into two
    pages and empty documents occur."""
    rng = np.random.default_rng(seed)
    doc_ids = rng.choice(1_000_000, size=n, replace=False)
    doc_ids[:40] = np.arange(40)  # every doc_id % 5 / % 10 / % 4 class
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), size=n)]
    n_words = rng.integers(0, 161, size=n)
    n_words[rng.random(n) < 0.05] = 0
    texts = []
    for lang, k in zip(langs, n_words):
        vocab = RTL_VOCAB if lang in ("ar", "he") else VOCAB
        texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), size=int(k))))
    return pd.DataFrame({"doc_id": doc_ids.astype(np.int64), "text": texts, "lang": langs})


def _quad_line(q, word, conf="0.9"):
    return "S " + " ".join(q) + f" {conf} {word}"


def _pdf(width, height, lines):
    return ("%PDF-GRAFT1.0\n" + f"%W {width} {height}\n" + "\n".join(lines)).encode()


def _json_layout(width, height, n):
    spans = [{"t": f"w{i}", "c": 0.5, "q": [0.1, 0.1 + i / 50, 0.2, 0.1 + i / 50,
                                            0.2, 0.11 + i / 50, 0.1, 0.11 + i / 50]}
             for i in range(n)]
    return json.dumps({"layout": {"width": width, "height": height,
                                  "pages": [{"id": 0, "spans": spans}]}}).encode()


_BOX = "0.1 0.1 0.2 0.1 0.2 0.2 0.1 0.2".split()
_NAN = ["nan"] * 8


def hostile_payloads() -> list[tuple[str, bytes | None, str | None]]:
    """(name, payload, lang): the robustness probes, the real-web battery,
    the fat pages and degenerate reading-order geometry."""
    out = [(url, html, lang) for url, _, html, _, lang in HOSTILE]
    word_block = "<p>" + "word " * 60 + "</p>"
    battery = {
        "soup": ("<div><p>alpha <b>beta <i>gamma</b> " + "delta " * 20 + "</div><td>epsilon").encode(),
        "cdata": b"<?xml version='1.0'?><html><![CDATA[ <p>not real</p> ]]>"
                 b"<!--[if IE]><p>ie only</p><![endif]--><p>" + b"real " * 40 + b"</p></html>",
        "entities": ("<p>" + "fish &amp chips &#xZZ; &#999999999999; &unknown; " * 20 + "</p>").encode(),
        "fatattr": ("<div data-junk=\"" + "A" * (1 << 20) + "\">" + word_block + "</div>").encode(),
        "deep": (("<div>" * 5000) + word_block + ("</div>" * 5000)).encode(),
        "nulls": b"<p>" + b"ok \x00\xff\xfe " * 30 + b"</p>",
        "unclosed_script": ("<script>var x='" + "y" * 1000 + "<p>hidden</p>" + word_block).encode(),
        "attr_tag": ("<div title=\"</div><p>fake</p>\">" + word_block + "</div>").encode(),
        "json_trunc": b'{"layout": {"width": 100, "pages": [{"spans": [{"t": "a", "q": [0.1',
        "json_types": b'{"layout": {"width": "wide", "pages": "nope"}}',
        "json_span_junk": b'{"layout": {"width": 100, "height": 100, "pages": '
                          b'[{"spans": [{"t": "ok", "c": 1e308, "q": [0,0,1,0,1,1,0,1]}, '
                          b'{"t": null, "q": [1,2]}, {"q": [0,0,1,0,1,1,0,1]}]}]}}',
        "boxbomb": ("<form>" + '<input type="checkbox" checked>' * 5000 + "</form>" + word_block).encode(),
        "hocr_zero_page": ("<?xml version=\"1.0\"?><html lang=\"en\"><body>"
                           "<div class='ocr_page' id='p1' title='image \"x\"; bbox 0 0 0 0; ppageno 0'>"
                           "<span class='ocrx_word' id='w1' title='bbox 10 10 50 20; x_wconf 96'>alpha</span>"
                           "<span class='ocrx_word' id='w2' title='bbox 60 10 90 20; x_wconf 999'>beta</span>"
                           "</div></body></html>").encode(),
        "hocr_trunc": ("<?xml version=\"1.0\"?><html><body>"
                       "<div class='ocr_page' title='bbox 0 0 1000 1000'>"
                       "<span class='ocrx_word' title='bbox 10 10 50 20; x_wconf 90'>kept</span>"
                       "<span class='ocrx_word' title='bbox 60 10").encode(),
        "hocr_huge_bbox": ("<?xml version=\"1.0\"?><html><body>"
                           "<div class='ocr_page' title='bbox 0 0 100 100'>"
                           "<span class='ocrx_word' title='bbox 99999999 0 100000000 10; x_wconf 1'>far</span>"
                           "</div></body></html>").encode(),
        "textract_trunc": b'{"DocumentMetadata": {"Pages": 1}, "Blocks": [{"BlockType": "WORD"',
        "textract_types": b'{"DocumentMetadata": {"Pages": 1}, "Blocks": "not a list"}',
    }
    out += [(name, payload, "en") for name, payload in battery.items()]
    text = " ".join(f"tok{i}" for i in range(120))
    out += [(f"fat_{name}", builder(did, text, "en", FAT), "en") for builder, did, name in FAT_CASES]
    geometry = {
        "nan_partial": _pdf(1000, 1000, [_quad_line(_BOX, "a"), _quad_line(_NAN, "b")]),
        "nan_all": _pdf(1000, 1000, [_quad_line(_NAN, "a"), _quad_line(_NAN, "b")]),
        "nan_x": _pdf(1000, 1000, [_quad_line("nan 0.1 nan 0.1 nan 0.2 nan 0.2".split(), "a"),
                                   _quad_line(_BOX, "b")]),
        "nan_x_all": _pdf(1000, 1000, [_quad_line("nan 0.1 nan 0.1 nan 0.2 nan 0.2".split(), "a"),
                                       _quad_line("nan 0.3 nan 0.3 nan 0.4 nan 0.4".split(), "b"),
                                       _quad_line("nan 0.1 nan 0.1 nan 0.2 nan 0.2".split(), "c")]),
        "inf": _pdf(1000, 1000, [_quad_line("0.1 0.1 inf 0.1 0.2 0.2 0.1 0.2".split(), "a"),
                                 _quad_line(_BOX, "b")]),
        "narrow": _pdf(50, 1000, [_quad_line("0.1 0.1 0.9 0.1 0.9 0.2 0.1 0.2".split(), "a"),
                                  _quad_line("0.3 0.3 0.4 0.3 0.4 0.4 0.3 0.4".split(), "b")]),
        "narrow_many": _json_layout(120, 900, 30),
        "negative_width": _json_layout(-5000, 1000, 3),
        "negative_height": _json_layout(1000, -5000, 3),
        "huge_width": _json_layout(10**30, 1000, 3),
        "huge_height": _json_layout(1000, 10**30, 3),
        "wide_2e19": _json_layout(2 * 10**19, 1000, 3),
        "tall_page": _json_layout(1000, 400_000, 5),
        "nan_conf": _pdf(1000, 1000, [_quad_line(_BOX, "a", "nan")]),
    }
    out += [(name, payload, "en") for name, payload in geometry.items()]
    return out


def tie_prone_pages(seed: int = 7, n: int = 150) -> list[tuple]:
    """(coords, texts, width, height) pages whose tilt scores tie or nearly
    tie, so the tilt pick depends on the last bit of each score's float sum:
    boxes mirrored about the page centre (tilts +t and -t see mirrored
    histograms), single boxes, and widths under the 200 px floor (the
    histogram clip path)."""
    rng = np.random.default_rng(seed)
    words = ["alpha", "beta", "gamma", "12", "كتاب", "שלום", "x", "delta", "epsilon"]
    pages = []
    for k in range(n):
        m = int(rng.integers(1, 30)) if k % 5 else 1
        x = rng.random(m) * 0.4
        y = rng.random(m) * 0.9
        w = rng.random(m) * 0.08 + 0.01
        h = rng.random(m) * 0.03 + 0.005
        if k % 3:
            x, y, w, h = np.concatenate([x, 1 - x - w]), np.tile(y, 2), np.tile(w, 2), np.tile(h, 2)
        texts = [words[j] for j in rng.integers(0, len(words), size=len(x))]
        width = int(rng.choice([64, 150, 199, 612, 1224, 2000]))
        height = int(rng.choice([300, 1584, 4000]))
        pages.append((bc.from_xywh(x, y, w, h), texts, width, height))
    return pages


def order_digest(result) -> str:
    idx, tilt, line_ids = result
    parts = (np.asarray(idx, dtype=np.int64).tobytes(), repr(float(tilt)).encode(),
             np.asarray(line_ids, dtype=np.int64).tobytes())
    return hashlib.sha256(b"|".join(parts)).hexdigest()


def doc_digest(text, coords, confidences, rotation, tilt, provider, error) -> str:
    h = hashlib.sha256()
    parts = (
        (text or "").encode("utf-8", "surrogatepass"),
        np.ascontiguousarray(coords, dtype=np.float64).tobytes(),
        np.asarray(confidences, dtype=np.float64).tobytes(),
        str(int(rotation)).encode(),
        repr(float(tilt)).encode(),
        (provider or "").encode(),
        repr(error).encode(),
    )
    for part in parts:
        h.update(len(part).to_bytes(8, "little"))
        h.update(part)
    return h.hexdigest()


def batch_digests(mode: str, payloads, langs, texts) -> list[str]:
    """Per-document digests of one Arrow batch through the operators'
    extraction loop."""
    cols = _extract_columns(EXTRACTORS[mode], payloads, langs, texts)
    spans = cols["spans"]
    offsets = spans.offsets.to_numpy()
    flat = spans.values
    coords = np.column_stack([flat.field(j).to_numpy(zero_copy_only=False) for j in range(8)])
    conf = flat.field("confidence").to_numpy(zero_copy_only=False)
    out = []
    for i in range(len(payloads)):
        a, b = offsets[i], offsets[i + 1]
        out.append(doc_digest(
            cols["extracted_text"][i].as_py(), coords[a:b], conf[a:b],
            cols["doc_rotation"][i].as_py(), cols["tilt_angle"][i].as_py(),
            cols["provider"][i].as_py(), cols["error"][i].as_py(),
        ))
    return out


def single_digest(payload, lang) -> str:
    r = extract_document(payload, lang)
    return doc_digest(r.extracted_text, r.coords.reshape(-1, 8), r.confidences, r.rotation,
                      r.tilt_angle, r.provider, r.error)


def group_digest(digests: list[str]) -> str:
    return hashlib.sha256("\n".join(digests).encode()).hexdigest()


# computed from the per-page reading-order kernel this batch kernel replaced
EXPECTED = {
    "order": "c15dec235b66e3374b8852ec01bb35b39c16d89b15c36681494913a0d8c78b97",
    "modes": {
        "aux": "59e63d66ba668f2b639e033241139792d346adc872dfc6e578f0b54cfc1dc2db",
        "consensus": "05a9c167e270a7f68b7f18c45b973f3b1054ac720beb8d2b4195a49ba5a76e23",
        "consensus3": "05a9c167e270a7f68b7f18c45b973f3b1054ac720beb8d2b4195a49ba5a76e23",
        "dual": "25bd5c2268913464796b304307a5ec7dd22f391a3e315a56946f1976ae6d050d",
        "single": "d3b44f1bf125043a4da7acd50263ada1ed7765cbedcc77327e3038b58dde140a",
    },
    "hostile": {
        "u1": "48cc3e63e03ac7bf01807cdcb657b39cdd5b98befc47a7ca3eff82fcf98b50d0",
        "u2": "d5d7f406d687a084f57b8d1b2707a3e52a8b95805b3107ba18fd20c9fcf645f5",
        "u3": "35614b0187ee12ea177a42e428652cddc4784258ddb1699ffbe983246691dafc",
        "u4": "48cc3e63e03ac7bf01807cdcb657b39cdd5b98befc47a7ca3eff82fcf98b50d0",
        "u5": "1e6736172bafff323479917de0ec1afdb4961694c9a93af84ed78f0261389943",
        "u6": "f011e55c60d4ffdca488904a5d094731ffa0af55f03d0122771d6131a8feb0bf",
        "soup": "dc2932da82e5fe52555f859fbf36627b05af53c3f7849404b01bae7846e071b3",
        "cdata": "8504cae62077de731cb39d2a09d15e9628d52b1df1de6b4eaef1c6b1f27a2597",
        "entities": "f3b708d4e054c33fcc84bdce1cc1a01dbe24a1378adca0a940150c3bfc080996",
        "fatattr": "2744b5371f8b54aef2606a28102a1664c75096eeb574273d580a7320bad565ac",
        "deep": "2744b5371f8b54aef2606a28102a1664c75096eeb574273d580a7320bad565ac",
        "nulls": "44e99311d084a508ce9ea72b923d5932676363974f24160ad8882eaab1dd06c3",
        "unclosed_script": "95f628df2b34d80b4350a994bb485b1cdb4598fcc7759762401ca81ffe1f24f0",
        "attr_tag": "2744b5371f8b54aef2606a28102a1664c75096eeb574273d580a7320bad565ac",
        "json_trunc": "20add5a82042ae59d583de8a866cdf8c589a00bc99674156e75fa28185503ba2",
        "json_types": "c40351a3193fa2a721e67e01a744a2ee917d929abeebd243ed5e2783aeaa378e",
        "json_span_junk": "ad73f78c0b812be2b1adf5d15e6e009c231d1601f03eea978555a9e11660b627",
        "boxbomb": "2744b5371f8b54aef2606a28102a1664c75096eeb574273d580a7320bad565ac",
        "hocr_zero_page": "1e076a4822799f4dd478d18ee591945cb74d6c183c474aaf1bac2d3a9a9e58d2",
        "hocr_trunc": "12b22a6ef962ae2c45ffa7137dd41e51f5404a63704e6101214cfef77f921898",
        "hocr_huge_bbox": "1e55591aae8b476af18d0156310aa12ba8e5ec77b74da893c44dcbf65378459f",
        "textract_trunc": "335bba2d21507c02ffe5df4d7b4017503e5bba9c576fe87b057632da10c05a4d",
        "textract_types": "9f006d30c3ed5eabc0644a6b2756d5892b000fa69cc9eb404a5edb107370848b",
        "fat_html": "e7217d42f4e97d0635f2eb4cd310cf9069f77b9f93917d007de57751a233e533",
        "fat_json": "37275719ec6d7831fb8427db24430b9402de844f5e82becb686f5e63b686381e",
        "fat_pdf": "dd71b5efffa334010ccc5839db3c4a5a4082c890c9e39f4f990e449e06ed70c8",
        "fat_hocr": "f5812c74d15175f9df2b3868301b86e67c873f282766c158d97dbfe32ce90e2d",
        "fat_textract": "b4acab989cdfd3dfe8bf736b23922415db0d5cc9a742305a707c19bb0ec41294",
        "nan_partial": "4f3aac51106dd4f704a58f027b081bdec3b9fd6400cadcc32f646a9ab1282ac9",
        "nan_all": "4f3aac51106dd4f704a58f027b081bdec3b9fd6400cadcc32f646a9ab1282ac9",
        "nan_x": "78f19b47a92a7a6d64cbfd364053d6380e12dbe35e180131e835684eb3a0b4a9",
        "nan_x_all": "ffd20eb35863f79907a61fcef144188144afd641459ff2006c2cbcb721f8d873",
        "inf": "4f3aac51106dd4f704a58f027b081bdec3b9fd6400cadcc32f646a9ab1282ac9",
        "narrow": "f37bacaadff560a342d3d5babcac26e57623cf1b3403f88690d5ef7f6c1b2268",
        "narrow_many": "2fc6abb782178f66e8a787cc11cab36e40214b06ba67d43be9412da5a51008c8",
        "negative_width": "7a53d5116e703a5ea08d2a0848d0a32a64c05e94a55f349c0457c27bec994304",
        "negative_height": "c21786056e20849d850ed5c9b9a923a27defb604cef05cc7b1e922d3ff44efae",
        "huge_width": "cf0756a05d410b8eef28b40d6299b867c4b02e418d98440136b8227a57b7af47",
        "huge_height": "77a7327c803cf34428279c5e7e79f1836611ba70b07352518083ae1e896eee5c",
        "wide_2e19": "2d232a56c882bc8906db73d26b485e9034a8d7c38e073c7aa9bfd18ba7b771c0",
        "tall_page": "a53bbd881d715efc2f2059df3a76ff95b3b52a0c577d2b5f3bf1eb5a19928454",
        "nan_conf": "d4cbfb9dd8582ef820fec94617b67f428dab04d9ebcd9dd81593d790f36c6ee6",
    },
}


@pytest.fixture(scope="module")
def corpus():
    pages = build_page_rows(seeded_documents())
    return list(pages["html"]), list(pages["lang"]), list(pages["text"])


@pytest.fixture(scope="module")
def hostile():
    return hostile_payloads()


@pytest.mark.parametrize("mode", sorted(EXPECTED["modes"]))
def test_seeded_corpus_digest(corpus, mode):
    payloads, langs, texts = corpus
    got = group_digest(batch_digests(mode, payloads, langs, texts))
    assert got == EXPECTED["modes"][mode]


def test_order_digest():
    got = group_digest([order_digest(order.order_boxes(*page)) for page in tie_prone_pages()])
    assert got == EXPECTED["order"]


def test_hostile_digest(hostile):
    names = [h[0] for h in hostile]
    got = batch_digests("single", [h[1] for h in hostile], [h[2] for h in hostile], [None] * len(hostile))
    assert dict(zip(names, got)) == EXPECTED["hostile"]


def test_single_document_calls_match_the_batch(corpus, hostile):
    payloads, langs, texts = corpus
    payloads = payloads + [h[1] for h in hostile]
    langs = langs + [h[2] for h in hostile]
    batch = batch_digests("single", payloads, langs, [None] * len(payloads))
    assert [single_digest(p, lang) for p, lang in zip(payloads, langs)] == batch
