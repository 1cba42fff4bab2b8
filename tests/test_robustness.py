"""Hostile-input and partial-resume behavior (codified from the verify
probes): failures become error rows, never task failures; resume
processes exactly the unfinished buckets."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from ocr_wrapper_spark.plans.pipeline import run_extraction
from ocr_wrapper_spark.schema import PAGES_SCHEMA

TS = datetime.datetime(2024, 1, 1)

HOSTILE = [
    ("u1", TS, b"\xff\xfe garbage \x00\x01 not html", "", "en"),
    ("u2", TS, b"%PDF-GRAFT1.0\n%W abc def\nS broken line", "", "en"),
    ("u3", TS, None, "", "en"),
    ("u4", TS, b"<html><body></body></html>", "", "en"),
    ("u5", TS, b"%PDF-GRAFT1.0\n%W 100 100\n%L en\nS 0.1 0.1 0.2 0.1 0.2 0.2 0.1 0.2 nan word", "", "en"),
    ("u6", TS, ("<div>" + "word " * 50 + "</div>").encode(), None, None),
]


def test_hostile_payloads_become_error_rows(spark):
    df = spark.createDataFrame(HOSTILE, PAGES_SCHEMA)
    out = {r.url: r for r in run_extraction(spark, df).collect()}
    assert set(out) == {"u1", "u2", "u3", "u4", "u5", "u6"}  # no row lost
    assert out["u2"].error is not None  # malformed header -> error row
    assert out["u3"].error == "null payload"
    assert out["u1"].error is None and out["u1"].n_spans == 0
    assert out["u4"].n_spans == 0
    assert out["u5"].n_spans == 1
    assert out["u6"].n_spans == 50


def test_partial_resume_processes_only_missing_buckets(spark, tmp_path):
    from ocr_wrapper_spark.sources.metrics import append_metrics, read_metrics
    from ocr_wrapper_spark.sources.pages import synthesize_pages
    from ocr_wrapper_spark.plans.partitioning import with_url_bucket

    metrics_path = str(tmp_path / "metrics")
    pages = synthesize_pages(spark, "/root/testdata/sf0.001")
    bucketed = with_url_bucket(pages.withColumn("content_hash", F.sha2(F.col("html"), 256)))
    buckets = sorted(r.bucket for r in bucketed.select("bucket").distinct().collect())
    half = buckets[: len(buckets) // 2]

    # simulate a crashed first attempt that finished only `half`
    fake = (
        bucketed.filter(F.col("bucket").isin(half))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
        .withColumn("run_id", F.lit("crashed"))
        .withColumn("status", F.lit("done"))
        .withColumn("n_errors", F.lit(0).cast("long"))
        .withColumn("n_cache_hits", F.lit(0).cast("long"))
        .withColumn("wall_ms", F.lit(0.0))
    )
    append_metrics(fake, metrics_path)

    resumed = run_extraction(
        spark, pages, metrics_path=metrics_path, run_id="crashed", resume=True
    )
    done_docs = bucketed.filter(F.col("bucket").isin(half)).count()
    total = pages.count()
    assert resumed.count() == total - done_docs
    assert resumed.filter(F.col("bucket").isin(half)).count() == 0

    # after the resumed run, every bucket is recorded done for the run
    m = read_metrics(spark, metrics_path).filter(
        (F.col("run_id") == "crashed") & (F.col("status") == "done")
    )
    assert {r.bucket for r in m.select("bucket").distinct().collect()} == set(buckets)


def _page(url, payload, lang="en"):
    return (url, TS, payload, "", lang)


def test_real_web_hostile_battery(spark):
    """Tag-soup, CDATA, broken entities, megabyte attributes, deep
    nesting, null bytes, hostile JSON dialects — every row must come
    back, failures only as error-column values, no worker OOM/crash."""
    word_block = ("<p>" + "word " * 60 + "</p>")
    rows = [
        # tag soup: unclosed/interleaved tags around real-length content
        _page("soup", ("<div><p>alpha <b>beta <i>gamma</b> " + "delta " * 20
                       + "</div><td>epsilon").encode()),
        # CDATA + processing instructions + conditional comments
        _page("cdata", b"<?xml version='1.0'?><html><![CDATA[ <p>not real</p> ]]>"
                       b"<!--[if IE]><p>ie only</p><![endif]--><p>" + b"real " * 40 + b"</p></html>"),
        # broken entities and numeric overflow entities
        _page("entities", ("<p>" + "fish &amp chips &#xZZ; &#999999999999; &unknown; " * 20 + "</p>").encode()),
        # megabyte attribute on a single tag
        _page("fatattr", ("<div data-junk=\"" + "A" * (1 << 20) + "\">" + word_block + "</div>").encode()),
        # 4 MB single page: many paragraphs
        _page("fat4mb", ("<html><body>" + word_block * (4_000_000 // len(word_block)) + "</body></html>").encode()),
        # deep nesting (recursion bombs in parser-based extractors)
        _page("deep", (("<div>" * 5000) + word_block + ("</div>" * 5000)).encode()),
        # null bytes + invalid utf-8 interleaved with real content
        _page("nulls", b"<p>" + b"ok \x00\xff\xfe " * 30 + b"</p>"),
        # script that never closes (strip regex must not eat the page)
        _page("unclosed_script", ("<script>var x='" + "y" * 1000 + "<p>hidden</p>" + word_block).encode()),
        # attribute that looks like a block tag
        _page("attr_tag", ("<div title=\"</div><p>fake</p>\">" + word_block + "</div>").encode()),
        # hostile JSON dialect: truncated, wrong types, huge numbers
        _page("json_trunc", b'{"layout": {"width": 100, "pages": [{"spans": [{"t": "a", "q": [0.1'),
        _page("json_types", b'{"layout": {"width": "wide", "pages": "nope"}}'),
        _page("json_span_junk", b'{"layout": {"width": 100, "height": 100, "pages": '
                                b'[{"spans": [{"t": "ok", "c": 1e308, "q": [0,0,1,0,1,1,0,1]}, '
                                b'{"t": null, "q": [1,2]}, {"q": [0,0,1,0,1,1,0,1]}]}]}}'),
        # checkbox bomb: thousands of inputs (aux mode must stay linear)
        _page("boxbomb", ("<form>" + '<input type="checkbox" checked>' * 5000 + "</form>" + word_block).encode()),
        # hostile hOCR dialect: zero-dim page box, truncated span,
        # out-of-range wconf, absurd bbox numbers
        _page("hocr_zero_page", (
            "<?xml version=\"1.0\"?><html lang=\"en\"><body>"
            "<div class='ocr_page' id='p1' title='image \"x\"; bbox 0 0 0 0; ppageno 0'>"
            "<span class='ocrx_word' id='w1' title='bbox 10 10 50 20; x_wconf 96'>alpha</span>"
            "<span class='ocrx_word' id='w2' title='bbox 60 10 90 20; x_wconf 999'>beta</span>"
            "</div></body></html>").encode()),
        _page("hocr_trunc", (
            "<?xml version=\"1.0\"?><html><body>"
            "<div class='ocr_page' title='bbox 0 0 1000 1000'>"
            "<span class='ocrx_word' title='bbox 10 10 50 20; x_wconf 90'>kept</span>"
            "<span class='ocrx_word' title='bbox 60 10").encode()),
        _page("hocr_huge_bbox", (
            "<?xml version=\"1.0\"?><html><body>"
            "<div class='ocr_page' title='bbox 0 0 100 100'>"
            "<span class='ocrx_word' title='bbox 99999999 0 100000000 10; x_wconf 1'>far</span>"
            "</div></body></html>").encode()),
        # hostile Textract dialect: truncated JSON, junk/malformed blocks
        # mixed with one valid WORD, wrong-typed Blocks
        _page("textract_trunc", b'{"DocumentMetadata": {"Pages": 1}, "Blocks": [{"BlockType": "WORD"'),
        _page("textract_junk_blocks", (
            b'{"DocumentMetadata": {"Pages": 1}, "ImageSize": {"Width": 100, "Height": 100},'
            b'"Blocks": ['
            b'{"BlockType": "PAGE"},'
            b'{"BlockType": "WORD", "Text": "kept", "Confidence": 50,'
            b' "Geometry": {"Polygon": [{"X":0.1,"Y":0.1},{"X":0.3,"Y":0.1},{"X":0.3,"Y":0.2},{"X":0.1,"Y":0.2}]}},'
            b'{"BlockType": "WORD", "Text": "nopoly"},'
            b'{"BlockType": "WORD", "Geometry": {"Polygon": []}},'
            b'{"BlockType": "LINE", "Text": "a line"}]}')),
        _page("textract_types", b'{"DocumentMetadata": {"Pages": 1}, "Blocks": "not a list"}'),
    ]
    df = spark.createDataFrame(rows, PAGES_SCHEMA)
    out = {r.url: r for r in run_extraction(spark, df).collect()}
    assert set(out) == {r[0] for r in rows}, "every input row must come back"
    # structural failures only as error values; text pages extract something
    assert out["fat4mb"].error is None and out["fat4mb"].n_spans > 10_000
    assert out["fatattr"].error is None and out["fatattr"].n_spans == 60
    assert out["deep"].error is None and out["deep"].n_spans == 60
    assert out["soup"].error is None and out["soup"].n_spans > 0
    assert out["json_trunc"].error is not None  # malformed JSON -> error row
    assert out["json_types"].error is not None  # wrong-typed metadata -> error row
    assert out["json_span_junk"].error is None and out["json_span_junk"].n_spans == 1
    assert out["hocr_zero_page"].error is None and out["hocr_zero_page"].n_spans == 2
    assert out["hocr_trunc"].error is None and out["hocr_trunc"].n_spans == 1
    assert out["hocr_huge_bbox"].error is None and out["hocr_huge_bbox"].n_spans == 1
    assert out["textract_trunc"].error is not None  # malformed JSON -> error row
    assert out["textract_junk_blocks"].error is None and out["textract_junk_blocks"].n_spans == 1
    assert out["textract_types"].error is not None  # wrong-typed Blocks -> error row
    for r in out.values():
        assert r.error is None or isinstance(r.error, str)


def test_checkbox_bomb_aux_mode(spark):
    """5000 checkbox inputs through the aux merge: linear, no crash."""
    from ocr_wrapper_spark.operators.extract import with_extraction

    payload = ("<form>" + '<input type="checkbox">' * 5000 + "</form>"
               + "<p>" + "word " * 40 + "</p>").encode()
    df = spark.createDataFrame([_page("bomb", payload)], PAGES_SCHEMA)
    row = with_extraction(df, mode="aux").collect()[0]
    assert row.error is None
    assert sum(1 for s in row.spans if s.text == "☐") == 5000


def test_hostile_payloads_all_extractor_modes(spark):
    """Every registered extractor mode (each of EXTRACTORS) must preserve
    all rows and confine failures to the error column."""
    from ocr_wrapper_spark.operators.autoselect import name2extractor

    df = spark.createDataFrame(HOSTILE, PAGES_SCHEMA)
    for mode, op in name2extractor.items():
        rows = op(df).collect()
        assert len(rows) == len(HOSTILE), f"mode {mode} lost rows"
        for r in rows:
            assert r.error is None or isinstance(r.error, str), mode


def test_repetition_and_dupspan_survive_monster_doc(spark):
    """A 200k-token single-word doc (the hostile shape for anything that
    explodes n-grams): both filters finish, mark it as degenerate, and
    don't blow memory — the explode is linear, never quadratic."""
    from ocr_wrapper_spark.operators.textstats import (
        with_dup_span_coverage,
        with_repetition_stats,
    )

    monster = " ".join(["spam"] * 200_000)
    df = spark.createDataFrame(
        [(0, monster), (1, "regular words only here")], "doc_id long, text string"
    )
    rep = {r["doc_id"]: r for r in with_repetition_stats(df).collect()}
    assert rep[0]["n_words"] == 200_000
    assert rep[0]["dup_word_frac"] > 0.99 and not rep[0]["keep"]
    assert rep[1]["keep"]

    cov = {r["doc_id"]: r for r in with_dup_span_coverage(df).collect()}
    # the monster's 8-gram repeats only within itself -> cross-doc frac 0
    assert cov[0]["dup_span_frac"] == 0.0
