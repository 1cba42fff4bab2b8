"""WARC source connector (ISO 28500, the Common-Crawl container format).

A crawl delivers `.warc` / `.warc.gz` files, not parquet: each file is a
sequence of records — `WARC/1.0` header block, CRLF-separated named
fields (`WARC-Type`, `WARC-Target-URI`, `WARC-Date`, `Content-Length`),
blank line, then exactly `Content-Length` bytes of block, then CRLFCRLF.
Response records wrap an HTTP response; the page bytes follow the HTTP
header section.

Spark-side shape: `spark.read.format("binaryFile")` (one task per file —
WARC is not splittable mid-record, which is also how Common Crawl is
processed in practice: ~1 GB files ARE the parallelism unit; a 100 TB
crawl is ~100k files = 100k tasks) -> mapInPandas record parser ->
the same pages schema the rest of the engine consumes. Parsing walks
Content-Length boundaries — never a regex split, so bodies containing
the literal bytes "WARC/1.0" parse correctly. Malformed tails degrade
to skipped records, never failed tasks.
"""

from __future__ import annotations

import gzip

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

CRLF = b"\r\n"


def write_warc_file(
    path: str, records: list[tuple[str, str, bytes, str | None]]
) -> None:
    """Emit a valid WARC/1.0 file: (target_uri, iso_date, body, lang)
    tuples as response records wrapping an HTTP/1.1 200 response; lang
    (when known) rides in WARC-Identified-Content-Language, the header
    Common Crawl uses for its language annotations. Deterministic byte
    layout — the test/generator-side twin of iter_warc_records."""
    with open(path, "wb") as f:
        for uri, date, body, lang in records:
            http = (
                b"HTTP/1.1 200 OK" + CRLF
                + b"Content-Type: text/html" + CRLF
                + CRLF
                + body
            )
            lang_field = (
                b"WARC-Identified-Content-Language: " + lang.encode("ascii") + CRLF
                if lang
                else b""
            )
            header = (
                b"WARC/1.0" + CRLF
                + b"WARC-Type: response" + CRLF
                + b"WARC-Target-URI: " + uri.encode("utf-8") + CRLF
                + b"WARC-Date: " + date.encode("ascii") + CRLF
                + lang_field
                + b"Content-Length: " + str(len(http)).encode("ascii") + CRLF
                + CRLF
            )
            f.write(header + http + CRLF + CRLF)


def iter_warc_records(data: bytes):
    """Yield (target_uri, warc_date, http_body_bytes) for each response
    record. Walks Content-Length boundaries; skips non-response records
    and stops (without raising) at any malformed tail."""
    if data[:2] == b"\x1f\x8b":  # whole-file gzip (.warc.gz)
        try:
            data = gzip.decompress(data)
        except OSError:
            return
    pos = 0
    n = len(data)
    while pos < n:
        head_end = data.find(CRLF + CRLF, pos)
        if head_end < 0:
            return
        header_block = data[pos:head_end]
        lines = header_block.split(CRLF)
        if not lines or not lines[0].startswith(b"WARC/"):
            return
        fields = {}
        for line in lines[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                fields[k.strip().lower()] = v.strip()
        try:
            length = int(fields.get(b"content-length", b""))
        except ValueError:
            return
        block_start = head_end + 4
        block_end = block_start + length
        if block_end > n:
            return
        if fields.get(b"warc-type") == b"response":
            block = data[block_start:block_end]
            # strip the wrapped HTTP header section
            http_end = block.find(CRLF + CRLF)
            body = block[http_end + 4 :] if http_end >= 0 else block
            lang = fields.get(b"warc-identified-content-language")
            yield (
                fields.get(b"warc-target-uri", b"").decode("utf-8", "replace"),
                fields.get(b"warc-date", b"").decode("ascii", "replace"),
                body,
                lang.decode("ascii", "replace") if lang else None,
            )
        pos = block_end
        while data[pos : pos + 2] == CRLF:  # record trailer
            pos += 2


def read_warc(spark: SparkSession, path_glob: str) -> DataFrame:
    """WARC files -> pages-shaped DataFrame (url, warc_ts, html, lang).

    One task per file (binaryFile is unsplittable — the WARC processing
    model everywhere); lang is null, the extractor's dispatch handles
    it. Hostile bytes degrade to zero records for that file.

    A trailing ``/*.ext`` glob is split into (dir, pathGlobFilter):
    loading a literal glob path makes Spark's FileStreamSink metadata
    probe stat the glob string itself and log a benign-but-noisy
    FileNotFoundException stack trace at WARN (the undiagnosed trace in
    the round-3 bench artifact); loading the existing directory avoids
    the probe failure entirely."""
    reader = spark.read.format("binaryFile")
    head, sep, tail = path_glob.rpartition("/")
    if sep and ("*" in tail or "?" in tail) and "*" not in head and "?" not in head:
        reader = reader.option("pathGlobFilter", tail)
        path_glob = head
    binary = reader.load(path_glob)

    def parse(batches):
        for pdf in batches:
            rows = {"url": [], "warc_ts": [], "html": [], "lang": []}
            for content in pdf["content"]:
                try:
                    recs = list(iter_warc_records(bytes(content)))
                except Exception:
                    recs = []
                for uri, date, body, lang in recs:
                    try:
                        ts = pd.Timestamp(date)
                        if ts.tzinfo is not None:
                            ts = ts.tz_convert("UTC").tz_localize(None)
                    except (ValueError, TypeError):
                        ts = pd.NaT
                    rows["url"].append(uri)
                    rows["warc_ts"].append(ts)
                    rows["html"].append(body)
                    rows["lang"].append(lang)
            yield pd.DataFrame(rows)

    return binary.select("content").mapInPandas(
        parse, schema="url string, warc_ts timestamp, html binary, lang string"
    )


def materialize_warc(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str = "/tmp/spark_graft_warc",
    n_files: int = 64,
) -> str:
    """Write (once) the documents corpus as WARC files — the crawl-
    native input shape — and return the directory. Same deterministic
    payloads as the pages table (build_page_rows), so extraction over
    the WARC path must reproduce the identical bytes."""
    import os

    from .pages import build_page_rows, materialized_path

    path = materialized_path(base_dir, sf_dir, f"f{n_files}")
    marker = f"{path}/_SUCCESS"
    if os.path.exists(marker):
        return path
    os.makedirs(path, exist_ok=True)
    pdf = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    ).toPandas()
    pages = build_page_rows(pdf)
    for shard in range(n_files):
        recs = [
            (
                url,
                ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                bytes(html),
                lang or None,
            )
            for i, (url, ts, html, lang) in enumerate(
                zip(pages["url"], pages["warc_ts"], pages["html"], pages["lang"])
            )
            if i % n_files == shard
        ]
        write_warc_file(f"{path}/part-{shard:05d}.warc", recs)
    open(marker, "w").close()
    return path
