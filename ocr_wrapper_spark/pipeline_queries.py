"""Pipeline-level queries: the extraction engine exposed through the
driver's queries()/oracle_sql() contract.

The pages input is synthesized deterministically from the ``documents``
table (sources/pages.py), so the whole extraction pipeline — boilerplate
strip, PDF parse, rotation/tilt detection, reading order, assembly — is
SQL-verifiable: DuckDB recomputes the expected outputs (byte-identical
text, token counts, branch, detected rotation) directly from
``documents`` columns.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans.pipeline import run_extraction
from .plans.partitioning import salted_host_counts
from .relational import ORACLES, QUERIES, register
from .sources import pages as pages_src
from .operators.sampling import KNUTH_U_SQL

# overflow-safe Knuth draw for doc_id (naive doc_id * 2654435761 raises
# a BIGINT out-of-range in DuckDB once doc_id >= ~3.47e9 — the replica
# id regime)
_DOC_U_SQL = KNUTH_U_SQL.format(k="doc_id")


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pages_src.synthesize_pages(spark, sf_dir)


_ROTATION_SQL = """
    CASE WHEN doc_id % 5 = 3 AND (doc_id // 5) % 2 = 0 AND text <> ''
         THEN ([0, 90, 180, 270])[CAST((doc_id // 5) % 4 AS INT) + 1]
         ELSE 0 END
"""


@register(
    "pipeline_extract",
    f"""
    SELECT doc_id,
           text AS extracted_text,
           CASE WHEN text = '' THEN 0 ELSE len(str_split(text, ' ')) END AS n_spans,
           CASE WHEN doc_id % 5 = 3 THEN 'pdf'
                WHEN doc_id % 5 = 1 THEN 'json'
                WHEN doc_id % 5 = 4 THEN 'hocr'
                WHEN doc_id % 10 = 7 THEN 'textract' ELSE 'html' END     AS provider,
           {_ROTATION_SQL}                                               AS doc_rotation
    FROM documents
    """,
)
def pipeline_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full extraction over synthesized pages; byte-identical
    extracted_text per document (north_rule invariant), plus detected
    branch and rotation — all recomputed independently by the oracle."""
    from .operators.extract import extract_documents_fused

    result = extract_documents_fused(spark, sf_dir)
    return result.select("doc_id", "extracted_text", "n_spans", "provider", "doc_rotation")


@register(
    "pipeline_error_free",
    """
    SELECT count(*) AS n_docs, 0 AS n_errors FROM documents
    """,
)
def pipeline_error_free(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.extract import extract_documents_fused

    result = extract_documents_fused(spark, sf_dir)
    return result.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("error").isNotNull().cast("int")).cast("int").alias("n_errors"),
    )


@register(
    "pipeline_dual_extract",
    """
    SELECT doc_id, text AS extracted_text,
           CASE WHEN text = '' THEN 0 ELSE len(str_split(text, ' ')) END AS n_spans
    FROM documents WHERE doc_id % 5 <> 3
    """,
)
def pipeline_dual_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-provider (GoogleAzure-analogue) extraction over HTML pages:
    primary branch extractor + provider-text secondary, combined via
    F1/F2 filters, J2 overlap anti-join, J4 ordered merge. Secondary
    geometry matches the primary's, so the combined text stays
    byte-identical to the document text."""
    from .operators.extract import with_extraction

    pages = _pages(spark, sf_dir).filter(~F.col("url").endswith(".pdf"))
    out = with_extraction(pages, mode="dual", text_col="text")
    return out.select(
        pages_src.doc_id_from_url().alias("doc_id"),
        "extracted_text",
        "n_spans",
    )


@register(
    "pipeline_consensus_extract",
    """
    SELECT doc_id, text AS extracted_text,
           CASE WHEN text = '' THEN 0 ELSE len(str_split(text, ' ')) END AS n_spans
    FROM documents
    """,
)
def pipeline_consensus_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-sample consensus (D5): two extraction samples pooled,
    cross-response grouped, best-confidence base enriched with
    singletons. Deterministic extraction makes samples identical, so the
    consensus output must stay byte-identical to the document text."""
    from .operators.extract import extract_documents_fused

    out = extract_documents_fused(spark, sf_dir, mode="consensus")
    return out.select("doc_id", "extracted_text", "n_spans")


@register(
    "pipeline_consensus3_extract",
    """
    SELECT doc_id, text AS extracted_text,
           CASE WHEN text = '' THEN 0 ELSE len(str_split(text, ' ')) END AS n_spans
    FROM documents
    """,
)
def pipeline_consensus3_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-sample n-way consensus (extends the reference, which raises
    NotImplementedError for n>2 at aggregate_multiple_responses.py:188):
    three samples pooled with response ids, cross-response grouped,
    best-mean-confidence base enriched with non-overlapping singletons
    (combine.aggregate_samples_n). Deterministic extraction keeps the
    result byte-identical to the document text, which the oracle checks."""
    from .operators.extract import extract_documents_fused

    out = extract_documents_fused(spark, sf_dir, mode="consensus3")
    return out.select("doc_id", "extracted_text", "n_spans")


@register(
    "pipeline_warc_extract",
    """
    SELECT doc_id,
           text AS extracted_text,
           CASE WHEN text = '' THEN 0 ELSE len(str_split(text, ' ')) END AS n_spans,
           CASE WHEN doc_id % 5 = 3 THEN 'pdf'
                WHEN doc_id % 5 = 1 THEN 'json'
                WHEN doc_id % 5 = 4 THEN 'hocr'
                WHEN doc_id % 10 = 7 THEN 'textract' ELSE 'html' END     AS provider
    FROM documents
    """,
)
def pipeline_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction over the crawl-native input: the corpus written as
    WARC/1.0 files (ISO 28500), read back through the binaryFile +
    Content-Length-walking record parser (sources/warc.py), then the
    SAME fused extraction operator. Byte identity must hold through the
    container round-trip — URL, date, language annotation, and payload
    all survive the WARC framing. One task per WARC file, the
    Common-Crawl parallelism model (a 100 TB crawl is ~100k files)."""
    from .operators.extract import with_extraction
    from .sources.warc import materialize_warc, read_warc

    path = materialize_warc(spark, sf_dir)
    pages = read_warc(spark, f"{path}/*.warc")
    out = with_extraction(pages)
    return out.select(
        pages_src.doc_id_from_url().alias("doc_id"),
        "extracted_text",
        "n_spans",
        "provider",
    )


@register(
    "pipeline_textract_extract",
    # fifth dialect slice: doc_id % 10 == 7 pages carry Textract-style
    # Blocks JSON; the converter's F3 WORD filter must drop the PAGE +
    # LINE blocks, so n_spans equals the WORD count = token count, and
    # the assembled text stays byte-identical to the document text
    """
    SELECT doc_id,
           text AS extracted_text,
           CASE WHEN text = '' THEN 0 ELSE len(str_split(text, ' ')) END AS n_spans,
           'textract' AS provider
    FROM documents WHERE doc_id % 10 = 7
    """,
)
def pipeline_textract_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Textract Blocks-JSON dialect end-to-end (reference AwsOCR
    converter, aws.py:51-60): the doc_id % 10 == 7 slice of the corpus
    is stored as detect_document_text-shaped responses; extraction must
    keep only WORD blocks (F3), rebuild the quads from Polygon vertices,
    and reproduce the document text byte-for-byte through the shared
    normalize/order path."""
    from .operators.extract import extract_documents_fused

    # slice predicate pushed below the extraction stage: only the
    # textract docs are synthesized/extracted (10x less work than
    # filtering the extraction output)
    result = extract_documents_fused(spark, sf_dir, docs_filter=F.col("doc_id") % 10 == 7)
    return result.select("doc_id", "extracted_text", "n_spans", "provider")


@register(
    "spans_layoutlm_export",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN text = '' THEN [] ELSE str_split(text, ' ') END AS tokens
      FROM documents WHERE doc_id % 5 <> 3 AND doc_id % 7 = 0)
    SELECT doc_id, len(tokens) AS n_spans FROM toks
    """,
)
def spans_layoutlm_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LayoutLM export conversion (C15): spans -> [0,1000] int quads as a
    pure JVM transform; checked structurally (count parity + value range
    asserted in pytest; the oracle verifies cardinality)."""
    from .functions.convert import spans_to_layoutlm
    from .plans.pipeline import run_extraction

    pages = _pages(spark, sf_dir).filter(~F.col("url").endswith(".pdf"))
    result = run_extraction(spark, pages)
    sample = result.withColumn(
        "doc_id", pages_src.doc_id_from_url()
    ).filter(F.col("doc_id") % 7 == 0)
    return sample.select(
        "doc_id", F.size(spans_to_layoutlm(F.col("spans"))).alias("n_spans")
    )


@register(
    "pipeline_streaming_extract",
    """
    SELECT doc_id, text AS extracted_text,
           CASE WHEN text = '' THEN 0 ELSE len(str_split(text, ' ')) END AS n_spans
    FROM documents
    """,
)
def pipeline_streaming_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming extraction: the SAME fused operator over a
    file-source readStream of the materialized pages table, drained with
    an availableNow trigger into a memory sink. Byte identity must hold
    stream-side too (north_rule: the job is restartable/incremental —
    new WARC files arrive, the stream picks them up)."""
    import uuid

    from .operators.extract import with_extraction
    from .schema import PAGES_SCHEMA
    from .sources.pages import materialize_pages

    pages_path = materialize_pages(spark, sf_dir)
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_path)
    out = with_extraction(stream).select(
        pages_src.doc_id_from_url().alias("doc_id"),
        "extracted_text",
        "n_spans",
    )
    name = f"stream_extract_{uuid.uuid4().hex[:10]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _events_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Signature-keyed /tmp copy of ``events`` for readStream (which
    needs a listable directory). Keyed on the resolved sf_dir path plus
    every parquet part's (relpath, size, mtime) — the same
    versioned-cache discipline as text_queries._docs_signature — so a
    rebuilt source or a basename collision can never reuse a stale
    copy."""
    import hashlib
    import os

    src = os.path.join(sf_dir, "events.parquet")
    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    if os.path.isdir(src):
        for root, _dirs, files in sorted(os.walk(src)):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                rel = os.path.relpath(os.path.join(root, f), src)
                h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}".encode())
    elif os.path.exists(src):
        st = os.stat(src)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    events_dir = f"/tmp/spark_graft_events/{h.hexdigest()[:16]}"
    if not os.path.exists(events_dir + "/_SUCCESS"):
        spark.read.parquet(src).write.mode("overwrite").parquet(events_dir)
    return events_dir


@register(
    "streaming_window_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation under Structured
    Streaming (late data tolerated 1 h), drained with availableNow into
    a complete-mode memory sink — must equal the batch hourly rollup."""
    import uuid

    from .streaming.stream import streaming_event_counts

    agg = streaming_event_counts(
        spark, _events_stream_dir(spark, sf_dir), F.window("ts", "1 hour")
    )
    name = f"stream_windows_{uuid.uuid4().hex[:10]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "streaming_sliding_windows",
    # each event lands in exactly TWO overlapping 10-min/5-min windows:
    # its own 5-min bucket's window and the one starting 5 min earlier
    # (both epoch-aligned, matching Spark's window() alignment)
    """
    WITH b AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket, event_type, value
      FROM events),
    w AS (
      SELECT bucket AS wstart, event_type, value FROM b
      UNION ALL
      SELECT bucket - INTERVAL '5 minutes', event_type, value FROM b)
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
    FROM w GROUP BY 1, 2
    """,
)
def streaming_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING-window aggregation under Structured
    Streaming: 10-minute windows every 5 minutes, so each event counts
    in two overlapping windows — the trailing-rate-monitor shape
    (requests per trailing 10 min refreshed every 5) that tumbling
    windows cannot express. Late data tolerated 1 h; drained with
    availableNow into a complete-mode memory sink; must equal the batch
    double-assignment rollup (the oracle states the two-window
    membership closed-form). Completes the Structured Streaming
    surface: extract / tumbling / SLIDING / sessions / keyed state /
    stream-static / stream-stream."""
    import uuid

    from .streaming.stream import streaming_event_counts

    agg = streaming_event_counts(
        spark, _events_stream_dir(spark, sf_dir), F.window("ts", "10 minutes", "5 minutes")
    )
    name = f"stream_sliding_{uuid.uuid4().hex[:10]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@register(
    "streaming_stateful_dedup",
    # every page appears twice in the stream input; keyed first-seen
    # state must emit each content hash exactly once with n=2
    """
    SELECT doc_id, CAST(2 AS INT) AS n_occurrences FROM documents
    """,
)
def streaming_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    first-seen dedup keyed on content hash over a stream containing every
    page twice — one emitted row per hash, occurrence count from keyed
    state. Drained with availableNow into a memory sink."""
    import os
    import uuid

    from .schema import PAGES_SCHEMA
    from .sources.pages import materialize_pages, materialized_path
    from .streaming.dedup_stream import stream_dedup_first_seen

    base = materialize_pages(spark, sf_dir)
    ddir = materialized_path("/tmp/spark_graft_stream_dedup", sf_dir)
    if not os.path.exists(ddir + "/_SUCCESS"):
        pages = spark.read.parquet(base)
        pages.write.mode("overwrite").parquet(ddir)
        pages.write.mode("append").parquet(ddir)
    # force a single micro-batch: _dedup_fn emits first-seen rows with
    # the count observed SO FAR, so the n=2 oracle requires both copies
    # of a page to arrive together (availableNow otherwise honors source
    # batch limits and could split the directory)
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1_000_000)
        .parquet(ddir)
    )
    out = stream_dedup_first_seen(stream)
    name = f"stream_dedup_{uuid.uuid4().hex[:10]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        pages_src.doc_id_from_url().alias("doc_id"),
        "n_occurrences",
    )


@register(
    "pipeline_checkbox_extract",
    # checkbox counts are closed-form in doc_id (sources/pages.py:
    # doc_id % 6 inputs on html pages, checkbox i checked iff
    # (doc_id + i) % 3 == 0); pdf/json/hocr/textract dialects carry none
    """
    SELECT doc_id,
           CASE WHEN doc_id % 5 IN (1, 3, 4) OR doc_id % 10 = 7 THEN 0
                ELSE len(list_filter(range(0, doc_id % 6), i -> (doc_id + i) % 3 = 0))
           END AS n_checked,
           CASE WHEN doc_id % 5 IN (1, 3, 4) OR doc_id % 10 = 7 THEN 0
                ELSE len(list_filter(range(0, doc_id % 6), i -> (doc_id + i) % 3 <> 0))
           END AS n_unchecked
    FROM documents
    """,
)
def pipeline_checkbox_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkbox-detector merge path (reference
    google_document_ocr_checkbox_detector.py:54-124 +
    google_azure_ocr.py:176-193): aux ☑/☐ spans detected from the page,
    merged via suppress-then-merge; glyph counts per document verified
    against the generator's closed form."""
    from .operators.extract import extract_documents_fused

    out = extract_documents_fused(spark, sf_dir, mode="aux")
    toks = F.split(F.col("extracted_text"), " ")
    return out.select(
        "doc_id",
        F.size(F.filter(toks, lambda x: x == "☑")).cast("long").alias("n_checked"),
        F.size(F.filter(toks, lambda x: x == "☐")).cast("long").alias("n_unchecked"),
    )


@register(
    "pipeline_qr_extract",
    # QR carriers: html pages (doc_id % 5 not in (1,3,4)) with doc_id % 4 == 2
    # embed one code; the aux detector must decode it to TYPE[[DATA]]
    """
    SELECT doc_id, 'QRCODE[[DOC' || doc_id || ']]' AS qr_text
    FROM documents
    WHERE doc_id % 4 = 2 AND doc_id % 5 NOT IN (1, 3, 4)
    """,
)
def pipeline_qr_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QR/barcode span decoding through the aux merge (reference C11:
    TYPE[[DATA]] spans at confidence 1.0, test_google_azure_ocr.py:65-82).
    The decoded span must appear in the assembled text with the exact
    generator payload."""
    from .operators.extract import extract_documents_fused

    out = extract_documents_fused(spark, sf_dir, mode="aux")
    toks = F.split(F.col("extracted_text"), " ")
    codes = F.filter(toks, lambda x: x.rlike(r"^[A-Z0-9]+\[\[.*\]\]$"))
    return (
        out.withColumn("_codes", codes)
        .filter(F.size("_codes") > 0)
        .select("doc_id", F.element_at("_codes", 1).alias("qr_text"))
    )


def _host_oracle() -> str:
    # same Knuth-hash + Zipf-cdf mapping as sources/pages.py host_for_doc
    return f"""
    WITH hosted AS (
      SELECT doc_id,
             len(list_filter({{cdf}},
                 c -> c < ({_DOC_U_SQL})))
             AS host_idx
      FROM documents)
    SELECT concat('host', lpad(CAST(host_idx AS VARCHAR), 2, '0'), '.example.com') AS host,
           count(*) AS n_docs
    FROM hosted GROUP BY host_idx
    """


@register("pipeline_host_stats", _host_oracle())
def pipeline_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf host distribution via the two-phase salted aggregation
    (skew-safe groupBy; SURVEY.md §2.11)."""
    return salted_host_counts(_pages(spark, sf_dir))


@register(
    "pipeline_tilt_histogram",
    # tilt variants: pdf docs with (doc_id//5)%2==1 get grid index
    # 8 + (doc_id//5)%5; angle = atan(grid[idx]) in degrees, rounded.
    # The oracle recomputes the grid analytically: grid[i] =
    # -tan(11deg) + i * (2*tan(11deg)/20).
    """
    WITH expected AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 3 AND (doc_id // 5) % 2 = 1 AND text <> ''
                  THEN round(degrees(atan(
                       -tan(radians(11)) + (8 + (doc_id // 5) % 5)
                       * (2 * tan(radians(11)) / 20))), 4)
                  ELSE 0.0 END AS tilt_deg
      FROM documents)
    SELECT tilt_deg, count(*) AS n_docs FROM expected GROUP BY tilt_deg
    """,
)
def pipeline_tilt_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detected tilt angles (reading-order kernel scan) aggregated into a
    histogram; cross-checked against the analytically expected angles."""
    from .operators.extract import extract_documents_fused

    result = extract_documents_fused(spark, sf_dir)
    return (
        result.select(F.round(F.col("tilt_angle"), 4).alias("tilt_deg"))
        .groupBy("tilt_deg")
        .agg(F.count("*").alias("n_docs"))
    )


__all__ = ["QUERIES", "ORACLES"]


@register(
    "pipeline_spans_integrity",
    """
    SELECT count(*) AS n_docs, 0 AS n_mismatch FROM documents
    """,
)
def pipeline_spans_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-column integrity: re-assembling the ordered span texts with
    the pure-JVM expression must reproduce extracted_text for every
    document — i.e. the spans array carries the full ordered content,
    not just the concatenated string."""
    from .operators.extract import assemble_text_col

    result = run_extraction(spark, _pages(spark, sf_dir))
    checked = result.select(
        (assemble_text_col(F.col("spans")) == F.col("extracted_text")).alias("ok")
    )
    return checked.agg(
        F.count("*").alias("n_docs"),
        F.sum((~F.col("ok")).cast("int")).cast("int").alias("n_mismatch"),
    )


@register(
    "host_profile_grouped_map",
    _host_oracle().replace(
        "count(*) AS n_docs",
        "count(*) AS n_docs, round(avg(length(text)), 4) AS avg_chars",
    ).replace("FROM hosted GROUP BY host_idx", """FROM hosted JOIN documents USING (doc_id)
    GROUP BY host_idx"""),
)
def host_profile_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map (applyInPandas) per-host profile: each host's pages
    arrive as one pandas frame (numpy aggregation inside). The grouped-map
    API is the shape for per-group kernels that need the whole group in
    memory — here a simple profile, at scale e.g. per-host layout model
    fitting. Skewed hosts are why the default path is salted built-in
    aggs (pipeline_host_stats); this exposes the API with the same oracle
    family."""
    import pandas as pd

    from .plans.partitioning import host_of

    pages = _pages(spark, sf_dir).select(
        host_of(F.col("url")).alias("host"), F.length("text").alias("n_chars")
    )

    def profile(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        return pd.DataFrame(
            {
                "host": [pdf["host"].iloc[0]],
                "n_docs": [len(pdf)],
                "avg_chars": [round(float(np.mean(pdf["n_chars"].to_numpy(dtype="float64"))), 4)],
            }
        )

    return pages.groupBy("host").applyInPandas(
        profile, schema="host string, n_docs long, avg_chars double"
    )


# ---------------------------------------------------------------------------
# anchor-text mining over the RAW html payloads
# ---------------------------------------------------------------------------

# build_html's boilerplate LCG (sources/pages.py build_html): the nav and
# footer link walls are deterministic in doc_id, so the oracle recomputes
# the anchor multiset from `documents` alone — DuckDB does the 64-bit
# multiply in HUGEINT and reduces mod 2^63 exactly like Python's % on
# non-negative ints.
_RNG63_SQL = (
    "CAST((CAST(doc_id AS HUGEINT) * 6364136223846793005 + 1442695040888963407)"
    " % 9223372036854775808 AS BIGINT)"
)
_NAV_LITS = ", ".join(f"'{w}'" for w in pages_src._BOILER_NAV)
_FOOT_LITS = ", ".join(f"'{w}'" for w in pages_src._BOILER_FOOT)
# the html dialect slice: doc_id % 5 in (0, 2) minus the Textract carve-out
_HTML_SLICE_SQL = pages_src.HTML_SLICE_SQL


@register(
    "html_anchor_stats",
    f"""
    WITH h AS (
      SELECT doc_id, {_RNG63_SQL} AS rng
      FROM documents WHERE {_HTML_SLICE_SQL}),
    words AS (
      SELECT doc_id, w
      FROM h, unnest(list_slice([{_NAV_LITS}], 1, CAST(3 + rng % 5 AS INT))) AS n(w)
      UNION ALL
      SELECT doc_id, w
      FROM h, unnest(list_slice([{_FOOT_LITS}], 1, CAST(3 + rng % 3 AS INT))) AS f(w))
    SELECT w AS anchor, count(*) AS n_links, count(DISTINCT doc_id) AS n_docs
    FROM words GROUP BY w
    """,
)
def html_anchor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text mining over the RAW html payloads — the link-indexing
    step of a crawl pipeline (anchor terms feed search relevance and the
    link graph), run against the bytes the extractor itself reads, not a
    derived column: decode the html binary, regexp-extract every
    ``<a href="/word">`` target, aggregate per anchor term.

    Scale shape: decode + regexp_extract_all + explode are narrow JVM
    expressions over the page scan (no Python, no pre-shuffle); the one
    exchange keys on the anchor term and is map-side combined down to
    the boilerplate vocabulary size. Parquet pushdown prunes to the
    html column + url. The oracle cross-checks the whole chain —
    payload bytes, UTF-8 decode, regex — against the generator's
    closed-form LCG, so a single flipped byte in any nav/footer wall
    fails the hash."""
    from .sources.pages import materialize_pages

    pages = spark.read.parquet(materialize_pages(spark, sf_dir))
    doc_id = pages_src.doc_id_from_url()
    html_pages = pages.select(
        doc_id.alias("doc_id"), F.col("html").cast("string").alias("page")
    ).filter(pages_src.html_slice_filter(F.col("doc_id")))
    anchors = html_pages.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all("page", F.lit(r'<a href="/([a-z]+)">'), F.lit(1))
        ).alias("anchor"),
    )
    return anchors.groupBy("anchor").agg(
        F.count("*").alias("n_links"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# WET-style conversion records over the extraction chain
# ---------------------------------------------------------------------------

# the page-url anatomy (sources/pages.py build_page_rows), recomputed
# closed-form: Zipf host + lang + zero-padded-but-widening doc id + the
# dialect extension
_PAD10_SQL = (
    "concat(repeat('0', greatest(0, 10 - length(CAST(doc_id AS VARCHAR)))),"
    " CAST(doc_id AS VARCHAR))"
)
_EXT_SQL = """
    CASE WHEN doc_id % 5 = 3 THEN 'pdf'
         WHEN doc_id % 5 = 1 THEN 'json'
         WHEN doc_id % 5 = 4 THEN 'hocr'
         WHEN doc_id % 10 = 7 THEN 'textract' ELSE 'html' END
"""
_WET_HEADER = "WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "
# the same header as a DuckDB e-string body (literal \r\n escapes)
_WET_HEADER_E = _WET_HEADER.replace("\r", "\\r").replace("\n", "\\n")


@register(
    "wet_export_digest",
    f"""
    WITH hosted AS (
      SELECT doc_id, text, lang,
             len(list_filter({{cdf}},
                 c -> c < ({_DOC_U_SQL})))
             AS host_idx
      FROM documents),
    u AS (
      SELECT doc_id, text,
             concat('https://host', lpad(CAST(host_idx AS VARCHAR), 2, '0'),
                    '.example.com/', lang, '/', {_PAD10_SQL}, '.', {_EXT_SQL}) AS url
      FROM hosted)
    SELECT doc_id, url,
           CAST(length(text) AS BIGINT) AS content_length,
           md5(concat(e'{_WET_HEADER_E}', url,
                      e'\\r\\nContent-Length: ', CAST(length(text) AS VARCHAR),
                      e'\\r\\n\\r\\n', text)) AS record_md5
    FROM u
    """,
)
def wet_export_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET-style conversion records (the Common Crawl text derivative):
    every page becomes a ``WARC-Type: conversion`` record — target URI,
    Content-Length, then the EXTRACTED text — and the query emits each
    record's length header plus an md5 digest of the full record bytes.
    A consumer of CC WET files gets the same per-url record layout from
    this engine; the digest makes the check end-to-end byte-exact
    through url synthesis AND the whole extraction chain (boilerplate
    strip / PDF parse / rotation / reading order), not just the text
    column.

    Scale shape: one narrow map over the fused extraction output (url
    and text never leave the executor between extraction and digest; no
    shuffle at all — the record assembly is pure JVM concat + md5). The
    oracle recomputes the url closed-form (Zipf host cdf + widening id
    pad) and the record digest from `documents`, so a single byte of
    drift anywhere in the chain fails the hash."""
    from .operators.extract import extract_documents_fused

    result = extract_documents_fused(spark, sf_dir)
    rec = F.concat(
        F.lit(_WET_HEADER),
        F.col("url"),
        F.lit("\r\nContent-Length: "),
        F.length("extracted_text").cast("string"),
        F.lit("\r\n\r\n"),
        F.col("extracted_text"),
    )
    return result.select(
        "doc_id",
        "url",
        F.length("extracted_text").cast("long").alias("content_length"),
        F.md5(rec).alias("record_md5"),
    )


# ---------------------------------------------------------------------------
# text-density profile over the RAW html payloads
# ---------------------------------------------------------------------------

_ADS_LITS = ", ".join(f"'{w}'" for w in pages_src._BOILER_ADS)


@register(
    "html_text_density",
    f"""
    WITH h AS (
      SELECT doc_id, text, {_RNG63_SQL} AS rng,
             CASE WHEN text = '' THEN 0 ELSE len(str_split(text, ' ')) END AS n
      FROM documents WHERE {_HTML_SLICE_SQL}),
    m AS (
      SELECT doc_id, text, n,
             CASE WHEN n = 0 THEN 0
                  WHEN (n + 39) // 40 > 1 AND (n % 40) BETWEEN 1 AND 14
                  THEN (n + 39) // 40 - 1
                  ELSE (n + 39) // 40 END AS n_paras,
             len(array_to_string(list_slice([{_NAV_LITS}], 1,
                 CAST(3 + rng % 5 AS INT)), ''))
               + {4 * len("site")}
               + len(array_to_string(list_slice([{_FOOT_LITS}], 1,
                 CAST(3 + rng % 3 AS INT)), '')) AS anchor_chars,
             len(([{_ADS_LITS}])[CAST(rng % 4 AS INT) + 1]) AS ad_chars
      FROM h)
    SELECT doc_id,
           CAST(n_paras AS BIGINT) AS n_paras,
           CAST(CASE WHEN n = 0 THEN 0
                     ELSE length(text) - (n_paras - 1) END AS BIGINT) AS content_chars,
           CAST(anchor_chars AS BIGINT) AS anchor_chars,
           CAST(ad_chars AS BIGINT) AS ad_chars,
           CAST(anchor_chars * 1000000 //
                (anchor_chars + ad_chars +
                 CASE WHEN n = 0 THEN 0 ELSE length(text) - (n_paras - 1) END)
                AS BIGINT) AS link_density_ppm
    FROM m
    """,
)
def html_text_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page text-density / link-density profile over the RAW html
    bytes — the diagnostic view of the exact signal the boilerplate
    strip keys on (north rule: "HTML boilerplate stripping via
    text-density DOM heuristics"): paragraph count, main-content chars,
    anchor-text chars (nav wall + outlinks + footer), ad chars, and the
    page-level link-density in integer ppm. Production use: corpus-wide
    chrome-share monitoring and per-template threshold tuning for the
    density cut.

    Scale shape: three regexp_extract_all passes + array_join lengths,
    all JVM expressions inside one narrow projection of the page scan
    (ReadSchema prunes to url+html); NO shuffle — the profile is
    per-row. The oracle recomputes every count closed-form from the
    generator's LCG, so the check covers payload bytes, UTF-8 decode,
    and the regex semantics end to end."""
    from .sources.pages import materialize_pages

    pages = spark.read.parquet(materialize_pages(spark, sf_dir))
    doc_id = pages_src.doc_id_from_url()
    html_pages = pages.select(
        doc_id.alias("doc_id"), F.col("html").cast("string").alias("page")
    ).filter(pages_src.html_slice_filter(F.col("doc_id")))
    paras = F.regexp_extract_all("page", F.lit(r"<p>([^<]*)</p>"), F.lit(1))
    anchors = F.regexp_extract_all("page", F.lit(r'<a href="[^"]*">([^<]*)</a>'), F.lit(1))
    ad = F.regexp_extract("page", r'<aside class="ad">([^<]*)</aside>', 1)
    profiled = html_pages.select(
        "doc_id",
        F.size(paras).cast("long").alias("n_paras"),
        F.length(F.array_join(paras, "")).cast("long").alias("content_chars"),
        F.length(F.array_join(anchors, "")).cast("long").alias("anchor_chars"),
        F.length(ad).cast("long").alias("ad_chars"),
    )
    return profiled.withColumn(
        "link_density_ppm",
        F.expr("anchor_chars * 1000000 div (anchor_chars + ad_chars + content_chars)"),
    )


# ---------------------------------------------------------------------------
# extraction-quality eval: block verdicts vs generator ground truth
# ---------------------------------------------------------------------------


@register(
    "extraction_block_eval",
    # closed-form ground truth from the page generator (build_html): a
    # page segments into exactly 1 title + (3 + rng%5) nav links +
    # 4 outlink anchors + 1 header + 1 ad + n_paras paragraphs +
    # 1 footer nonzero-text blocks = 11 + rng%5 + n_paras, of which the
    # verdict heuristic must keep exactly the paragraphs (every other
    # block is either < MIN_BLOCK_CHARS or above MAX_LINK_DENSITY).
    # n_paras is the generator's 40-word / 15-word-tail-merge chunking
    # (sources/pages.py _paragraphs), same formula as html_text_density.
    f"""
    WITH h AS (
      SELECT doc_id, {_RNG63_SQL} AS rng,
             len(list_filter({{cdf}}, c -> c < ({_DOC_U_SQL}))) AS host_idx,
             CASE WHEN text = '' THEN 0 ELSE len(str_split(text, ' ')) END AS n
      FROM documents WHERE {_HTML_SLICE_SQL}),
    m AS (
      SELECT host_idx, rng % 5 AS nav_extra,
             CASE WHEN n = 0 THEN 0
                  WHEN (n + 39) // 40 > 1 AND (n % 40) BETWEEN 1 AND 14
                  THEN (n + 39) // 40 - 1
                  ELSE (n + 39) // 40 END AS n_paras
      FROM h),
    g AS (
      SELECT host_idx,
             CAST(count(*) AS BIGINT) AS n_pages,
             CAST(sum(11 + nav_extra + n_paras) AS BIGINT) AS n_blocks,
             CAST(sum(n_paras) AS BIGINT) AS tp,
             CAST(sum(11 + nav_extra) AS BIGINT) AS tn
      FROM m GROUP BY host_idx)
    SELECT concat('host', lpad(CAST(host_idx AS VARCHAR), 2, '0'),
                  '.example.com') AS host,
           n_pages, n_blocks,
           tp AS n_content, tp AS n_main,
           tp, CAST(0 AS BIGINT) AS fp, CAST(0 AS BIGINT) AS fn, tn,
           1000000 * tp // nullif(tp, 0) AS precision_ppm,
           1000000 * tp // nullif(tp, 0) AS recall_ppm
    FROM g
    """,
)
def extraction_block_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction-quality eval — the trafilatura-benchmark shape run as
    a corpus query: per host, the block-level confusion matrix of the
    boilerplate strip's verdicts against the generator's known main
    content. MEASURED on the Spark side (kernels/html_extract.py
    analyze_blocks traces every keep/drop decision of the real
    extractor; emitted blocks are multiset-matched against the ground-
    truth paragraph chunking of the `text` column), recomputed
    CLOSED-FORM by the oracle from the page template's LCG — so any
    drift in the density thresholds, the block segmentation regex, or
    the run-selection logic flips a verdict somewhere and fails the
    value hash, with per-host precision/recall ppm as the operator
    dashboard a production extraction tier would alarm on.

    Taxonomy (per page, over nonzero-text blocks): tp = emitted blocks
    matching a ground-truth paragraph (multiset intersection), fp =
    emitted minus tp, fn = ground-truth paragraphs minus tp, tn = the
    rest — boilerplate correctly excluded.

    Scale shape at 10^12 pages: one Arrow-batched mapInPandas over the
    (url, html, text) projection emits ONE narrow int row per page; the
    only exchange is the ~|hosts|-cardinality groupBy with map-side
    combine. No collect, no skew exposure (per-page work is O(page),
    the agg key is the host but the per-host state is 8 counters)."""
    import pandas as pd

    from .kernels.html_extract import analyze_blocks
    from .sources.pages import _host_name, materialize_pages

    pages = spark.read.parquet(materialize_pages(spark, sf_dir))
    doc_id = pages_src.doc_id_from_url()
    html_pages = pages.select(
        doc_id.alias("doc_id"),
        F.col("html"),
        F.col("text"),
    ).filter(pages_src.html_slice_filter(F.col("doc_id")))

    def eval_batches(it):
        from collections import Counter

        from .sources.pages import _paragraphs, host_for_doc

        for pdf in it:
            hosts = host_for_doc(pdf["doc_id"].to_numpy(dtype="int64"))
            out = {
                k: []
                for k in (
                    "host_idx", "n_blocks", "n_content", "n_main", "tp", "fp", "fn", "tn",
                )
            }
            for host_idx, html, text in zip(hosts, pdf["html"], pdf["text"]):
                blocks = analyze_blocks(html)
                emitted = [t for (t, _, _, c, m) in blocks if c and m]
                gt = (
                    [" ".join(p) for p in _paragraphs(text.split(" "))] if text else []
                )
                tp = sum((Counter(emitted) & Counter(gt)).values())
                fp = len(emitted) - tp
                fn = len(gt) - tp
                out["host_idx"].append(int(host_idx))
                out["n_blocks"].append(len(blocks))
                out["n_content"].append(sum(1 for b in blocks if b[3]))
                out["n_main"].append(len(emitted))
                out["tp"].append(tp)
                out["fp"].append(fp)
                out["fn"].append(fn)
                out["tn"].append(len(blocks) - tp - fp - fn)
            yield pd.DataFrame(out)

    per_doc = html_pages.mapInPandas(
        eval_batches,
        schema=(
            "host_idx long, n_blocks long, n_content long, n_main long,"
            " tp long, fp long, fn long, tn long"
        ),
    )
    agg = per_doc.groupBy("host_idx").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.sum("n_blocks").cast("long").alias("n_blocks"),
        F.sum("n_content").cast("long").alias("n_content"),
        F.sum("n_main").cast("long").alias("n_main"),
        F.sum("tp").cast("long").alias("tp"),
        F.sum("fp").cast("long").alias("fp"),
        F.sum("fn").cast("long").alias("fn"),
        F.sum("tn").cast("long").alias("tn"),
    )
    return agg.select(
        _host_name().alias("host"),
        "n_pages", "n_blocks", "n_content", "n_main", "tp", "fp", "fn", "tn",
        F.expr("1000000 * tp div nullif(tp + fp, 0)").alias("precision_ppm"),
        F.expr("1000000 * tp div nullif(tp + fn, 0)").alias("recall_ppm"),
    )



@register(
    "extraction_robustness_matrix",
    f"""
    SELECT m.mutation,
           CAST(count(*) AS BIGINT) AS n_pages,
           CAST(count(*) AS BIGINT) AS n_survived,
           CAST(0 AS BIGINT) AS n_changed
    FROM documents,
         (VALUES ('attr_noise'), ('comment_noise'), ('entity_spaces'),
                 ('tag_case'), ('ws_inject')) AS m(mutation)
    WHERE {_HTML_SLICE_SQL}
    GROUP BY m.mutation
    """,
)
def extraction_robustness_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extractor robustness matrix: re-extract every html page under
    five deterministic, semantics-preserving markup mutations
    (kernels/html_extract.py PAGE_MUTATIONS — tag-case flip, whitespace
    injection, tracker comments, attribute noise, entity-encoded
    spaces; each probes one documented kernel contract) and count
    byte-identity survival per mutation. The oracle expects 100%
    survival, so a regression in ANY of the probed behaviors —
    IGNORECASE matching, whitespace collapse, comment strip before
    segmentation, attribute tolerance, entity decode order — flips
    n_survived/n_changed and fails the driver hash. This is the
    markup-drift insurance a Common-Crawl extraction tier needs: real
    crawls re-encounter the same page under endless cosmetic variation.

    Scale shape: one mapInPandas pass over (url, html, text) emits
    per-BATCH partial counts (5 rows per Arrow batch), so the only
    exchange carries ~5 x n_partitions tiny rows into a 5-group final
    agg. At 10^12 pages this runs on the ingest sample tier, not the
    full corpus — the matrix is a contract probe, not a per-page
    transform."""
    import pandas as pd

    from .kernels.html_extract import PAGE_MUTATIONS, extract_main_text
    from .sources.pages import materialize_pages

    pages = spark.read.parquet(materialize_pages(spark, sf_dir))
    doc_id = pages_src.doc_id_from_url()
    html_pages = pages.select(
        doc_id.alias("doc_id"), F.col("html"), F.col("text")
    ).filter(pages_src.html_slice_filter(F.col("doc_id")))

    names = sorted(PAGE_MUTATIONS)

    def mut_batches(it):
        for pdf in it:
            n = len(pdf)
            surv = {k: 0 for k in names}
            for html, text in zip(pdf["html"], pdf["text"]):
                page = (
                    html.decode("utf-8", errors="replace")
                    if isinstance(html, (bytes, bytearray))
                    else html
                )
                for name in names:
                    if extract_main_text(PAGE_MUTATIONS[name](page)) == text:
                        surv[name] += 1
            yield pd.DataFrame(
                {
                    "mutation": names,
                    "n_pages": [n] * len(names),
                    "n_survived": [surv[k] for k in names],
                }
            )

    partials = html_pages.mapInPandas(
        mut_batches, schema="mutation string, n_pages long, n_survived long"
    )
    agg = partials.groupBy("mutation").agg(
        F.sum("n_pages").cast("long").alias("n_pages"),
        F.sum("n_survived").cast("long").alias("n_survived"),
    )
    return agg.withColumn(
        "n_changed", (F.col("n_pages") - F.col("n_survived")).cast("long")
    )


@register(
    "streaming_dropdup_watermark",
    # the stream input carries every event twice (second copy ts+10s,
    # well inside the 1h watermark); the built-in watermark-bounded
    # dedup state must emit each event_id exactly once, and only the
    # columns identical across both copies are returned, so ANY
    # surviving copy hashes the same
    """
    SELECT event_id, user_id, event_type FROM events
    """,
)
def streaming_dropdup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in watermark-bounded streaming dedup
    (``dropDuplicatesWithinWatermark``, Spark 3.5+): the idiomatic
    state-store twin of streaming_stateful_dedup's hand-rolled
    applyInPandasWithState operator — same first-seen-per-key contract,
    but the state lifecycle (insert on first sight, EVICT once the
    event-time watermark passes the key's last-seen + delay) is owned
    by Spark's state store instead of user code, which is exactly what
    a production exactly-once ingest dedup wants: bounded state at any
    stream length, no custom timeout bookkeeping. The eighth streaming
    surface (extract / tumbling / sliding / sessions / keyed-state /
    stream-static / stream-stream watermark join / built-in
    watermark dedup).

    The planted input doubles every event with its second copy shifted
    +10 s in event time — a real late-duplicate, well inside the 1 h
    watermark delay, so the dedup MUST drop it (not merely may); which
    copy survives is engine-chosen, so the query returns only the
    columns byte-identical across copies (event_id, user_id,
    event_type) and the oracle is the plain events table.

    Scale shape: dedup state is hash-partitioned on event_id across
    the cluster exactly like any keyed stream aggregation; state size
    is bounded by (keys live within one watermark), not stream length
    — the property the hand-rolled variant only gets by writing its
    own eviction. Drained with availableNow into a memory sink."""
    import os
    import uuid

    base = _events_stream_dir(spark, sf_dir)
    ddir = base.rstrip("/") + "_dup10s"
    if not os.path.exists(ddir + "/_SUCCESS"):
        ev = spark.read.parquet(base)
        ev.write.mode("overwrite").parquet(ddir)
        ev.withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 10 SECONDS")
        ).write.mode("append").parquet(ddir)
    schema = spark.read.parquet(ddir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1_000_000)
        .parquet(ddir)
    )
    # watermarks require TIMESTAMP (ltz); events parquet is ntz — session
    # TZ is pinned UTC so the cast is deterministic (streaming/stream.py)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    name = f"stream_dropdup_{uuid.uuid4().hex[:10]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)
