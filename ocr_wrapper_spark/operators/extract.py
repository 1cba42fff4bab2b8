"""Extraction operators: the main Arrow UDF chain (SURVEY.md §2.12).

The heavy per-document logic lives in kernels/extract_doc.py; this module
is only the Arrow plumbing. ``_extract_columns`` is the one batch loop:
it runs an extraction kernel (sniff -> branch extract -> normalize ->
rotate -> date-split -> order -> assemble) once over one Arrow batch, so
the reading-order sort runs batch-at-a-time, and returns the extraction
columns as native Arrow arrays, avoiding span-array serialization between
stages (the reference's §3.1 chain is per-doc sequential anyway, so
fusing loses no parallelism and saves Arrow round trips at 10^12-row
scale). Both operators are mapInArrow stages
over it: ``with_extraction`` reads a pages table, and
``extract_documents_fused`` synthesizes the pages from documents in the
same batch. The extraction mode is resolved to its kernel
(kernels/extract_doc.EXTRACTORS) once, on the driver, when the plan is
built, so an unknown mode fails before any job runs.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.extract_doc import EXTRACTORS
from ..schema import EXTRACT_STRUCT, SPAN_COLUMNS


class InvalidExtractorException(ValueError):
    """Unknown extractor name (reference InvalidOcrProviderException)."""


def _kernel(mode: str):
    """Extraction mode -> kernel, or InvalidExtractorException."""
    kernel = EXTRACTORS.get(mode)
    if kernel is None:
        raise InvalidExtractorException(
            f"Unknown extraction mode {mode!r}; valid: {sorted(EXTRACTORS)}"
        )
    return kernel


def _extract_columns(kernel, payloads, langs, texts, with_spans: bool = True) -> dict:
    """One batch of documents through one call of the batch ``kernel``
    -> {field: Arrow array} in EXTRACT_STRUCT order (``spans`` left out
    when ``with_spans`` is false).

    Builds the span list<struct> column zero-copy from numpy buffers
    (8 coord children of the kernel's (total_spans, 8) span table,
    ``Extracted.spans``) instead of per-span Python dicts — this is the
    serialization hot path at 10^12 rows."""
    import pyarrow as pa

    results = kernel(payloads, langs, texts)
    n = len(results)
    offsets = np.zeros(n + 1, dtype=np.int32)
    text_col: list[str] = []
    rot_col = np.zeros(n, dtype=np.int32)
    tilt_col = np.zeros(n, dtype=np.float64)
    prov_col: list[str] = []
    err_col: list[str | None] = []
    ms_col = np.zeros(n, dtype=np.float64)
    for i, res in enumerate(results):
        ms_col[i] = res.extract_ms
        offsets[i + 1] = offsets[i] + len(res.texts)
        text_col.append(res.extracted_text)
        rot_col[i] = res.rotation
        tilt_col[i] = res.tilt_angle
        prov_col.append(res.provider)
        err_col.append(res.error)

    cols = {}
    if with_spans:
        # the batch's spans end to end, in document order: one table
        coords, flat_texts, flat_conf = results.spans
        total = int(offsets[-1])
        children = [pa.array(np.ascontiguousarray(coords[:, j])) for j in range(8)]
        children.append(pa.array(np.zeros(total, dtype=bool)))  # in_pixels
        children.append(pa.array(flat_texts, type=pa.string()))
        children.append(pa.nulls(total, pa.string()))  # label
        children.append(pa.array(flat_conf))
        span_struct = pa.StructArray.from_arrays(children, names=SPAN_COLUMNS)
        cols["spans"] = pa.ListArray.from_arrays(pa.array(offsets), span_struct)
    cols["extracted_text"] = pa.array(text_col, type=pa.string())
    cols["doc_rotation"] = pa.array(rot_col)
    cols["tilt_angle"] = pa.array(tilt_col)
    cols["n_spans"] = pa.array(np.diff(offsets))
    cols["provider"] = pa.array(prov_col, type=pa.string())
    cols["error"] = pa.array(err_col, type=pa.string())
    cols["extract_ms"] = pa.array(ms_col)
    return cols


def with_extraction(df, mode: str = "single", text_col: str | None = None):
    """Extraction via mapInArrow over a pages table (``html`` payload,
    ``lang``): non-payload input columns pass through zero-copy,
    extraction columns appended as native Arrow arrays.

    ``mode`` names the kernel (kernels/extract_doc.EXTRACTORS);
    ``text_col`` is the provider text column that the ``dual`` kernel
    enriches the primary extraction with. The html payload and the
    provider text column are dropped on output: every output column is
    Arrow-decoded and row-converted again JVM-side, the payload is the
    widest column by far, and downstream consumers (cache, results,
    metrics) never need it."""
    import pyarrow as pa

    kernel = _kernel(mode)
    names = df.schema.fieldNames()
    html_idx = names.index("html")
    lang_idx = names.index("lang")
    text_idx = names.index(text_col) if text_col else None

    drop = {"html", text_col}
    kept = [(i, f) for i, f in enumerate(df.schema.fields) if f.name not in drop]
    out_schema = T.StructType([f for _, f in kept] + EXTRACT_STRUCT.fields)
    out_names = out_schema.fieldNames()
    kept_idx = [i for i, _ in kept]

    def op(batches):
        for batch in batches:
            texts = (batch.column(text_idx).to_pylist() if text_idx is not None
                     else [None] * batch.num_rows)
            cols = _extract_columns(
                kernel, batch.column(html_idx).to_pylist(), batch.column(lang_idx).to_pylist(), texts
            )
            arrays = [batch.column(i) for i in kept_idx] + list(cols.values())
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return df.mapInArrow(op, schema=out_schema)


def extract_documents_fused(spark, sf_dir: str, mode: str = "single", docs_filter=None):
    """documents.parquet -> extraction results in ONE Python stage:
    page synthesis (test scaffolding) and extraction run in the same
    Arrow batch, skipping the intermediate pages hop and the span-array
    serialization (correctness queries don't read spans).

    ``docs_filter`` (optional Column predicate) is applied BEFORE the
    repartition so slice queries push it into the parquet scan instead
    of extracting everything and discarding 90% afterwards.

    Production reads a real pages table (see plans/pipeline.py); this is
    the fast path for the documents-derived correctness/bench queries.
    """
    import pyarrow as pa

    kernel = _kernel(mode)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if docs_filter is not None:
        docs = docs.filter(docs_filter)
    docs = docs.select("doc_id", "text", "lang").repartition(
        spark.sparkContext.defaultParallelism * 2, "doc_id"
    )
    fields = [f for f in EXTRACT_STRUCT.fields if f.name not in ("spans", "extract_ms")]
    out_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("url", T.StringType())] + fields
    )
    out_names = out_schema.fieldNames()

    def op(batches):
        # page synthesis is pandas: imported here, in the worker, so that
        # importing this module stays pandas-free
        from ..sources.pages import build_page_rows

        for batch in batches:
            pages = build_page_rows(batch.to_pandas())
            cols = _extract_columns(
                kernel, pages["html"], pages["lang"], pages["text"], with_spans=False
            )
            arrays = [batch.column("doc_id"), pa.array(pages["url"], type=pa.string())]
            arrays += [cols[f.name] for f in fields]
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return docs.mapInArrow(op, schema=out_schema)


def assemble_text_col(spans_col: Column) -> Column:
    """A6 text assembly as a pure JVM expression (no UDF): space-joined
    span texts (reference ocr_wrapper.py:283-289). NULL-safe for empty
    arrays."""
    return F.array_join(F.transform(spans_col, lambda s: s["text"]), " ")
