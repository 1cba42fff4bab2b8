"""Canonical schemas of the engine.

The span struct is the reference's v1 OCR record
(``{"bbox": BBox, "text": str, "confidence": float}``, reference
compat.py:9-23) with the 8-corner BBox flattened in
(reference bbox.py:94-110). The engine adopts v1 directly (SURVEY.md
§1.1): no v0 record is read or written.
"""

from __future__ import annotations

from pyspark.sql import types as T

# 8 corner coordinates, canonical order TL TR BR BL (reference bbox.py:98-105)
COORD_FIELDS = ["TLx", "TLy", "TRx", "TRy", "BRx", "BRy", "BLx", "BLy"]

SPAN_STRUCT = T.StructType(
    [T.StructField(c, T.DoubleType(), False) for c in COORD_FIELDS]
    + [
        T.StructField("in_pixels", T.BooleanType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("label", T.StringType(), True),
        T.StructField("confidence", T.DoubleType(), True),
    ]
)

SPANS_ARRAY = T.ArrayType(SPAN_STRUCT)

# input table shape (BASELINE.json input_hint)
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# output of the extraction pipeline (SURVEY.md §2.1 S7)
RESULT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("content_hash", T.StringType(), False),
        T.StructField("spans", SPANS_ARRAY, True),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("doc_rotation", T.IntegerType(), True),
        T.StructField("tilt_angle", T.DoubleType(), True),
        T.StructField("n_spans", T.IntegerType(), True),
        T.StructField("provider", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

# Iceberg-style cache table (SURVEY.md §2.9 K1): key = sha2(html, 256)
CACHE_SCHEMA = T.StructType(
    [
        T.StructField("content_hash", T.StringType(), False),
        T.StructField("spans", SPANS_ARRAY, True),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("doc_rotation", T.IntegerType(), True),
        T.StructField("tilt_angle", T.DoubleType(), True),
        T.StructField("n_spans", T.IntegerType(), True),
        T.StructField("provider", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

# columns the extraction operator appends: the cached result fields plus
# the per-document kernel wall time. The kernel runs batch-at-a-time, so a
# document's ``extract_ms`` is its own wall time (sniff, parse, normalize,
# rotate, date split, assembly) plus a share of the reading-order pass over
# its chunk of pages, in proportion to its box count: the values of one
# Arrow batch add up to the kernel's wall time on that batch, and a cache
# hit reports 0.
EXTRACT_STRUCT = T.StructType(
    [f for f in CACHE_SCHEMA.fields if f.name != "content_hash"]
    + [T.StructField("extract_ms", T.DoubleType(), True)]
)

# per-partition lineage / metrics rows (north_rule, SURVEY.md §2.11)
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_errors", T.LongType(), False),
        T.StructField("n_cache_hits", T.LongType(), False),
        T.StructField("wall_ms", T.DoubleType(), False),
    ]
)

# Arrow-friendly pandas dtypes for the span struct, used by kernels
SPAN_COLUMNS = COORD_FIELDS + ["in_pixels", "text", "label", "confidence"]
