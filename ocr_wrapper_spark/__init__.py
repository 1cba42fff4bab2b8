"""ocr_wrapper_spark — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the semantics of deepopinion/ocr_wrapper
(reference snapshot at /root/reference, v0.2.6) as an idiomatic Spark
DataFrame pipeline over Common-Crawl-style page tables
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Layout:
    kernels/    pure numpy/pandas kernels (test oracles; run inside Arrow UDFs)
    operators/  Spark DataFrame operators (extraction chain, dedup, similarity,
                text stats) built on pandas UDFs / built-in functions
    sources/    page / media / WARC sources + cache and metrics tables
    functions/  column-level helper expressions (JVM-side built-ins only):
                URL canonicalization, PII redaction, LayoutLM export
    plans/      end-to-end job assembly (cache join, dispatch, salting, resume)
    streaming/  Structured Streaming event windows and keyed-state dedup
                (the streaming extraction is a registered query)

Nothing in here imports from the reference; all heavy per-document logic is
vectorized numpy inside Arrow-batched UDFs (no per-row Python UDFs).
"""

__version__ = "0.1.0"
