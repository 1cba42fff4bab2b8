"""Host-health probe: pure-multiprocessing extraction throughput at a
given process count, pinned. Healthy window reference (2026-08-16):
~5 ms/doc at 8 procs, ~6.8 ms/doc at 32 procs, 32p/8p efficiency ~0.7.
Run BEFORE recording any benchmark — shared-VM neighbor load degrades
per-doc time up to 3x for hours at a stretch (BENCH/BASELINE.md §0's
keep-cleanest-window policy exists because of this).

Usage: python scripts/host_health.py [nproc]   (default 32; pin with taskset)
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def work(args):
    lo, hi = args
    import numpy as np
    import pandas as pd

    from ocr_wrapper_spark.kernels.extract_doc import extract_document
    from ocr_wrapper_spark.sources.pages import build_page_rows

    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(lo, hi, dtype=np.int64),
            "lang": ["en"] * (hi - lo),
            "text": ["word " * 400] * (hi - lo),
        }
    )
    pages = build_page_rows(pdf)
    for payload, lang in zip(pages["html"], pages["lang"]):
        extract_document(payload, lang)
    return hi - lo


# Healthy-window references (measured 2026-08-16 over many clean
# windows): ~5 ms/doc at 8 procs, ~6.8 ms/doc at 32 (fewer busy cores
# turbo higher). A probe above reference * SICK_FACTOR is a degraded
# shared-VM window — numbers recorded there are artifacts.
HEALTHY_PER_DOC_MS = {8: 5.0, 32: 6.8}
HEALTHY_PER_DOC_MS_32P = HEALTHY_PER_DOC_MS[32]
SICK_FACTOR = 1.5


def healthy_reference(nproc: int) -> float:
    return HEALTHY_PER_DOC_MS[8] if nproc <= 8 else HEALTHY_PER_DOC_MS[32]


def probe(nproc: int = 32, docs: int = 12800) -> dict:
    """Pure-multiprocessing extraction probe (no Spark): returns
    {nproc, docs_per_sec, per_doc_ms, healthy} — importable by bench
    runners so every recorded number carries window-health evidence."""
    per = max(1, docs // nproc)
    total = per * nproc  # measured work == reported work (no remainder)
    chunks = [(i * per, (i + 1) * per) for i in range(nproc)]
    with mp.Pool(nproc) as p:
        p.map(work, chunks)  # warm imports
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            p.map(work, chunks)
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
    per_doc_ms = round(best * nproc / total * 1000, 2)
    return {
        "nproc": nproc,
        "docs_per_sec": round(total / best),
        "per_doc_ms": per_doc_ms,
        "healthy": per_doc_ms <= healthy_reference(nproc) * SICK_FACTOR,
    }


def main() -> None:
    nproc = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    print(json.dumps(probe(nproc)))


if __name__ == "__main__":
    main()
