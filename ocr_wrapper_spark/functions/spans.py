"""Stage-level span UDFs: the extraction kernels' stages over a spans
column (SURVEY.md §2.12), composable as separate column stages
(normalize -> postprocess -> order, then ``operators.extract``'s
``assemble_text_col``), for API parity with the reference's composable
post-processing; same kernels, smaller scopes.

These are pandas UDFs, so this module imports pandas. The extraction
operators (``operators/extract.py``) do not, which keeps pandas out of a
fresh Python worker's imports on the extraction path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import bbox_core as bc
from ..schema import COORD_FIELDS, SPANS_ARRAY


def records_to_arrays(spans: list[dict]) -> tuple[np.ndarray, list[str], list[float]]:
    """Span-struct dicts -> (coords (n,8), texts, confidences)."""
    n = len(spans)
    coords = np.empty((n, 8), dtype=np.float64)
    texts: list[str] = []
    confs: list[float] = []
    for i, s in enumerate(spans):
        for j, c in enumerate(COORD_FIELDS):
            coords[i, j] = s[c]
        texts.append(s["text"])
        confs.append(s["confidence"] if s["confidence"] is not None else 0.0)
    return coords, texts, confs


@F.pandas_udf(SPANS_ARRAY)
def normalize_spans_udf(spans: pd.Series, width: pd.Series, height: pd.Series) -> pd.Series:
    """§1.4 canonicalization + to_normalized per span array."""
    out = []
    for recs, w, h in zip(spans.tolist(), width.tolist(), height.tolist()):
        if recs is None or len(recs) == 0:
            out.append([])
            continue
        coords, texts, confs = records_to_arrays(recs)
        coords = bc.to_normalized(coords, int(w), int(h))
        res = []
        for i, row in enumerate(coords.tolist()):
            rec = dict(zip(COORD_FIELDS, row))
            rec["in_pixels"] = False
            rec["text"] = texts[i]
            rec["label"] = recs[i].get("label")
            rec["confidence"] = confs[i]
            res.append(rec)
        out.append(res)
    return pd.Series(out)


@F.pandas_udf(T.ArrayType(T.IntegerType()))
def order_spans_udf(spans: pd.Series, width: pd.Series, height: pd.Series) -> pd.Series:
    """Reading-order index array per document (O1)."""
    from ..kernels.order import order_boxes

    out = []
    for recs, w, h in zip(spans.tolist(), width.tolist(), height.tolist()):
        if recs is None or len(recs) == 0:
            out.append([])
            continue
        coords, texts, _ = records_to_arrays(recs)
        out.append([int(i) for i in order_boxes(coords, texts, int(w), int(h))[0]])
    return pd.Series(out)


@F.pandas_udf(SPANS_ARRAY)
def postprocess_spans_udf(spans: pd.Series, width: pd.Series, height: pd.Series) -> pd.Series:
    """Stage-level post-processing over a spans column (SURVEY.md §2.12
    UDF #4): the primary-provider filters first (F1 vertical-box + F2
    date-run, reference google_azure_ocr.py:406-440), then the date-range
    split (C1) — the reference's order: filters clean the raw provider
    boxes, the split then produces the canonical [date, "-", date]
    triple (running F2 after C1 would delete what C1 just built).
    Composable with normalize_spans_udf / order_spans_udf."""
    from ..kernels import clean

    out = []
    for recs, w, h in zip(spans.tolist(), width.tolist(), height.tolist()):
        if recs is None or len(recs) == 0:
            out.append([])
            continue
        coords, texts, confs = records_to_arrays(recs)
        wh_ratio = (int(w) / int(h)) if int(h) else 1.0
        f_coords, f_texts, kept = clean.filter_unwanted_boxes(coords, texts, wh_ratio)
        f_confs = [confs[i] for i in kept]
        kept_coords, kept_texts, kept_confs = clean.split_date_boxes(f_coords, f_texts, f_confs)
        res = []
        for i, row in enumerate(kept_coords.tolist()):
            rec = dict(zip(COORD_FIELDS, row))
            rec["in_pixels"] = False
            rec["text"] = kept_texts[i]
            rec["label"] = None
            rec["confidence"] = kept_confs[i]
            res.append(rec)
        out.append(res)
    return pd.Series(out)
