"""Post-processing kernels: date-range splitting, span filters, ordered merge.

Semantics mirrored from the reference (file:line cites per function); all
operate on the (n, 8) coords + parallel lists representation.
"""

from __future__ import annotations

import re

import numpy as np

from . import bbox_core as bc

# "dd/mm/yyyy - dd/mm/yyyy" with ./ separators and loose spacing
# (reference data_clean_utils.py:32-34)
DATE_RANGE_PATTERN = re.compile(
    r"^\s*\d{1,2}\s*[/\.]\s*\d{1,2}\s*[/\.]\s*\d{4}\s*-\s*\d{1,2}\s*[/\.]\s*\d{1,2}\s*[/\.]\s*\d{4}\s*$"
)
# slash-only variant used by the consecutive-box filter
# (reference google_azure_ocr.py:374)
DATE_RANGE_PATTERN_SLASH = re.compile(
    r"^\s*\d{1,2}\s*/\s*\d{1,2}\s*/\s*\d{4}\s*-\s*\d{1,2}\s*/\s*\d{1,2}\s*/\s*\d{4}\s*$"
)

# empirically-determined split ratios (reference data_clean_utils.py:44-45)
DATE_SPLIT_RATIO_MAIN = 0.49
DATE_SPLIT_RATIO_DASH = 0.07

# median-height slack for the vertical-box filter (google_azure_ocr.py:432)
MEDIAN_HEIGHT_SLACK = 1.05


def split_date_boxes(
    coords: np.ndarray,
    texts: list[str],
    confidences: list[float] | None = None,
):
    """Split boxes whose text is a date range into [date1, "-", date2]
    (reference data_clean_utils.py:13-61).

    Returns (coords, texts, confidences) with confidences repeated x3 for
    split boxes (None in -> list of zeros used internally, None out).
    """
    n = coords.shape[0]
    had_conf = confidences is not None
    conf = list(confidences) if had_conf else [0.0] * n
    if had_conf and len(conf) != n:
        raise ValueError("The length of the bboxes and confidences lists must be equal.")
    new_coords, new_texts, counts = split_date_rows(coords, texts)
    if counts is None:
        return coords.copy(), list(texts), (conf if had_conf else None)
    out_conf = [c for c, k in zip(conf, counts.tolist()) for _ in range(k)]
    return new_coords, new_texts, (out_conf if had_conf else None)


def split_date_rows(coords: np.ndarray, texts: list):
    """``split_date_boxes`` over a table of boxes from any number of pages:
    each box whose text is a date range becomes three rows in its place,
    the others stay as they are (the split is row by row).

    Returns (coords, texts, counts): counts[i] is the number of rows box i
    became (1 or 3), or None when no text is a date range, in which case
    ``coords`` and ``texts`` are returned themselves."""
    # every date range holds exactly one '-', a cheap test before the regex
    hits = [
        i for i, t in enumerate(texts)
        if t is not None and "-" in t and DATE_RANGE_PATTERN.match(t)
    ]
    if not hits:
        return coords, texts, None

    # vectorized two-stage split of all matching boxes at once
    b1, b2 = bc.split(coords[hits], DATE_SPLIT_RATIO_MAIN)
    b1_2, b2_2 = bc.split(b2, DATE_SPLIT_RATIO_DASH)
    counts = np.ones(coords.shape[0], dtype=np.int64)
    counts[hits] = 3
    out = np.repeat(coords, counts, axis=0)
    first = (np.cumsum(counts) - counts)[hits]
    out[first], out[first + 1], out[first + 2] = b1, b1_2, b2_2

    out_texts: list[str] = []
    prev = 0
    for i in hits:
        date1, date2 = texts[i].split("-")
        out_texts.extend(texts[prev:i])
        out_texts.extend((date1.strip(), "-", date2.strip()))
        prev = i + 1
    out_texts.extend(texts[prev:])
    return out, out_texts, counts


def box_height(coords: np.ndarray) -> np.ndarray:
    """|BLy - TLy| per box (reference google_azure_ocr.py:325-334)."""
    return np.abs(coords[:, bc.BLY] - coords[:, bc.TLY])


def median_box_height(coords: np.ndarray) -> float:
    """Lower-interpolation median of heights (google_azure_ocr.py:337-353:
    sorted list, even n -> average of the two middle values)."""
    if coords.shape[0] == 0:
        return 0.0
    h = np.sort(box_height(coords))
    n = h.shape[0]
    if n % 2 == 0:
        return float((h[n // 2 - 1] + h[n // 2]) / 2)
    return float(h[n // 2])


def is_vertically_aligned(coords: np.ndarray, width_height_ratio: float) -> np.ndarray:
    """width*ratio < height per box (google_azure_ocr.py:356-368)."""
    width = np.abs(coords[:, bc.BRX] - coords[:, bc.TLX]) * width_height_ratio
    height = np.abs(coords[:, bc.BLY] - coords[:, bc.TLY])
    return width < height


def filter_date_boxes(coords: np.ndarray, texts: list[str]) -> tuple[np.ndarray, list[str]]:
    """Drop runs of up to 10 consecutive boxes whose concatenated text
    matches the slash date-range pattern; recurse until no match
    (reference google_azure_ocr.py:371-403)."""
    items = list(range(coords.shape[0]))

    def run(keep: list[int]) -> list[int]:
        m = min(10, len(keep))
        for r in range(m, 1, -1):
            for s in range(0, len(keep) - r + 1):
                window = keep[s : s + r]
                concatenated = "".join((texts[i] or "") for i in window).replace(" ", "")
                if DATE_RANGE_PATTERN_SLASH.match(concatenated):
                    rest = [i for i in keep if i not in set(window)]
                    return run(rest)
        return keep

    kept = run(items)
    return coords[kept], [texts[i] for i in kept]


def filter_unwanted_boxes(
    coords: np.ndarray, texts: list[str], width_height_ratio: float
) -> tuple[np.ndarray, list[str]]:
    """The primary-provider span filter (reference
    _filter_unwanted_google_bboxes, google_azure_ocr.py:406-440): drop
    boxes taller than 1.05x the median height AND vertically aligned,
    unless the text is a single character; then the date-box run filter."""
    n = coords.shape[0]
    if n == 0:
        return coords.copy(), list(texts)
    med = median_box_height(coords)
    tall = box_height(coords) > med * MEDIAN_HEIGHT_SLACK
    vertical = is_vertically_aligned(coords, width_height_ratio)
    single_char = np.array(
        [t is not None and len(t.strip()) == 1 for t in texts], dtype=bool
    )
    drop = tall & vertical & ~single_char
    keep = np.nonzero(~drop)[0]
    return filter_date_boxes(coords[keep], [texts[i] for i in keep])


def merge_idx_lists(raw_a: list[int], raw_b: list[int], sorted_ab: list[int]) -> list[int]:
    """Insert raw_b elements into raw_a keeping raw_a's order; raw_b
    positions follow sorted_ab (reference bbox_utils.py:237-282). This is
    the order-sensitive merge that must never cross a shuffle boundary
    (SURVEY.md §7 watch-list item 2)."""
    assert len(raw_a) + len(raw_b) == len(sorted_ab)
    if len(sorted_ab) == 0:
        return []

    result: list[int] = []
    raw_a_set = set(raw_a)
    raw_b_set = set(raw_b)
    raw_a_left = list(raw_a)
    raw_a_left.reverse()

    next_sorted_map = {sorted_ab[i]: sorted_ab[i + 1] for i in range(len(sorted_ab) - 1)}

    if sorted_ab[0] in raw_b_set:
        last_added = sorted_ab[0]
        raw_b_set.remove(last_added)
    else:
        last_added = raw_a[0]
        raw_a_set.remove(last_added)
        raw_a_left.pop()
    result.append(last_added)

    while len(raw_a_set) != 0 or len(raw_b_set) != 0:
        next_in_sorted = next_sorted_map.get(last_added, -1)
        if next_in_sorted in raw_b_set:
            last_added = next_in_sorted
            raw_b_set.remove(last_added)
        else:
            last_added = raw_a_left.pop()
            raw_a_set.remove(last_added)
        result.append(last_added)

    assert len(result) == len(raw_a) + len(raw_b)
    return result


def merge_span_lists(
    coords_a: np.ndarray,
    texts_a: list[str],
    conf_a: list[float],
    coords_b: np.ndarray,
    texts_b: list[str],
    conf_b: list[float],
    document_width: int,
    document_height: int,
):
    """Ordered merge of two span lists (reference
    merge_bbox_lists_with_confidences, bbox_utils.py:202-234): A keeps its
    order, B slots in according to a global reading-order sort of A+B.
    Returns (coords, texts, confidences), each span keeping its own
    confidence."""
    from .order import order_boxes

    na, nb = coords_a.shape[0], coords_b.shape[0]
    idx_a = list(range(na))
    idx_b = list(range(na, na + nb))
    merged = np.vstack([coords_a, coords_b]) if na + nb else bc.empty_boxes()
    merged_texts = list(texts_a) + list(texts_b)
    sorted_idx = order_boxes(merged, merged_texts, document_width, document_height)[0].tolist()
    final = merge_idx_lists(idx_a, idx_b, sorted_idx)
    merged_conf = list(conf_a) + list(conf_b)
    return merged[final], [merged_texts[i] for i in final], [merged_conf[i] for i in final]
