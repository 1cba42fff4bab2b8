"""Dual-provider combine + multi-sample consensus kernels.

Reproduces, per document:

* the GoogleAzure combiner flow (reference google_azure_ocr.py:83-219,
  SURVEY.md §3.2): date-split secondary -> F1/F2 filter primary ->
  anti-join secondary vs primary by overlap (J2) -> ordered merge (J4)
  -> constant confidence 0.9; the reference first rotates the secondary
  by the primary's rotation, but here the secondary is always upright;
* the multi-sample consensus (reference
  aggregate_multiple_responses.py:122-190, SURVEY.md §2.10 D5): pool
  spans with response ids -> cross-response AND-overlap grouping ->
  best-mean-confidence response -> enrich with non-overlapping
  singletons.
"""

from __future__ import annotations

import numpy as np

from . import bbox_core as bc
from . import clean

# overlap threshold of BBoxOverlapChecker.get_overlapping_bboxes default
# (reference google_azure_ocr.py:300)
OVERLAP_DEFAULT = 0.01
# checkbox suppression threshold (google_azure_ocr.py:182)
CHECKBOX_OVERLAP = 0.5
# combined output confidence (google_azure_ocr.py:208)
COMBINED_CONFIDENCE = 0.9
# consensus grouping / singleton thresholds
# (aggregate_multiple_responses.py:174, :125)
CONSENSUS_GROUP_THRESHOLD = 0.1
SINGLE_BBOX_OVERLAP = 0.5


def overlapping_any(coords_a: np.ndarray, coords_b: np.ndarray, threshold: float = OVERLAP_DEFAULT) -> np.ndarray:
    """For each box in A: does any box in B overlap it (either direction
    above threshold)? (reference BBoxOverlapChecker semantics.)"""
    if coords_a.shape[0] == 0 or coords_b.shape[0] == 0:
        return np.zeros(coords_a.shape[0], dtype=bool)
    r_ab = bc.intersection_area_ratio_matrix(coords_a, coords_b)
    r_ba = bc.intersection_area_ratio_matrix(coords_b, coords_a)
    return ((r_ab > threshold) | (r_ba.T > threshold)).any(axis=1)


def combine_primary_secondary(
    coords_p: np.ndarray,
    texts_p: list[str],
    coords_s: np.ndarray,
    texts_s: list[str],
    document_width: int,
    document_height: int,
):
    """The GoogleAzure combine (google_azure_ocr.py:145-208). Inputs are
    normalized, upright spans of the primary and the secondary. Returns
    (coords, texts, confidences)."""
    coords_s, texts_s, _ = clean.split_date_boxes(coords_s, texts_s, None)

    wh_ratio = document_width / document_height
    coords_p, texts_p = clean.filter_unwanted_boxes(coords_p, texts_p, wh_ratio)

    # J2: secondary boxes with zero overlapping primary boxes
    keep_s = ~overlapping_any(coords_s, coords_p)
    coords_add = coords_s[keep_s]
    texts_add = [t for t, k in zip(texts_s, keep_s) if k]

    # J4: ordered merge, primary order authoritative. Every span carries
    # the combined confidence, so both lists are constant: they exist only
    # because merge_span_lists permutes confidences with the spans, which
    # the aux merge below needs
    return clean.merge_span_lists(
        coords_p, texts_p, [COMBINED_CONFIDENCE] * len(texts_p),
        coords_add, texts_add, [COMBINED_CONFIDENCE] * len(texts_add),
        document_width, document_height,
    )


def suppress_then_merge_aux(
    coords: np.ndarray,
    texts: list[str],
    conf: list[float],
    coords_aux: np.ndarray,
    texts_aux: list[str],
    conf_aux: list[float],
    document_width: int,
    document_height: int,
):
    """Checkbox-style auxiliary merge (google_azure_ocr.py:176-193): drop
    combined boxes overlapping an aux box above CHECKBOX_OVERLAP (F6),
    then ordered-merge the aux boxes in (J4). Returns (coords, texts,
    confidences)."""
    keep = ~overlapping_any(coords, coords_aux, CHECKBOX_OVERLAP)
    return clean.merge_span_lists(
        coords[keep],
        [t for t, k in zip(texts, keep) if k],
        [c for c, k in zip(conf, keep) if k],
        coords_aux, texts_aux, conf_aux, document_width, document_height,
    )


def group_overlapping(coords: np.ndarray, threshold: float, response_ids: np.ndarray) -> list[list[int]]:
    """Greedy FIFO overlap grouping with AND-overlap, cross-response-only
    semantics (aggregate_multiple_responses.py:14-73): two boxes are
    neighbors when each covers more than ``threshold`` of the other and
    they come from different responses. Groups are seed + direct
    neighbors still unclaimed, exactly like the reference's rtree loop.
    """
    n = coords.shape[0]
    if n == 0:
        return []
    r = bc.intersection_area_ratio_matrix(coords, coords)
    over = (r > threshold) & (r.T > threshold)
    over &= response_ids[:, None] != response_ids[None, :]
    np.fill_diagonal(over, False)

    alive = np.ones(n, dtype=bool)
    groups: list[list[int]] = []
    for i in range(n):
        if not alive[i]:
            continue
        members = [i] + [int(j) for j in np.nonzero(over[i] & alive)[0] if j != i]
        for m in members:
            alive[m] = False
        groups.append(members)
    return groups


def overall_confidence(confidences: list[float]) -> float:
    """Mean confidence; 0 when empty (aggregate_multiple_responses.py:99-112)."""
    if len(confidences) == 0:
        return 0.0
    return sum(confidences) / len(confidences)


def aggregate_samples_n(
    samples: list[tuple[np.ndarray, list[str], list[float]]],
):
    """n-way consensus aggregation.

    Strict generalization of the reference's 2-sample algorithm
    (aggregate_multiple_responses.py:158-190; the reference raises
    NotImplementedError for n>2 at aggregate_multiple_responses.py:188 —
    we extend it): pool every sample's boxes with response ids, group
    cross-response overlaps, pick the response with the highest mean
    confidence (first wins ties, like _get_highest_confidence_response),
    then enrich it with singleton boxes from *other* responses whose
    max overlap vs the best response stays below 0.5. For n == 2 this is
    byte-identical to the previous 2-sample implementation.
    """
    if len(samples) == 0:
        return bc.empty_boxes(), [], []
    if len(samples) == 1:
        coords, texts, conf = samples[0]
        return coords.copy(), list(texts), list(conf)

    counts = [c.shape[0] for c, _, _ in samples]
    total = sum(counts)
    pooled = (
        np.vstack([c for c, _, _ in samples]) if total else bc.empty_boxes()
    )
    response_ids = np.repeat(
        np.arange(len(samples), dtype=np.int64), np.asarray(counts, dtype=np.int64)
    )

    groups = group_overlapping(pooled, CONSENSUS_GROUP_THRESHOLD, response_ids)

    means = [overall_confidence(conf) for _, _, conf in samples]
    best_id = int(np.argmax(means))  # np.argmax: first index wins ties
    best_coords = samples[best_id][0].copy()
    best_texts = list(samples[best_id][1])
    best_conf = list(samples[best_id][2])

    pooled_texts = [t for _, texts, _ in samples for t in texts]
    pooled_conf = [c for _, _, conf in samples for c in conf]
    for g in groups:
        if len(g) != 1:
            continue
        cand = g[0]
        # skip candidates already members of the best response
        if response_ids[cand] == best_id:
            continue
        overlaps = bc.intersection_area_ratio_matrix(pooled[cand : cand + 1], best_coords)
        highest = overlaps.max() if overlaps.size else 0.0
        if highest < SINGLE_BBOX_OVERLAP:
            best_coords = np.vstack([best_coords, pooled[cand]])
            best_texts.append(pooled_texts[cand])
            best_conf.append(pooled_conf[cand])
    return best_coords, best_texts, best_conf
