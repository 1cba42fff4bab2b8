"""Reading-order kernel — the flagship per-document operator (SURVEY.md §2.5 O1).

Re-implements the semantics of the reference's line finder
(`_extract_properties` bbox_order.py:133-220 and `_order_boxes_fast`
bbox_order.py:223-368) as array code over the (n, 8) coordinate layout:

* per-box geometry + bidi character class vote
* global writing-direction majority vote (rtl iff #R > #L)
* x-stable-sort (reversed for rtl)
* parabola-weighted scatter-add line-gain histogram over a tilt scan of
  +-11 deg in 21 steps, squared-gain argmax picks the tilt
* neighbor-compare peak detection -> line centers; boxes assigned to the
  nearest line center; empty lines compacted

Pages are ordered batch-at-a-time: ``order_segments`` runs every step
above once over the concatenated boxes of many pages (a page id per box,
each page's histogram in its own column slice), so numpy's per-call cost
is paid per chunk of pages instead of per page. ``order_batch`` cuts an
Arrow batch's pages into chunks and isolates a failing page.

All math is float64 numpy with the same operations as the reference, so
results are bit-reproducible (SURVEY.md §7 watch-list item 1), and a page
ordered in a chunk gets exactly the bytes it gets ordered alone.
"""

from __future__ import annotations

import math
import time
from unicodedata import bidirectional

import numpy as np

DEGREE2RADIAN = 2 * np.pi / 360
# tilt scan range/steps (reference bbox_order.py:21-25)
MAX_TILT_ANGLE = 11
NB_TILT = 21
MAX_TILT_FRACTION = np.tan(MAX_TILT_ANGLE * DEGREE2RADIAN)
# the scan grid is fixed — precompute once (identical to the reference's
# per-call linspace, bbox_order.py:252)
TILT_FRACTIONS = np.linspace(-MAX_TILT_FRACTION, MAX_TILT_FRACTION, NB_TILT, dtype=float)
# reported tilt angle per grid step, from the reference's scalar arctan call
TILT_ANGLES = [float(np.arctan(float(tf)) / DEGREE2RADIAN) for tf in TILT_FRACTIONS]

# bidi class -> dominance code; lowest code wins within a box
# (reference bbox_order.py:27-40)
TYPE_CODES = {"ON": 5, "ET": 4, "AN": 3, "EN": 2, "R": 1, "AL": 1, "L": 0}
_CODE_L, _CODE_R, _CODE_ON = 0, 1, 5

# cutoff for reliable word statistics (reference bbox_order.py:194)
MIN_WORDS_FOR_STATS = 10

# A chunk of pages shares one (NB_TILT, columns) float64 gain histogram of
# at most this many cells (16 MB), counted by each page's upper bound; a
# page over the budget is a chunk of its own.
CHUNK_CELLS = 1 << 21
# a page with a width outside [0, 2^31) or a height of 2^31 or more is
# ordered alone: below that every per-page scalar fits int64, so a gathered
# per-box array computes exactly what the page's own Python scalar does
_BATCH_DIM = 1 << 31

# fused edge-midpoint projection: coords (n,8) @ (8,4) ->
# [(TLx+BLx)/2, (TRx+BRx)/2, (TLy+TRy)/2, (BLy+BRy)/2]
_EDGE_MID = np.zeros((8, 4))
_EDGE_MID[[0, 6], 0] = 0.5  # TLx, BLx -> left
_EDGE_MID[[2, 4], 1] = 0.5  # TRx, BRx -> right
_EDGE_MID[[1, 3], 2] = 0.5  # TLy, TRy -> top
_EDGE_MID[[5, 7], 3] = 0.5  # BLy, BRy -> bottom

_char_code_cache: dict[str, int] = {}

# per-token memo: token -> (type_code, is_word). Web-scale corpora repeat
# tokens heavily (Zipf), so this converts the per-char unicodedata walk
# into a dict hit; bounded to keep worker memory flat.
_token_cache: dict[str, tuple[int, bool]] = {}
_TOKEN_CACHE_MAX = 200_000


def _char_code(ch: str) -> int:
    code = _char_code_cache.get(ch)
    if code is None:
        code = TYPE_CODES.get(bidirectional(ch), _CODE_ON)
        _char_code_cache[ch] = code
    return code


def box_type(text: str) -> int:
    """Dominant bidi class of a box's text; empty text -> L
    (reference bbox_order.py:176-179)."""
    if not text:
        return _CODE_L
    return min(_char_code(c) for c in set(text))


def token_props(text: str) -> tuple[int, bool]:
    """(bidi type code, is_word) per box text, memoized.
    is_word = isalpha and len > 1 (reference bbox_order.py:184)."""
    t = text or ""
    props = _token_cache.get(t)
    if props is None:
        props = (box_type(t), t.isalpha() and len(t) > 1)
        if len(_token_cache) < _TOKEN_CACHE_MAX:
            _token_cache[t] = props
    return props


def _per(values: list, index: np.ndarray):
    """Per-page scalars as an operand over elements mapped to pages by
    ``index``: one gather, or the scalar itself when there is one page, so
    a page ordered alone keeps Python-int arithmetic (and its overflow
    errors on absurd page sizes)."""
    return values[0] if len(values) == 1 else np.asarray(values)[index]


def _medians(values: np.ndarray, page: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Median of ``values`` per page (``page`` ascending over the pages
    that have values, ``counts`` > 0 of them each): the same middle
    elements and (lo + hi) / 2 arithmetic as np.median, and NaN for a page
    holding any NaN (hostile payloads push NaN coords into heights)."""
    v = values[np.lexsort((values, page))]
    start = np.cumsum(counts) - counts
    mid = start + (counts >> 1)
    med = np.where(counts & 1, v[mid], (v[mid - 1] + v[mid]) / 2)
    med[np.add.reduceat(np.isnan(values), start) > 0] = np.nan
    return med


def order_segments(segments: list) -> list:
    """Reading order of several pages in one vectorized pass.

    ``segments`` holds one (coords (n,8) normalized, texts, width, height)
    per page. Returns one (ordered_idx, tilt_angle_deg, line_ids) per
    page: ``ordered_idx[k]`` is the page-local index of the k-th box in
    reading order (reference get_ordered_bboxes_idxs, bbox_order.py:371-382)
    and ``line_ids`` its line. Each page's result is the one it gets when
    ordered alone."""
    out = [None] * len(segments)
    live = []
    for i, seg in enumerate(segments):
        if seg[0].shape[0]:
            live.append(i)
        else:
            out[i] = (np.zeros(0, dtype=np.int64), 0.0, np.zeros(0, dtype=np.int64))
    if live:
        for i, res in zip(live, _order_pages([segments[i] for i in live])):
            out[i] = res
    return out


def _order_pages(pages: list) -> list:
    n_pages = len(pages)
    counts = np.array([p[0].shape[0] for p in pages])
    n = int(counts.sum())
    seg = np.repeat(np.arange(n_pages), counts)  # page of each box
    first = np.cumsum(counts) - counts  # first box of each page
    coords = pages[0][0] if n_pages == 1 else np.concatenate([p[0] for p in pages])
    texts = [t for p in pages for t in p[1]]
    widths = [p[2] for p in pages]
    full_width = [max(200, w) for w in widths]
    full_height = [max(200, p[3]) for p in pages]
    half_width = [w / 2 for w in widths]

    # per-box geometry (bbox_order.py:133-220). Edge midpoints via one
    # fused matmul: columns = (left, right, top, bottom) halves -> clip ->
    # scale (identical arithmetic to the per-column chains, ~4x fewer
    # numpy dispatches)
    g = np.clip(coords @ _EDGE_MID, 0.0, 1.0)
    fw = _per(full_width, seg)
    fh = _per(full_height, seg)
    left = fw * g[:, 0]
    right = fw * g[:, 1]
    width = np.maximum(1.0, right - left)
    x = (right + left) / 2
    x_center = x - _per(half_width, seg)
    top = fh * g[:, 2]
    bottom = np.maximum(top + 1, fh * g[:, 3])
    height = np.maximum(1.0, bottom - top)
    y = (top + bottom) / 2
    # int(round(.)) in the reference is banker's rounding (Python round);
    # np.rint matches round-half-to-even
    ints = np.rint(np.stack([top, bottom], axis=0)).astype(np.int64)
    int_top = ints[0]
    int_height = np.maximum(1, ints[1] - ints[0])

    props = [token_props(t) for t in texts]
    types = np.array([p[0] for p in props], dtype=np.int64)
    type_count = np.bincount(seg * 6 + types, minlength=6 * n_pages).reshape(n_pages, 6)

    # median word height, on pages with enough words (bbox_order.py:183-197)
    is_word = np.array([p[1] for p in props], dtype=bool)
    nb_words = np.bincount(seg[is_word], minlength=n_pages)
    has_stats = nb_words > MIN_WORDS_FOR_STATS
    median_height = np.full(n_pages, np.nan)
    if has_stats.any():
        counted = is_word & has_stats[seg]
        median_height[has_stats] = _medians(height[counted], seg[counted], nb_words[has_stats])

    # writing-direction majority vote (bbox_order.py:198-208)
    rtl = type_count[:, _CODE_R] > type_count[:, _CODE_L]

    # one stable sort by (page, x) — x negated on rtl pages — frees us
    # from per-line sorts (bbox_order.py:210-218); pages stay contiguous
    order = np.lexsort((np.where(rtl[seg], -x, x), seg))

    # reorder per-box arrays into x-sorted order (the reference sorts box_lst)
    xs_x_center = x_center[order]
    xs_int_height = int_height[order]
    xs_int_top = int_top[order]
    xs_width = width[order]
    xs_y = y[order]

    max_tilt_pixel = [int(np.ceil(MAX_TILT_FRACTION * hw)) for hw in half_width]

    # Gains are zero outside the content's y-extent, and the neighbor-compare
    # peak test can never fire on an all-zero plateau, so restricting each
    # page's histogram to [y_lo, y_hi] + tilt margin is output-identical to
    # the full-page scan while cutting the allocation ~4x (the page is
    # mostly empty margin). y indices below are shifted by y_lo.
    y_lo = np.minimum.reduceat(xs_int_top, first).tolist()
    y_hi = np.maximum.reduceat(xs_int_top + xs_int_height, first).tolist()
    y_range = [(hi - lo + 1) + 2 * m + 2 for hi, lo, m in zip(y_hi, y_lo, max_tilt_pixel)]

    half_height = xs_int_height.astype(float) / 2
    height_factor = np.where(has_stats[seg], np.minimum(1, xs_int_height / median_height[seg]), 1.0)
    weight = xs_width * height_factor
    nb_y = xs_int_height + 1

    # parabola-weighted gains per y pixel of each box (bbox_order.py:271-295).
    # Flat per-pixel arrays built with repeat/arange directly — no
    # (n, max_height) rectangle or boolean-mask gathers, so memory is
    # O(sum of box heights) even when one hostile box reports a huge
    # height, and each array is one pass instead of build-mask + gather.
    px_per_box = nb_y  # steps 0..h inclusive = h+1 pixels per box
    offsets = np.cumsum(px_per_box) - px_per_box
    total_px = int(offsets[-1] + px_per_box[-1])
    # one repeat builds the box-index map; every other per-pixel array is
    # a gather through it (measured ~25% cheaper than per-array repeats
    # with identical element values, so bincount in-bin order — hence
    # bit-reproducibility — is unchanged)
    box_idx = np.repeat(np.arange(n), px_per_box)
    steps_flat = np.arange(total_px, dtype=float) - offsets.astype(float)[box_idx]
    w_flat = weight[box_idx]
    hh_flat = half_height[box_idx]
    parabolae = (1 - ((steps_flat - hh_flat) / np.maximum(0.5, hh_flat)) ** 2) * w_flat
    px_page = seg[box_idx] if n_pages > 1 else None
    y_pos = steps_flat.astype(int) + (xs_int_top - _per(y_lo, seg))[box_idx]
    base = _per(max_tilt_pixel, px_page) + y_pos

    # scatter-add via one bincount per tilt over the SHARED parabola
    # weights (tiling the weights NB_TILT-wide for a single flattened
    # bincount doubled the memory traffic for no fewer element ops; the
    # per-tilt element order equals the flattened row-major order, so
    # in-bin summation — hence bit-reproducibility — is unchanged).
    # The tilt shift int(tf * x_center) is constant for every pixel of a
    # box, so compute it per (tilt, box) and expand with repeat — same
    # truncation, ~height-times fewer multiplies than the per-pixel form.
    shifts = (TILT_FRACTIONS[:, None] * xs_x_center[None, :]).astype(int)
    # pages narrower than the reference's 200px floor make |x_center|
    # exceed half_width (ref bbox_order.py:147-149 floors full_width but
    # not half_width), so the tilt shift can leave [0, y_range). The
    # reference's np.add.at silently WRAPS those negative indices into
    # the other end of the histogram; clipping to the page's edge bins
    # instead is a no-op for every in-range page (byte-identity preserved)
    # and keeps hostile tiny-page boxes from corrupting/crashing the scan.
    # The O(n) bound check below proves the no-op case per page, so a
    # chunk without such a page never pays the full-size clip write.
    px_first = offsets[first]
    b_lo = np.minimum.reduceat(base, px_first).tolist()
    b_hi = np.maximum.reduceat(base, px_first).tolist()
    s_lo = np.minimum.reduceat(shifts, first, axis=1).min(axis=0).tolist()
    s_hi = np.maximum.reduceat(shifts, first, axis=1).max(axis=0).tolist()
    needs_clip = any(
        bl + sl < 0 or bh + sh > r - 1 for bl, bh, sl, sh, r in zip(b_lo, b_hi, s_lo, s_hi, y_range)
    )
    if n_pages > 1 and min(y_range) < 3:
        # a degenerate page (hostile coords or size) is ordered alone
        raise ValueError("degenerate page extent in a chunk")
    n_cols = sum(y_range)
    all_gains = np.empty((NB_TILT, n_cols))
    # each page's histogram is its own column slice [col_first, +y_range)
    col_first = np.cumsum(y_range) - y_range
    col_off = 0 if n_pages == 1 else col_first[px_page]
    clip_top = _per([r - 1 for r in y_range], px_page) if needs_clip else None
    start = base if needs_clip else base + col_off
    for t in range(NB_TILT):
        idx = start + shifts[t][box_idx]
        if needs_clip:
            np.clip(idx, 0, clip_top, out=idx)
            idx += col_off
        all_gains[t] = np.bincount(idx, weights=parabolae, minlength=n_cols)

    # squared-gain argmax picks each page's tilt (bbox_order.py:296-309);
    # the row sums stay per page: a segmented reduction changes float sums
    best = np.array(
        [int(np.argmax((all_gains[:, a : a + r] ** 2).sum(axis=1))) for a, r in zip(col_first, y_range)]
    )
    tilt_factor = TILT_FRACTIONS[best]
    tilted_y = xs_y + xs_x_center * tilt_factor[seg]

    # neighbor-compare peak detection (bbox_order.py:319-337) over the
    # pages' best rows laid end to end; a page's edge columns are never
    # centers
    best_gains = all_gains[np.repeat(best, y_range), np.arange(n_cols)]
    mid = best_gains[1:-1]
    is_center = (best_gains[:-2] <= mid) & (best_gains[2:] < mid)
    if n_pages > 1:
        is_center[col_first[1:] - 1] = False
        is_center[col_first[1:] - 2] = False
    centers = np.flatnonzero(is_center) + 1
    line_page = np.searchsorted(col_first, centers, side="right") - 1
    line_local = centers - col_first[line_page]
    n_lines = np.bincount(line_page, minlength=n_pages)
    if not n_lines.all():  # a page without a peak gets one line at index 0
        lonely = np.flatnonzero(n_lines == 0)
        line_page = np.concatenate([line_page, lonely])
        line_local = np.concatenate([line_local, np.zeros(len(lonely), dtype=int)])
        by_page = np.argsort(line_page, kind="stable")
        line_page, line_local = line_page[by_page], line_local[by_page]
        n_lines[lonely] = 1
    line_center_y = line_local - _per(max_tilt_pixel, line_page) + _per(y_lo, line_page)

    # nearest line center per box (bbox_order.py:338-342). Each page's
    # centers ascend, so one merged sort by (page, y) places every box
    # among its page's centers — boxes before equal centers, i.e.
    # searchsorted(side='left') — and a neighbor compare replaces the
    # (n_boxes, n_lines) distance matrix (147 GiB on a 780k-word page);
    # O(n log n) with O(n) memory. Equidistant ties resolve to the lower
    # line index, exactly like argmin's first-minimum rule.
    n_all = len(line_center_y)
    is_line = np.concatenate([np.zeros(n, dtype=bool), np.ones(n_all, dtype=bool)])
    merged = np.lexsort(
        (is_line, np.concatenate([tilted_y, line_center_y]), np.concatenate([seg, line_page]))
    )
    line_sorted = is_line[merged]
    lines_before = np.cumsum(line_sorted) - line_sorted
    pos = np.empty(n, dtype=np.int64)
    pos[merged[~line_sorted]] = lines_before[~line_sorted]
    line_first = np.cumsum(n_lines) - n_lines
    left = np.maximum(pos - 1, line_first[seg])
    right = np.minimum(pos, (line_first + n_lines - 1)[seg])
    dist_left = np.abs(tilted_y - line_center_y[left])
    dist_right = np.abs(tilted_y - line_center_y[right])
    box_line = np.where(dist_left <= dist_right, left, right)

    # compact away empty lines (bbox_order.py:343-358): a line's id is its
    # rank among its page's used lines
    used = np.zeros(n_all, dtype=bool)
    used[box_line] = True
    n_used = np.cumsum(used)
    used_before = n_used[line_first] - used[line_first]
    box_line = n_used[box_line] - 1 - used_before[seg]

    # boxes are already x-ordered; a stable sort by (page, line id) yields
    # the line-by-line reading order (bbox_order.py:359-364)
    within = np.lexsort((box_line, seg))
    ordered_idx = order[within] - first[seg]
    line_ids = box_line[within]

    ends = first + counts
    return [(ordered_idx[a:b], TILT_ANGLES[t], line_ids[a:b]) for a, b, t in zip(first, ends, best)]


def _cells(width, height) -> int:
    """Upper bound on a page's histogram cells (its content spans at most
    the floored page height); CHUNK_CELLS for a page ordered alone."""
    if not (0 <= width < _BATCH_DIM and height < _BATCH_DIM):
        return CHUNK_CELLS
    return NB_TILT * (max(200, height) + 4 + 2 * math.ceil(MAX_TILT_FRACTION * width / 2))


def _chunks(pages: list):
    """Consecutive page-index runs within the CHUNK_CELLS budget."""
    chunk: list[int] = []
    cells = 0
    for i, p in enumerate(pages):
        c = _cells(p[2], p[3])
        if chunk and cells + c > CHUNK_CELLS:
            yield chunk
            chunk, cells = [], 0
        chunk.append(i)
        cells += c
    if chunk:
        yield chunk


def order_batch(pages: list) -> tuple[list, np.ndarray]:
    """``order_segments`` over all pages of a batch, chunk by chunk.

    Returns (results, ms): per page its (ordered_idx, tilt_angle_deg,
    line_ids) or the exception ordering it raised, and its share of
    its chunk's wall time in ms, in proportion to its box count. A chunk
    that raises is re-run one page at a time, so only the failing page
    carries the exception."""
    results: list = [None] * len(pages)
    ms = np.zeros(len(pages))
    clock = time.perf_counter
    t_prev = clock()
    for chunk in _chunks(pages):
        try:
            done = order_segments([pages[i] for i in chunk])
        except Exception:
            done = []
            for i in chunk:
                try:
                    done.append(order_segments([pages[i]])[0])
                except Exception as exc:
                    done.append(exc)
        for i, res in zip(chunk, done):
            results[i] = res
        t = clock()
        boxes = np.array([pages[i][0].shape[0] for i in chunk], dtype=float)
        total = boxes.sum()
        share = boxes / total if total else np.full(len(chunk), 1.0 / len(chunk))
        ms[chunk] = (t - t_prev) * 1000.0 * share
        t_prev = t
    return results, ms


def order_boxes(
    coords: np.ndarray,
    texts: list[str],
    document_width: int,
    document_height: int,
) -> tuple[np.ndarray, float, np.ndarray]:
    """Full reading-order computation of one page.

    Returns (ordered_idx, tilt_angle_deg, line_id_per_ordered_box):
    ``ordered_idx[k]`` is the original index of the k-th box in reading
    order (reference get_ordered_bboxes_idxs, bbox_order.py:371-382).
    """
    return order_segments([(coords, texts, document_width, document_height)])[0]


def assemble_text(texts_in_order: list[str]) -> str:
    """The byte-identity column: space-joined ordered span texts
    (reference ocr_wrapper.py:283-289 / tests/test_googleocr.py:56-57)."""
    return " ".join(texts_in_order)
