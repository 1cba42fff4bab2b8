"""Vectorized bounding-box kernel.

Re-implements (from scratch, over numpy arrays instead of per-object
Python) the invariants of the reference's ``BBox`` dataclass:

* canonicalization gate — clip, range-check, corner reassignment,
  collapsed-edge expansion (reference bbox.py:129-217, SURVEY.md §1.4)
* to_pixels / to_normalized (bbox.py:389-437)
* rotate by k*90 deg CCW about the origin (bbox.py:604-643)
* split along the longer edge at a ratio (bbox_utils.py:25-91)
* polygon area + pairwise intersection-area ratio (bbox.py:521-545,
  bbox_utils.py:94-109)

A box set is a float64 array of shape (n, 8) with columns
``TLx TLy TRx TRy BRx BRy BLx BLy``. All functions are pure and
deterministic (fixed dtype, no parallel reductions) so they can serve as
byte-identity oracles for the Spark UDFs that wrap them.
"""

from __future__ import annotations

import numpy as np

# column indices into the (n, 8) coordinate array
TLX, TLY, TRX, TRY, BRX, BRY, BLX, BLY = range(8)

# collapsed-edge expansion amounts (reference bbox.py:194-207)
EXPAND_PIXELS = 1.0
EXPAND_RELATIVE = 0.001
# relative coords may exceed 1 by this leeway before being rejected
# (reference bbox.py:168 "Give a little bit of leeway")
RELATIVE_LEEWAY = 1.01


def empty_boxes() -> np.ndarray:
    return np.zeros((0, 8), dtype=np.float64)


def validate_relative(coords: np.ndarray) -> None:
    """Reject relative coords outside [0, 1.01] (reference bbox.py:156-171)."""
    if coords.size and (coords.min() < 0.0 or coords.max() > RELATIVE_LEEWAY):
        bad = coords[(coords < 0.0) | (coords > RELATIVE_LEEWAY)]
        raise ValueError(
            f"BBox claimed to not be in pixel values, but contained value "
            f"{bad.flat[0]}, which is out of the range [0,1]"
        )


def canonicalize(coords: np.ndarray, in_pixels: bool, validate: bool = True) -> np.ndarray:
    """The invariant gate every box passes through (reference bbox.py:129-217).

    1. clip all coordinates at >= 0
    2. (relative only) range check against [0, 1.01]
    3. re-assign corners: stable-sort the 4 points by x, split into
       left/right halves, stable-sort each half by y
    4. expand collapsed edges by +1 px / +0.001 relative
    """
    coords = np.asarray(coords, dtype=np.float64)
    if coords.ndim == 1:
        coords = coords.reshape(1, 8)
    if coords.shape[0] == 0:
        return coords.copy()

    coords = np.maximum(coords, 0.0)
    if validate and not in_pixels:
        validate_relative(coords)

    # boxes already strictly canonical (left pair strictly left of right
    # pair, tops strictly above bottoms) are fixed points of the corner
    # sort and cannot have collapsed edges: the sort/expansion is the
    # identity on them, so it runs on the other rows only. Strict
    # inequalities rule out tie-order effects; NaN rows are never canonical.
    ok = (
        (coords[:, TLX] < coords[:, TRX])
        & (coords[:, BLX] < coords[:, BRX])
        & (coords[:, TLX] < coords[:, BRX])
        & (coords[:, BLX] < coords[:, TRX])
        & (coords[:, TLY] < coords[:, BLY])
        & (coords[:, TRY] < coords[:, BRY])
    )
    if ok.all():
        return coords  # np.maximum above already made a fresh array
    rows = np.flatnonzero(~ok)
    coords[rows] = _sort_corners(coords[rows], EXPAND_PIXELS if in_pixels else EXPAND_RELATIVE)
    return coords


def _sort_corners(coords: np.ndarray, eps: float) -> np.ndarray:
    """Corner reassignment and collapsed-edge expansion, row by row."""
    # points stacked in the reference's pointlist order [TL, TR, BR, BL]
    # (bbox.py:174-180) so stable-sort tie-breaking matches list.sort().
    pts = coords.reshape(-1, 4, 2)  # (n, 4, 2) already TL,TR,BR,BL order
    n = pts.shape[0]
    xs_order = np.argsort(pts[:, :, 0], axis=1, kind="stable")  # (n, 4)
    sorted_pts = np.take_along_axis(pts, xs_order[:, :, None], axis=1)
    left, right = sorted_pts[:, :2, :], sorted_pts[:, 2:, :]
    lo = np.argsort(left[:, :, 1], axis=1, kind="stable")
    ro = np.argsort(right[:, :, 1], axis=1, kind="stable")
    left = np.take_along_axis(left, lo[:, :, None], axis=1)
    right = np.take_along_axis(right, ro[:, :, None], axis=1)

    out = np.empty((n, 8), dtype=np.float64)
    out[:, TLX], out[:, TLY] = left[:, 0, 0], left[:, 0, 1]
    out[:, BLX], out[:, BLY] = left[:, 1, 0], left[:, 1, 1]
    out[:, TRX], out[:, TRY] = right[:, 0, 0], right[:, 0, 1]
    out[:, BRX], out[:, BRY] = right[:, 1, 0], right[:, 1, 1]

    # expand collapsed edges, same pair order as the reference
    for a, b in ((TLX, TRX), (BLX, BRX), (TLY, BLY), (TRY, BRY)):
        eq = out[:, a] == out[:, b]
        out[eq, b] = out[eq, a] + eps
    return out


def check_canonical(coords: np.ndarray) -> np.ndarray:
    """Boolean mask of rows satisfying the post-init assertions (bbox.py:209-217)."""
    return (
        (coords[:, TLX] < coords[:, TRX])
        & (coords[:, BLX] < coords[:, BRX])
        & (coords[:, TLY] < coords[:, BLY])
        & (coords[:, TRY] < coords[:, BRY])
    )


def from_xywh(x, y, w, h) -> np.ndarray:
    """Vectorized BBox.from_xywh (reference bbox.py:219-238); inputs broadcast."""
    x, y, w, h = (np.atleast_1d(np.asarray(v, dtype=np.float64)) for v in (x, y, w, h))
    return np.stack([x, y, x + w, y, x + w, y + h, x, y + h], axis=-1).reshape(-1, 8)


def to_pixels(coords: np.ndarray, width: int, height: int) -> np.ndarray:
    """Relative -> pixel space (reference bbox.py:389-405)."""
    scale = np.array([width, height] * 4, dtype=np.float64)
    return canonicalize(coords * scale, in_pixels=True)


def to_normalized(coords: np.ndarray, width: int, height: int) -> np.ndarray:
    """Pixel -> relative space, clamped into [0,1] (reference bbox.py:407-437)."""
    scale = np.array([width, height] * 4, dtype=np.float64)
    rel = np.clip(coords / scale, 0.0, 1.0)
    return canonicalize(rel, in_pixels=False)


def rotate90_ccw(coords: np.ndarray) -> np.ndarray:
    """One 90 deg CCW rotation of normalized boxes about the origin, shifted
    back into [0,1]: (x, y) -> (y, 1 - x)  (reference bbox.py:604-623)."""
    pts = np.asarray(coords, dtype=np.float64).reshape(-1, 4, 2)
    out = np.empty_like(pts)
    out[:, :, 0] = pts[:, :, 1]
    out[:, :, 1] = 1.0 - pts[:, :, 0]
    return canonicalize(out.reshape(-1, 8), in_pixels=False)


def rotate(coords: np.ndarray, angle: int) -> np.ndarray:
    """Rotate by 0/90/180/270 deg CCW (reference bbox.py:625-643)."""
    if angle == 0:
        return np.asarray(coords, dtype=np.float64).reshape(-1, 8).copy()
    if angle not in (90, 180, 270):
        raise ValueError(f"Only 90, 180, and 270 are valid angles, but {angle} was given")
    out = coords
    for _ in range(angle // 90):
        out = rotate90_ccw(out)
    return out


def split(coords: np.ndarray, ratio: float) -> tuple[np.ndarray, np.ndarray]:
    """Split each box along its longer edge at ``ratio``
    (reference bbox_utils.py:25-91; interpolation :20-22).

    Returns (first_halves, second_halves); caller re-canonicalizes via the
    BBox constructor semantics, which we apply here directly.
    """
    c = np.asarray(coords, dtype=np.float64).reshape(-1, 8)
    top_len = np.hypot(c[:, TRX] - c[:, TLX], c[:, TRY] - c[:, TLY])
    side_len = np.hypot(c[:, BLX] - c[:, TLX], c[:, BLY] - c[:, TLY])
    along_top = top_len >= side_len

    def lerp(ax, ay, bx, by):
        return ax + ratio * (bx - ax), ay + ratio * (by - ay)

    out1 = np.empty_like(c)
    out2 = np.empty_like(c)

    # split along the top edge
    ntx, nty = lerp(c[:, TLX], c[:, TLY], c[:, TRX], c[:, TRY])
    nbx, nby = lerp(c[:, BLX], c[:, BLY], c[:, BRX], c[:, BRY])
    out1_top = np.stack([c[:, TLX], c[:, TLY], ntx, nty, nbx, nby, c[:, BLX], c[:, BLY]], axis=1)
    out2_top = np.stack([ntx, nty, c[:, TRX], c[:, TRY], c[:, BRX], c[:, BRY], nbx, nby], axis=1)

    # split along the side edge
    nlx, nly = lerp(c[:, TLX], c[:, TLY], c[:, BLX], c[:, BLY])
    nrx, nry = lerp(c[:, TRX], c[:, TRY], c[:, BRX], c[:, BRY])
    out1_side = np.stack([c[:, TLX], c[:, TLY], nrx, nry, c[:, TRX], c[:, TRY], nlx, nly], axis=1)
    out2_side = np.stack([nlx, nly, nrx, nry, c[:, BRX], c[:, BRY], c[:, BLX], c[:, BLY]], axis=1)

    m = along_top[:, None]
    out1 = np.where(m, out1_top, out1_side)
    out2 = np.where(m, out2_top, out2_side)
    # the reference builds BBox(...) from these points -> canonicalization runs
    return (
        canonicalize(out1, in_pixels=False, validate=False),
        canonicalize(out2, in_pixels=False, validate=False),
    )


def area(coords: np.ndarray) -> np.ndarray:
    """Shoelace area of the TL-TR-BR-BL quad (== shapely Polygon.area,
    reference bbox.py:521-532)."""
    p = np.asarray(coords, dtype=np.float64).reshape(-1, 4, 2)
    x, y = p[:, :, 0], p[:, :, 1]
    x2, y2 = np.roll(x, -1, axis=1), np.roll(y, -1, axis=1)
    return 0.5 * np.abs(np.sum(x * y2 - x2 * y, axis=1))


def _is_axis_aligned(coords: np.ndarray) -> bool:
    c, tol = coords, 1e-12
    return bool(
        np.all(np.abs(c[:, TLY] - c[:, TRY]) <= tol)
        and np.all(np.abs(c[:, BLY] - c[:, BRY]) <= tol)
        and np.all(np.abs(c[:, TLX] - c[:, BLX]) <= tol)
        and np.all(np.abs(c[:, TRX] - c[:, BRX]) <= tol)
    )


def _clip_poly(subject: list[tuple[float, float]], cp1, cp2) -> list[tuple[float, float]]:
    """Sutherland-Hodgman: clip polygon by half-plane left of cp1->cp2."""

    def inside(p):
        return (cp2[0] - cp1[0]) * (p[1] - cp1[1]) - (cp2[1] - cp1[1]) * (p[0] - cp1[0]) >= 0

    def intersect(s, e):
        dcx, dcy = cp1[0] - cp2[0], cp1[1] - cp2[1]
        dpx, dpy = s[0] - e[0], s[1] - e[1]
        n1 = cp1[0] * cp2[1] - cp1[1] * cp2[0]
        n2 = s[0] * e[1] - s[1] * e[0]
        den = dcx * dpy - dcy * dpx
        if den == 0:
            return e
        return ((n1 * dpx - n2 * dcx) / den, (n1 * dpy - n2 * dcy) / den)

    out: list[tuple[float, float]] = []
    if not subject:
        return out
    s = subject[-1]
    for e in subject:
        if inside(e):
            if not inside(s):
                out.append(intersect(s, e))
            out.append(e)
        elif inside(s):
            out.append(intersect(s, e))
        s = e
    return out


def _quad_intersection_area(a: np.ndarray, b: np.ndarray) -> float:
    """Exact convex-quad intersection area (general fallback path)."""
    # TL-TR-BR-BL is CCW in standard orientation (screen y points down),
    # which is what the left-of-edge test needs
    poly = [(a[0], a[1]), (a[2], a[3]), (a[4], a[5]), (a[6], a[7])]
    clip = [(b[0], b[1]), (b[2], b[3]), (b[4], b[5]), (b[6], b[7])]
    for i in range(4):
        poly = _clip_poly(poly, clip[i], clip[(i + 1) % 4])
        if not poly:
            return 0.0
    xs = np.array([p[0] for p in poly])
    ys = np.array([p[1] for p in poly])
    return float(0.5 * np.abs(np.sum(xs * np.roll(ys, -1) - np.roll(xs, -1) * ys)))


def intersection_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Pairwise intersection areas, shape (len(a), len(b)).

    Fast path: both sets axis-aligned -> vectorized rectangle clipping.
    General path: AABB prefilter + exact Sutherland-Hodgman per candidate
    pair (replaces the reference's rtree + shapely at per-doc scale,
    bbox_utils.py:94-131; n per doc is 10^2-10^3 so O(n^2) broadcast
    is cheap inside the Arrow batch).
    """
    a = np.asarray(a, dtype=np.float64).reshape(-1, 8)
    b = np.asarray(b, dtype=np.float64).reshape(-1, 8)
    na, nb = a.shape[0], b.shape[0]
    if na == 0 or nb == 0:
        return np.zeros((na, nb), dtype=np.float64)

    ax0 = a[:, 0::2].min(axis=1)[:, None]
    ax1 = a[:, 0::2].max(axis=1)[:, None]
    ay0 = a[:, 1::2].min(axis=1)[:, None]
    ay1 = a[:, 1::2].max(axis=1)[:, None]
    bx0 = b[:, 0::2].min(axis=1)[None, :]
    bx1 = b[:, 0::2].max(axis=1)[None, :]
    by0 = b[:, 1::2].min(axis=1)[None, :]
    by1 = b[:, 1::2].max(axis=1)[None, :]

    iw = np.minimum(ax1, bx1) - np.maximum(ax0, bx0)
    ih = np.minimum(ay1, by1) - np.maximum(ay0, by0)
    aabb_area = np.clip(iw, 0.0, None) * np.clip(ih, 0.0, None)

    if _is_axis_aligned(a) and _is_axis_aligned(b):
        return aabb_area

    out = np.zeros((na, nb), dtype=np.float64)
    ii, jj = np.nonzero(aabb_area > 0.0)
    for i, j in zip(ii.tolist(), jj.tolist()):
        out[i, j] = _quad_intersection_area(a[i], b[j])
    return out


def intersection_area_ratio_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(i, j) = area(a_i ∩ b_j) / area(a_i)  (reference bbox_utils.py:94-109)."""
    inter = intersection_matrix(a, b)
    a_area = area(a)
    with np.errstate(divide="ignore", invalid="ignore"):
        out = np.where(a_area[:, None] > 0.0, inter / a_area[:, None], 0.0)
    return out
