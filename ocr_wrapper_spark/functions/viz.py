"""Span visualization exports — the reference's last public ``__all__``
members re-expressed raster-native.

Mirrors ``draw_bboxes`` + ``get_label2color_dict`` (ref:
ocr_wrapper/bbox.py:647 and :60-93, exported at __init__.py:3): label ->
hex-color assignment from tiered palettes (smallest palette that fits,
repeat after 64 — the contract of ref:tests/test_bbox.py:87-95), a
brightness normalizer (``get_color_with_defined_brightness``,
bbox.py:23-58), and a deterministic numpy polygon renderer in place of
the reference's PIL/ImageDraw path (no PIL in this container; pixels
come from/return to kernels/png_codec.py).

The palettes are generated here, not copied: evenly-spread HSV hues
over [30, 330] degrees — red hues (±30 around 0) are excluded, like the
reference reserves red for errors — with a saturation/value cycle for
neighbor contrast. Sizes 2/3/4/8/16/32/64 match the reference's tier
structure; uniqueness per tier is asserted at import.

Glyph note: the reference renders label texts with a bundled TTF via
PIL; without a font rasterizer this renderer marks each text as a
fontsize-scaled label bar at the reference's text anchor
(TLx+10, TLy-fontsize-3). Geometry, colors, fills, stroke widths and
augment jitter are full-fidelity.
"""

from __future__ import annotations

import colorsys

import numpy as np

PALETTE_SIZES = (2, 3, 4, 8, 16, 32, 64)

_NAMED_COLORS = {
    "black": (0, 0, 0), "white": (255, 255, 255), "red": (255, 0, 0),
    "green": (0, 128, 0), "lime": (0, 255, 0), "blue": (0, 0, 255),
    "yellow": (255, 255, 0), "cyan": (0, 255, 255), "magenta": (255, 0, 255),
    "gray": (128, 128, 128), "grey": (128, 128, 128), "orange": (255, 165, 0),
    "purple": (128, 0, 128), "brown": (165, 42, 42), "pink": (255, 192, 203),
    "navy": (0, 0, 128),
}

# saturation/value cycle: neighbors on the hue wheel also differ in
# lightness, which keeps adjacent labels tellable-apart at 64 colors
_SV_CYCLE = ((0.85, 0.92), (0.60, 0.70), (0.95, 0.55), (0.45, 0.95))


def _make_palette(n: int) -> list[str]:
    out = []
    for i in range(n):
        hue = (30.0 + (300.0 * i) / n) / 360.0  # [30, 330) degrees: no reds
        sat, val = _SV_CYCLE[i % len(_SV_CYCLE)]
        r, g, b = colorsys.hsv_to_rgb(hue, sat, val)
        out.append(f"#{int(r * 255):02x}{int(g * 255):02x}{int(b * 255):02x}")
    return out


PALLETS: list[list[str]] = [_make_palette(n) for n in PALETTE_SIZES]
for _p in PALLETS:
    assert len(set(_p)) == len(_p), "palette tier has duplicate colors"


def get_label2color_dict(labels: list[str]) -> dict[str, str]:
    """Label -> hex color (ref: bbox.py:60-93): dedupe + sort the
    labels, pick the smallest palette tier that fits, assign in order;
    beyond 64 labels the largest tier repeats (modulo), so there are
    never more than 64 distinct colors."""
    labels = sorted(set(labels))
    pallet: list[str] = PALLETS[-1]
    for pallet in PALLETS:
        if len(pallet) >= len(labels):
            break
    return {label: pallet[i % len(pallet)] for i, label in enumerate(labels)}


def parse_color(color) -> tuple[int, int, int] | None:
    """'#rgb' / '#rrggbb' / a small named set -> (r, g, b); None when
    unparsable (the reference's ImageColor fallback behavior)."""
    if color is None:
        return None
    if isinstance(color, tuple):
        return tuple(int(c) for c in color[:3])  # type: ignore[return-value]
    s = str(color).strip().lower()
    if s.startswith("#"):
        h = s[1:]
        if len(h) == 3:
            h = "".join(c * 2 for c in h)
        if len(h) == 6:
            try:
                return tuple(int(h[i : i + 2], 16) for i in (0, 2, 4))  # type: ignore[return-value]
            except ValueError:
                return None
        return None
    return _NAMED_COLORS.get(s)


def get_color_with_defined_brightness(color, goal_brightness: float = 0.5) -> str:
    """Scale a color to a target mean brightness (ref: bbox.py:23-58):
    brightness = mean(RGB)/255, each channel scaled by
    goal/(brightness+eps) and clamped — unparsable colors pass through
    unchanged, exactly like the reference's except path."""
    rgb = parse_color(color)
    if rgb is None:
        return color
    red, green, blue = rgb
    brightness = (red + green + blue) / 3 / 255
    scale = goal_brightness / (brightness + 0.0001)
    red = min(255, int(red * scale))
    green = min(255, int(green * scale))
    blue = min(255, int(blue * scale))
    return f"#{red:02x}{green:02x}{blue:02x}"


def _as_list(v, n: int) -> list:
    return list(v) if isinstance(v, list) else [v] * n


def _augment_quad(quad: np.ndarray, max_augment: float, seed: int) -> np.ndarray:
    """Deterministic version of the reference's random bbox jitter
    (BBox.get_augmented semantics: shift each corner by up to
    max_augment of the box size; seeded Knuth-hash uniforms like
    functions/convert.spans_augmented so runs are reproducible)."""
    if max_augment <= 0.0:
        return quad
    xs, ys = quad[0::2], quad[1::2]
    w = max(1.0, xs.max() - xs.min())
    h = max(1.0, ys.max() - ys.min())
    u = np.empty(8, dtype=np.float64)
    for i in range(8):
        k = ((seed * 8 + i + 1) * 2654435761) % (2**32)
        u[i] = k / 2**32
    out = quad.astype(np.float64).copy()
    out[0::2] += (u[0::2] * 2 - 1) * max_augment * w
    out[1::2] += (u[1::2] * 2 - 1) * max_augment * h
    return out


def _blend_mask(img: np.ndarray, mask: np.ndarray, rgb, alpha: float) -> None:
    if alpha <= 0.0 or not mask.any():
        return
    sel = img[mask].astype(np.float64)
    img[mask] = np.clip(
        np.rint(sel * (1 - alpha) + np.asarray(rgb, dtype=np.float64) * alpha), 0, 255
    ).astype(np.uint8)


def _quad_window(h: int, w: int, quad: np.ndarray) -> tuple[int, int, int, int]:
    """Clipped integer bbox (y0, y1, x0, x1) of a quad — masks are built
    on this subrectangle only, so per-box cost scales with the box, not
    the page (a 1224x1584 page with hundreds of word quads must not
    allocate hundreds of full-page grids)."""
    xs, ys = quad[0::2], quad[1::2]
    x0 = max(0, int(np.floor(xs.min())))
    x1 = min(w, int(np.ceil(xs.max())) + 1)
    y0 = max(0, int(np.floor(ys.min())))
    y1 = min(h, int(np.ceil(ys.max())) + 1)
    return y0, max(y0, y1), x0, max(x0, x1)


def _polygon_mask_window(h: int, w: int, quad: np.ndarray):
    """Even-odd scanline fill of a quad — vectorized per edge, computed
    and returned on the quad's clipped bounding window (y0, y1, x0, x1,
    sub-mask). Per-box cost scales with the box, not the page."""
    wy0, wy1, wx0, wx1 = _quad_window(h, w, quad)
    if wy1 <= wy0 or wx1 <= wx0:
        return wy0, wy1, wx0, wx1, np.zeros((0, 0), dtype=bool)
    ys = np.arange(wy0, wy1, dtype=np.float64)[:, None] + 0.5
    xs = np.arange(wx0, wx1, dtype=np.float64)[None, :] + 0.5
    cx, cy = quad[0::2], quad[1::2]
    sub = np.zeros((wy1 - wy0, wx1 - wx0), dtype=bool)
    n = len(cx)
    for i in range(n):
        x0, y0 = cx[i], cy[i]
        x1, y1 = cx[(i + 1) % n], cy[(i + 1) % n]
        if y0 == y1:
            continue
        cond = (ys >= np.minimum(y0, y1)) & (ys < np.maximum(y0, y1))
        xint = x0 + (ys - y0) * (x1 - x0) / (y1 - y0)
        sub ^= cond & (xs < xint)
    return wy0, wy1, wx0, wx1, sub


def _clip_segment(x0, y0, x1, y1, xmin, xmax, ymin, ymax):
    """Liang-Barsky segment/rect clip. Returns clipped endpoints or
    None when the segment misses the rect entirely. In-rect segments
    come back unchanged (t0=0, t1=1), so clipping is a no-op for
    ordinary page geometry."""
    dx, dy = x1 - x0, y1 - y0
    t0, t1 = 0.0, 1.0
    for p, q in ((-dx, x0 - xmin), (dx, xmax - x0), (-dy, y0 - ymin), (dy, ymax - y0)):
        if p == 0.0:
            if q < 0.0:
                return None
            continue
        r = q / p
        if p < 0.0:
            if r > t1:
                return None
            if r > t0:
                t0 = r
        else:
            if r < t0:
                return None
            if r < t1:
                t1 = r
    return (x0 + t0 * dx, y0 + t0 * dy, x0 + t1 * dx, y0 + t1 * dy)


def _stroke_points(h: int, w: int, quad: np.ndarray, width: int):
    """Outline pixel coordinates: sample each edge densely (clamped to
    the page like the original renderer), then stamp width x width
    offset squares, clipped — deterministic, no AA. Returns (ys, xs)
    index arrays.

    Each edge is first clipped to the page window padded by the stroke
    width, so sample count is bounded by the page perimeter no matter
    how large the (finite) quad coordinates are — a hostile span with
    1e8-pixel corners samples at most the on-page portion instead of
    allocating arrays proportional to the raw edge length. The pad
    keeps the existing border behavior: an edge on or just past the
    page border still renders the full stroke width inward."""
    cx, cy = quad[0::2], quad[1::2]
    n = len(cx)
    r = max(0, (int(width) - 1) // 2)
    offs = np.arange(-r, int(width) - r)  # width offsets around the sample
    pad = float(int(width) + 2)
    all_y, all_x = [], []
    for i in range(n):
        seg = _clip_segment(
            cx[i], cy[i], cx[(i + 1) % n], cy[(i + 1) % n],
            -pad, w - 1 + pad, -pad, h - 1 + pad,
        )
        if seg is None:
            continue
        x0, y0, x1, y1 = seg
        steps = int(max(abs(x1 - x0), abs(y1 - y0)) * 2) + 2
        # clamp the SAMPLE first, offset second: an edge on (or past)
        # the page border still renders the full stroke width inward
        exs = np.clip(np.rint(np.linspace(x0, x1, steps)).astype(np.int64), 0, w - 1)
        eys = np.clip(np.rint(np.linspace(y0, y1, steps)).astype(np.int64), 0, h - 1)
        shape = (steps, len(offs), len(offs))
        sy = np.clip(eys[:, None, None] + offs[None, :, None], 0, h - 1)
        sx = np.clip(exs[:, None, None] + offs[None, None, :], 0, w - 1)
        all_y.append(np.broadcast_to(sy, shape).ravel())
        all_x.append(np.broadcast_to(sx, shape).ravel())
    if not all_y:  # every edge clipped away (box far off-page)
        empty = np.zeros(0, dtype=np.int64)
        return empty, empty
    return np.concatenate(all_y), np.concatenate(all_x)


def draw_bboxes(
    img: np.ndarray,
    quads: np.ndarray,
    *,
    texts="",
    colors="blue",
    strokewidths=3,
    fill_colors="blue",
    fill_opacities=0.0,
    fontsize: int = 10,
    max_augment: float = 0.0,
) -> np.ndarray:
    """Draw normalized span quads on a raster (ref: bbox.py:647-744).

    ``img``: (H, W) grey or (H, W, 3) RGB uint8; ``quads``: (n, 8)
    normalized [0,1] corner coords (the engine's span geometry column).
    Scalar or per-box lists for texts/colors/strokewidths/fill_colors/
    fill_opacities, the reference's broadcast rule and its exact
    length-mismatch error; fontsize scales as (fontsize/1000)*width.
    Returns a new RGB uint8 array — the input is never mutated."""
    a = np.asarray(img)
    if a.ndim == 2:
        a = np.repeat(a[:, :, None], 3, axis=2)
    out = a.astype(np.uint8).copy()
    h, w = out.shape[:2]
    quads = np.asarray(quads, dtype=np.float64).reshape(-1, 8)
    n = len(quads)

    texts = _as_list(texts, n)
    colors = _as_list(colors, n)
    strokewidths = _as_list(strokewidths, n)
    fill_colors = _as_list(fill_colors, n)
    fill_opacities = _as_list(fill_opacities, n)
    if not (n == len(texts) == len(colors) == len(strokewidths) == len(fill_colors) == len(fill_opacities)):
        raise Exception(
            f"Length of bboxes ({n}) and texts ({len(texts)}) and colors ({len(colors)}) and "
            f"strokewidths ({len(strokewidths)}) and fill_colors ({len(fill_colors)}) and "
            f"fill_opacities ({len(fill_opacities)}) must be the same"
        )

    px_fontsize = max(1, int((fontsize / 1000) * w))
    scale = np.array([w, h] * 4, dtype=np.float64)

    for i in range(n):
        quad = _augment_quad(quads[i] * scale, max_augment, seed=i)
        if not np.isfinite(quad).all():
            # hostile geometry (NaN/Inf span coords) renders nothing —
            # degrade, never kill the task
            continue
        stroke_rgb = parse_color(colors[i])
        fill_rgb = parse_color(fill_colors[i])
        opacity = float(fill_opacities[i])
        if fill_rgb is not None and opacity >= 0.01:
            y0, y1, x0, x1, sub = _polygon_mask_window(h, w, quad)
            if sub.size:
                _blend_mask(out[y0:y1, x0:x1], sub, fill_rgb, opacity)
        if stroke_rgb is not None:
            sy, sx = _stroke_points(h, w, quad, int(strokewidths[i]))
            out[sy, sx] = stroke_rgb

        text = texts[i]
        if text:
            trgb = parse_color(colors[i])
            if trgb is not None:
                # label bar at the reference's text anchor (no TTF here)
                tx = int(quad[0::2].min()) + 10
                ty = int(quad[1::2].min()) - px_fontsize - 3
                bar_w = max(1, int(len(str(text)) * px_fontsize * 0.6))
                y0, y1 = np.clip([ty, ty + max(1, px_fontsize // 4)], 0, h)
                x0, x1 = np.clip([tx, tx + bar_w], 0, w)
                out[y0:y1, x0:x1] = trgb
    return out
