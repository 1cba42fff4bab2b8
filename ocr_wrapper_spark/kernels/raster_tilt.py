"""Raster (pixel-space) tilt detection, rotation, and denoise.

Pixel-path analogue of the span-geometry tilt scan in kernels/order.py —
closes the reference's raster kernels:

* ``find_tilt_angle``   — reference tilt_correction_numpy.py:109-320
  (DetectTilt.find_angle): 5x5 contrast convolution, square + dark
  threshold, projection gain via scatter-add over rotated axes, 120-angle
  pre-scan of [-90°, 90°), 5 fine-scan rounds with halved grid + result
  recycling, stretch + cumsum smear, projection-range normalization.
  Documented divergences (no PIL/scipy/torch in this environment): the
  convolution is a direct numpy shift-sum; the EXTRA_ANGLE pre-rotation
  trick (tilt_correction_numpy.py:236-247) is skipped because it exists
  to counter integer-pixel aliasing of PIL's raster rotation near 0°,
  which the stretch factor already handles at our raster sizes. The
  reference's nb_pixel downsize cap (tilt_correction_numpy.py:186-198:
  NEAREST-resample any raster above ~5e5 pixels before detection) IS
  implemented (``downsize_raster``) — it is what keeps the scan both
  fast and on-grid for realistic scan sizes (a 300-dpi letter page is
  8.4 MP; the fat-page profile measures 1024x768+ rasters).
* ``rotate_raster``     — reference utils.py rotate_image (C5), 90°
  steps as numpy rot90 (exact, no resampling).
* ``denoise_raster``    — role of image_pre_processing.py:48-61
  (denoise_image_for_ocr); cv2's NL-means is unavailable, so the
  stand-in is a 3x3 median filter — the standard numpy-only salt-noise
  suppressor with the same pre-OCR purpose.

All functions take 2D numpy float arrays with 0 = white, 1 = dark
(the reference inverts grayscale the same way, :188-190).
"""

from __future__ import annotations

from math import pi

import numpy as np

MIN_NB_DARK_PIXEL = 100  # reference :27
NB_PIXEL = 500_000  # reference :64 nb_pixel default (downsize cap)
NB_PRE_SCAN = 120  # reference nb_pre_scan default
GRID_HALF_SIZE = 20
NB_FINE_SCAN = 5
STRETCH = 4
RADIAN2DEGREE = 180.0 / pi

# reference contrast kernel (:99-108): subtract a weighted neighborhood
# average; homogeneous areas go to zero, edges (glyph strokes) survive
CONTRAST_KERNEL = -np.array(
    [
        [0.5, 0.5, 0.5, 0.5, 0.5],
        [0.5, 1.0, 1.0, 1.0, 0.5],
        [0.5, 1.0, -16, 1.0, 0.5],
        [0.5, 1.0, 1.0, 1.0, 0.5],
        [0.5, 0.5, 0.5, 0.5, 0.5],
    ],
    dtype=np.float32,
)


def _convolve5x5_valid(img: np.ndarray, kernel: np.ndarray) -> np.ndarray:
    """'valid' 5x5 convolution as 25 shifted adds (no scipy)."""
    h, w = img.shape
    if h < 5 or w < 5:
        return np.zeros((max(h - 4, 0), max(w - 4, 0)), dtype=np.float32)
    out = np.zeros((h - 4, w - 4), dtype=np.float32)
    for dy in range(5):
        for dx in range(5):
            # convolution (not correlation): kernel flipped; the kernel
            # is symmetric so the flip is a no-op, kept for exactness
            out += kernel[4 - dy, 4 - dx] * img[dy : dy + h - 4, dx : dx + w - 4]
    return out


def downsize_raster(image: np.ndarray) -> np.ndarray:
    """Reference nb_pixel cap (tilt_correction_numpy.py:186-198): any
    raster above NB_PIXEL pixels is NEAREST-resampled down so
    detection cost is bounded by the cap, not the scan resolution.
    Implemented as index sampling — exactly PIL's NEAREST mapping
    (output pixel (i, j) reads input (floor(i/rf), floor(j/rf)))."""
    h, w = image.shape
    rf = (NB_PIXEL / (w * h)) ** 0.5
    if rf >= 1:
        return image
    yi = np.minimum((np.arange(int(h * rf)) / rf).astype(np.int64), h - 1)
    xi = np.minimum((np.arange(int(w * rf)) / rf).astype(np.int64), w - 1)
    return image[yi][:, xi]


def find_tilt_angle(image: np.ndarray) -> float:
    """Estimated tilt angle in degrees of a text raster (positive =
    text lines rise left-to-right in image coordinates, matching the
    layout engine's tilt_fraction sign)."""
    image = downsize_raster(np.asarray(image, dtype=np.float32))
    t = _convolve5x5_valid(image, CONTRAST_KERNEL)
    t = np.square(np.maximum(0, t))
    if t.size == 0:
        return 0.0
    height, width = t.shape

    diameter = int((width**2 + height**2) ** 0.5)
    diameter += 2 if diameter % 2 == 0 else 3
    row_len = STRETCH * diameter
    y_shift = row_len / 2

    dark_threshold = max(0.0, float(t.mean()))
    idx = np.where(t > dark_threshold)
    if idx[0].shape[0] < MIN_NB_DARK_PIXEL:
        return 0.0
    work_y = STRETCH * (idx[0] - height / 2)
    work_x = STRETCH * (idx[1] - width / 2)
    dark = t[idx].ravel().astype(np.float64)

    def square_sum(test_angles: np.ndarray) -> np.ndarray:
        n = test_angles.shape[0]
        # scatter-add projection: rotate the axis, not the image
        # (reference _calc_scatter_index / _calc_square_sum)
        scatter = (
            np.outer(np.cos(test_angles), work_y)
            + np.outer(np.sin(test_angles), work_x)
            + y_shift
        ).astype(np.int64)
        flat = scatter + (np.arange(n, dtype=np.int64) * row_len)[:, None]
        s = np.bincount(
            flat.ravel(), weights=np.tile(dark, n), minlength=n * row_len
        ).reshape(n, row_len)
        # stretch smear via cumsum difference (reference :166-168)
        s = s.cumsum(axis=1)
        s = s[:, STRETCH:] - s[:, :-STRETCH]
        s -= s.mean(axis=1, keepdims=True)
        prf = np.sqrt(
            (np.sin(test_angles) * width) ** 2 + (np.cos(test_angles) * height) ** 2
        )
        return (s**2).sum(axis=1) * prf

    pre_unit = pi / NB_PRE_SCAN
    pre_angles = np.arange(NB_PRE_SCAN) * pre_unit - pi / 2
    best = float(pre_angles[int(np.argmax(square_sum(pre_angles)))])

    int_grid = np.linspace(
        -GRID_HALF_SIZE, GRID_HALF_SIZE, 2 * GRID_HALF_SIZE + 1, dtype=np.int64
    )
    scale = 2 * pre_unit / GRID_HALF_SIZE
    zero_grid = scale * int_grid.astype(np.float64)
    refine = scale * int_grid[int_grid % 2 == 1].astype(np.float64)

    acc_r = np.zeros(0)
    acc_a = np.zeros(0)
    test = best + zero_grid
    for _ in range(NB_FINE_SCAN):
        r = square_sum(test)
        acc_r = np.concatenate([acc_r, r])
        acc_a = np.concatenate([acc_a, test])
        best = float(acc_a[int(np.argmax(acc_r))])
        refine = refine / 2
        test = best + refine

    return float((best * RADIAN2DEGREE + 90) % 180 - 90)


def rotate_raster(image: np.ndarray, rotation: int) -> np.ndarray:
    """Exact 90°-step raster rotation (CCW, like bbox rotate90_ccw)."""
    if rotation % 90 != 0:
        raise ValueError(f"rotation must be a multiple of 90, got {rotation}")
    return np.rot90(image, (rotation // 90) % 4)


def denoise_raster(image: np.ndarray) -> np.ndarray:
    """3x3 median filter (edges kept unfiltered): removes isolated salt
    pixels before tilt detection / OCR, the role of the reference's
    NL-means denoise."""
    img = np.asarray(image, dtype=np.float32)
    h, w = img.shape
    if h < 3 or w < 3:
        return img.copy()
    stack = np.stack(
        [img[dy : dy + h - 2, dx : dx + w - 2] for dy in range(3) for dx in range(3)],
        axis=0,
    )
    out = img.copy()
    out[1 : h - 1, 1 : w - 1] = np.median(stack, axis=0)
    return out


def render_text_raster(
    tilt_deg: float,
    width: int = 160,
    height: int = 120,
    line_h: int = 9,
    thickness: int = 2,
    word_w: int = 8,
    gap: int = 3,
    margin: int = 10,
    stagger: bool = False,
) -> np.ndarray:
    """Deterministic synthetic page raster: word-like dark dashes along
    text lines tilted by ``tilt_deg``. The encode side of the media
    tables' image payloads (decode = multimodal._decode_image).

    ``stagger`` offsets each line's word phase (like real text, where
    word starts don't align into columns). Default off to keep the
    media tables' payload bytes stable; the fat-page profile turns it
    on — a shared phase puts a page-wide vertical lattice into wide
    rasters, an artifact no real document has, and the ±90° column
    projection then out-gains the true line angle."""
    img = np.zeros((height, width), dtype=np.float32)
    xs = np.arange(margin, width - margin)
    word_mask = (xs - margin) % (word_w + gap) < word_w
    slope = np.tan(np.deg2rad(tilt_deg))
    for k, base in enumerate(range(margin, height - margin, line_h)):
        if stagger:
            phase = (k * 7919) % (word_w + gap)
            word_mask = (xs - margin + phase) % (word_w + gap) < word_w
        # positive tilt: lines rise left-to-right => y decreases with x
        ys = np.round(base - (xs - width / 2) * slope).astype(np.int64)
        for t in range(thickness):
            yy = ys + t
            ok = (yy >= 0) & (yy < height) & word_mask
            img[yy[ok], xs[ok]] = 1.0
    return img
