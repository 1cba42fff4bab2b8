"""Raster (pixel-space) QR/barcode encode + decode.

Pixel-path analogue of the reference's zbar-backed code detection
(ref: qr_barcodes.py:55-76 `_detect_raw_qr_barcodes`): binarize the
grayscale raster at mid-level, locate the symbol, decode its data, and
emit ``TYPE[[DATA]]`` text (ref: qr_barcodes.py:28-39
`_decoded_to_ocr_text`) with the symbol's pixel bounding box (ref:
qr_barcodes.py:8-25 `_decoded_to_coordinate_list`).

Documented divergence: pyzbar/zbar is unavailable in this environment,
so the symbologies are deterministic stand-ins (same role as the
denoise/median stand-in in raster_tilt.py) that keep the reference's
*decode contract* — data must be recovered from pixels alone, never
from row metadata:

* ``QRCODE``  — a 2D matrix symbol: 1-module solid frame, quiet pad,
  a timing row (alternating modules, for module-count verification),
  then row-major data modules (8-bit length prefix + ASCII payload).
  The decoder measures module size from the frame thickness, verifies
  the timing row, and samples module centers.
* ``CODE128`` — a 1D bar symbol (role of the reference's linear
  barcodes): 3-module start bar, then one bar per bit (wide=1,
  narrow=0, 1-module gaps), 3-module stop bar; payload is an 8-bit
  digit-count prefix + 4-bit BCD digits. The decoder measures module
  size from the start/stop bars and classifies bar widths.

All rasters are 2D float arrays with 0 = white, 1 = dark (same
convention as raster_tilt.py / the reference's inverted grayscale).
"""

from __future__ import annotations

import numpy as np

QR_MODULE_PX = 3  # encoder default; the DECODER measures it from pixels
QR_DATA_COLS = 16  # data modules per row (format constant, like a QR version)
BC_MODULE_PX = 2
BC_BAR_H = 36
BC_EDGE_MODULES = 3  # start/stop bar width in modules
_QR_MIN_RUN = 40  # px: min horizontal solid run that can be a frame edge
_BC_MIN_RUN = 30  # px: min vertical solid run that can be a bar


# ---------------------------------------------------------------------------
# bit helpers
# ---------------------------------------------------------------------------


def _bytes_to_bits(data: bytes) -> np.ndarray:
    return np.unpackbits(np.frombuffer(data, dtype=np.uint8))


def _bits_to_bytes(bits: np.ndarray) -> bytes:
    return np.packbits(bits.astype(np.uint8)).tobytes()


# ---------------------------------------------------------------------------
# encoders
# ---------------------------------------------------------------------------


def qr_matrix(data: str) -> np.ndarray:
    """Module grid (bool, dark=True) for an ASCII payload: frame, pad,
    timing row, row-major data bits (length byte + payload), pad, frame."""
    raw = data.encode("ascii")
    if len(raw) > 255:
        raise ValueError("payload too long for the 8-bit length prefix")
    bits = _bytes_to_bits(bytes([len(raw)]) + raw)
    n_rows = -(-bits.shape[0] // QR_DATA_COLS)
    padded = np.zeros(n_rows * QR_DATA_COLS, dtype=bool)
    padded[: bits.shape[0]] = bits.astype(bool)
    data_grid = padded.reshape(n_rows, QR_DATA_COLS)

    w = QR_DATA_COLS + 4  # frame + pad each side
    h = n_rows + 5  # frame, pad, timing, data rows, pad, frame
    g = np.zeros((h, w), dtype=bool)
    g[0, :] = g[-1, :] = g[:, 0] = g[:, -1] = True  # frame
    g[2, 2:-2] = np.arange(QR_DATA_COLS) % 2 == 0  # timing: dark/white/...
    g[3 : 3 + n_rows, 2:-2] = data_grid
    return g


def render_qr(img: np.ndarray, data: str, x0: int, y0: int) -> tuple[int, int]:
    """Draw the symbol at (x0, y0); returns (width, height) in pixels."""
    g = qr_matrix(data)
    px = np.repeat(np.repeat(g, QR_MODULE_PX, axis=0), QR_MODULE_PX, axis=1)
    h, w = px.shape
    img[y0 : y0 + h, x0 : x0 + w] = np.maximum(img[y0 : y0 + h, x0 : x0 + w], px)
    return w, h


def barcode_widths(digits: str) -> list[int]:
    """Bar widths in modules, left to right (gaps are always 1 module):
    start bar, one bar per bit of (count byte + 4-bit BCD digits), stop."""
    if not digits.isdigit():
        raise ValueError("barcode payload must be digits")
    if len(digits) > 255:
        raise ValueError("too many digits for the 8-bit count prefix")
    bits: list[int] = []
    for b in _bytes_to_bits(bytes([len(digits)])):
        bits.append(int(b))
    for ch in digits:
        d = int(ch)
        bits.extend((d >> s) & 1 for s in (3, 2, 1, 0))
    return [BC_EDGE_MODULES] + [2 if b else 1 for b in bits] + [BC_EDGE_MODULES]


def render_barcode(img: np.ndarray, digits: str, x0: int, y0: int) -> tuple[int, int]:
    """Draw the bar symbol at (x0, y0); returns (width, height) in pixels."""
    x = x0
    for w_mod in barcode_widths(digits):
        w_px = w_mod * BC_MODULE_PX
        img[y0 : y0 + BC_BAR_H, x : x + w_px] = 1.0
        x += w_px + BC_MODULE_PX  # 1-module gap
    x -= BC_MODULE_PX  # no gap after the stop bar
    return x - x0, BC_BAR_H


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def _solid_run_starts(b: np.ndarray, win: int, axis: int) -> np.ndarray:
    """Boolean array of positions where a solid dark run of >= win starts
    along ``axis``: run-sum via one cumulative sum instead of a
    sliding_window_view ``.all`` reduction (O(H*W) not O(H*W*win);
    identical positions — a window is all-dark iff its sum equals win)."""
    c = np.cumsum(b, axis=axis, dtype=np.int32)
    if axis == 1:
        pad = np.zeros((b.shape[0], 1), dtype=np.int32)
        c = np.concatenate([pad, c], axis=1)
        return (c[:, win:] - c[:, :-win]) == win
    pad = np.zeros((1, b.shape[1]), dtype=np.int32)
    c = np.concatenate([pad, c], axis=0)
    return (c[win:, :] - c[:-win, :]) == win


def _solid_row_hits(b: np.ndarray, win: int) -> np.ndarray:
    """(y, x) positions where a horizontal solid dark run of >= win starts."""
    return np.argwhere(_solid_run_starts(b, win, axis=1))


def _extent(row: np.ndarray, x: int) -> tuple[int, int]:
    """Contiguous dark extent [lo, hi] around x in a boolean 1D array."""
    lo = x
    while lo > 0 and row[lo - 1]:
        lo -= 1
    hi = x
    while hi + 1 < row.shape[0] and row[hi + 1]:
        hi += 1
    return lo, hi


def _decode_qr(b: np.ndarray):
    hits = _solid_row_hits(b, _QR_MIN_RUN)
    if hits.shape[0] == 0:
        return None
    y0 = int(hits[0, 0])
    x_hit = int(hits[hits[:, 0] == y0][0, 1])
    x_lo, x_hi = _extent(b[y0], x_hit)
    sym_w = x_hi - x_lo + 1

    # frame thickness = module size: consecutive full-run rows from the top
    t = 0
    while y0 + t < b.shape[0] and b[y0 + t, x_lo : x_hi + 1].all():
        t += 1
    if t == 0 or sym_w % t:
        return None
    w_mod_total = sym_w // t
    n_cols = w_mod_total - 4
    if n_cols != QR_DATA_COLS:
        return None

    # bottom frame: the last full-run row below the top band
    full = np.argwhere(b[:, x_lo : x_hi + 1].all(axis=1)).ravel()
    y1 = int(full.max())
    sym_h = y1 - y0 + 1
    if sym_h % t:
        return None
    n_data_rows = sym_h // t - 5
    if n_data_rows <= 0:
        return None
    # side edges must be solid for the full height
    if not (b[y0 : y1 + 1, x_lo : x_lo + t].all() and b[y0 : y1 + 1, x_hi - t + 1 : x_hi + 1].all()):
        return None

    # timing row: alternating modules starting dark
    inner_x = x_lo + 2 * t
    centers_x = inner_x + np.arange(n_cols) * t + t // 2
    timing_y = y0 + 2 * t + t // 2
    timing = b[timing_y, centers_x]
    if not np.array_equal(timing, np.arange(n_cols) % 2 == 0):
        return None

    data_y0 = y0 + 3 * t
    rows_y = data_y0 + np.arange(n_data_rows) * t + t // 2
    bits = b[np.ix_(rows_y, centers_x)].ravel()
    payload = _bits_to_bytes(bits)
    length = payload[0]
    if length > len(payload) - 1:
        return None
    data = payload[1 : 1 + length].decode("ascii", errors="replace")
    return "QRCODE", data, x_lo, y0, x_lo + sym_w, y0 + sym_h


def _decode_barcode(b: np.ndarray):
    col_full = _solid_run_starts(b, _BC_MIN_RUN, axis=0)
    col_hit = col_full.any(axis=0)
    xs = np.flatnonzero(col_hit)
    if xs.shape[0] == 0:
        return None
    # group contiguous columns into bars
    breaks = np.flatnonzero(np.diff(xs) > 1)
    starts = np.concatenate(([0], breaks + 1))
    ends = np.concatenate((breaks, [xs.shape[0] - 1]))
    bars = [(int(xs[s]), int(xs[e] - xs[s] + 1)) for s, e in zip(starts, ends)]
    if len(bars) < 3:
        return None

    # vertical extent of the first bar: the contiguous run CONTAINING a
    # >= _BC_MIN_RUN stretch (other dark content above/below the symbol,
    # e.g. text lines, must not stretch the box)
    mid = bars[0][0] + bars[0][1] // 2
    run_starts = np.flatnonzero(col_full[:, mid])
    if run_starts.shape[0] == 0:
        return None
    y_top, y_bot = _extent(b[:, mid], int(run_starts[0]))

    start_w, stop_w = bars[0][1], bars[-1][1]
    module_px = round(start_w / BC_EDGE_MODULES)
    if module_px <= 0 or round(stop_w / BC_EDGE_MODULES) != module_px:
        return None
    bits = np.array(
        [1 if round(w / module_px) >= 2 else 0 for _, w in bars[1:-1]], dtype=np.uint8
    )
    if bits.shape[0] < 8:
        return None
    n_digits = int(_bits_to_bytes(bits[:8])[0])
    if bits.shape[0] != 8 + 4 * n_digits:
        return None
    digit_bits = bits[8:].reshape(n_digits, 4)
    digits = "".join(str(int(d[0]) * 8 + int(d[1]) * 4 + int(d[2]) * 2 + int(d[3])) for d in digit_bits)
    x_last, w_last = bars[-1]
    return "CODE128", digits, bars[0][0], y_top, x_last + w_last, y_bot + 1


def decode_codes(image: np.ndarray) -> list[tuple[str, str, int, int, int, int]]:
    """Decode code symbols from a raster. Returns a list of
    (type, data, px_x0, px_y0, px_x1, px_y1) — pixel box corners as in
    the reference's rect-derived coordinate list (x1/y1 exclusive =
    left+width / top+height). Binarizes at mid-level first (ref:
    qr_barcodes.py:62-63 point(x < 128 -> 0))."""
    b = np.asarray(image, dtype=np.float32) >= 0.5
    out = []
    # rasters smaller than the detection windows cannot carry a symbol
    # (and sliding_window_view rejects over-size windows): zero codes
    if b.ndim != 2:
        return out
    qr = _decode_qr(b) if b.shape[1] >= _QR_MIN_RUN and b.shape[0] >= 3 else None
    if qr is not None:
        out.append(qr)
        return out
    bc = _decode_barcode(b) if b.shape[0] >= _BC_MIN_RUN and b.shape[1] >= 3 else None
    if bc is not None:
        out.append(bc)
    return out


def code_span_text(code_type: str, data: str) -> str:
    """ref: qr_barcodes.py:28-39 — the TYPE[[DATA]] OCR-text stand-in."""
    return f"{code_type}[[{data}]]"
