"""Pure-Python PNG codec (stdlib zlib + numpy) — the real-image-codec
seam filler.

The reference ingests real compressed images via PIL
(ref: ocr_wrapper/ocr_wrapper.py:103 ``Image.open``; pdf2image at
ref: pyproject.toml:11) and re-compresses before provider upload
(``_pil_img_to_compressed``, aws.py:40). This container has no PIL, so
the repo carries its own deterministic PNG implementation: a strict
subset encoder (8-bit greyscale or RGB, filter 0, one IDAT) and a
spec-complete-enough decoder (bit depth 8, colour types 0/2/3/4/6, all
five scanline filters, non-interlaced). ``operators/multimodal.py``
prefers PIL when importable and falls back here, so the same payloads
decode identically in either environment.

PNG is public spec (RFC 2083 / ISO 15948); the filter reconstruction
below follows the published Paeth/Sub/Up/Average definitions.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# Decode-side hostile-payload bounds: the engine's synthetic pages top
# out around 1224x1584, so 16k per side / 256 MB decoded is generous
# headroom for real scans while keeping a crafted IHDR (or a 1000:1
# deflate bomb) from allocating gigabytes inside an Arrow batch.
MAX_DIM = 1 << 14
MAX_DECODED_BYTES = 1 << 28


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """uint8 array (H,W) grey or (H,W,3) RGB -> PNG bytes. Filter 0 on
    every scanline and a fixed zlib level keep the output byte-stable
    across runs/workers (the content-hash cache requires it)."""
    a = np.ascontiguousarray(img)
    if a.dtype != np.uint8:
        raise ValueError(f"encode_png expects uint8, got {a.dtype}")
    if a.ndim == 2:
        colour, channels = 0, 1
    elif a.ndim == 3 and a.shape[2] == 3:
        colour, channels = 2, 3
    else:
        raise ValueError(f"encode_png expects (H,W) or (H,W,3), got {a.shape}")
    h, w = a.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, colour, 0, 0, 0)
    # filter byte 0 prefixed per scanline
    raw = np.empty((h, 1 + w * channels), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = a.reshape(h, w * channels)
    idat = zlib.compress(raw.tobytes(), 6)
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def is_png(payload: bytes) -> bool:
    return payload[: len(PNG_MAGIC)] == PNG_MAGIC


_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _unfilter(raw: np.ndarray, h: int, w: int, ch: int) -> np.ndarray:
    """Reverse the five PNG scanline filters (spec §6). Row-sequential by
    necessity (Up/Paeth depend on the prior reconstructed row); the
    per-row work is vectorized where the filter allows."""
    stride = w * ch
    rows = raw.reshape(h, 1 + stride)
    if not rows[:, 0].any():  # all scanlines filter 0 (our own encoder's
        return rows[:, 1:].copy()  # output): no reconstruction needed
    out = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = int(rows[y, 0])
        line = rows[y, 1:].astype(np.int32)
        if ftype == 0:
            rec = line
        elif ftype == 2:  # Up
            rec = (line + prior) & 0xFF
        elif ftype == 1:  # Sub
            rec = line.copy()
            for x in range(ch, stride):
                rec[x] = (rec[x] + rec[x - ch]) & 0xFF
        elif ftype == 3:  # Average
            rec = line.copy()
            p = prior.astype(np.int32)
            for x in range(stride):
                left = rec[x - ch] if x >= ch else 0
                rec[x] = (rec[x] + ((left + p[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            rec = line.copy()
            p = prior.astype(np.int32)
            for x in range(stride):
                a = rec[x - ch] if x >= ch else 0
                b = p[x]
                c = p[x - ch] if x >= ch else 0
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (rec[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = rec.astype(np.uint8)
        prior = out[y]
    return out


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes -> uint8 array: (H,W) for greyscale, (H,W,3) for RGB.
    Palette images expand through PLTE; alpha channels are dropped
    (the extraction kernels consume luminance/RGB only). Bit depth 8,
    non-interlaced — the shapes real OCR-scan corpora overwhelmingly
    use; anything else raises ValueError (callers surface it as an
    error row, never a task failure)."""
    if not is_png(payload):
        raise ValueError("not a PNG payload")
    try:
        return _decode_png_checked(payload)
    except ValueError:
        raise
    except Exception as exc:  # zlib.error / struct.error / truncation
        raise ValueError(f"corrupt PNG: {type(exc).__name__}: {exc}") from exc


def _decode_png_checked(payload: bytes) -> np.ndarray:
    pos = len(PNG_MAGIC)
    width = height = None
    colour = depth = interlace = None
    plte = None
    idat = bytearray()
    n = len(payload)
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + tag + body + crc
        if tag == b"IHDR":
            width, height, depth, colour, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif tag == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if depth != 8 or interlace != 0:
        raise ValueError(f"unsupported PNG (depth={depth}, interlace={interlace})")
    ch = _CHANNELS.get(colour)
    if ch is None:
        raise ValueError(f"unsupported PNG colour type {colour}")
    # Bomb guard: size-check the IHDR *before* inflating, and cap the
    # inflate at the declared raster size — a crafted payload (absurd
    # IHDR dims, or a ~1000:1 deflate ratio) must fail cheaply instead
    # of materializing hundreds of MB per row inside an Arrow batch.
    if width == 0 or height == 0:
        raise ValueError(f"PNG dims {width}x{height} out of range")
    expect = height * (1 + width * ch)
    if width > MAX_DIM or height > MAX_DIM or expect > MAX_DECODED_BYTES:
        raise ValueError(f"PNG dims {width}x{height} out of range")
    dec = zlib.decompressobj()
    data = dec.decompress(bytes(idat), expect + 1)
    if len(data) > expect:
        raise ValueError(f"PNG data size >{expect} exceeds expected {expect}")
    raw = np.frombuffer(data, dtype=np.uint8)
    if raw.size != expect:
        raise ValueError(f"PNG data size {raw.size} != expected {expect}")
    img = _unfilter(raw, height, width, ch).reshape(height, width, ch)
    if colour == 0:
        return img[:, :, 0]
    if colour == 2:
        return img
    if colour == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        idx = img[:, :, 0]
        if idx.max(initial=0) >= len(plte):
            raise ValueError("palette index out of range")
        return plte[idx]
    if colour == 4:  # grey+alpha -> grey
        return img[:, :, 0]
    return img[:, :, :3]  # RGBA -> RGB
