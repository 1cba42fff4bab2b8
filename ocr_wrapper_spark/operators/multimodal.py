"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Image decode is REAL: payload rasters are PNG-compressed
(sources/media.py via kernels/png_codec.py) and `_decode_image`
decompresses them with PIL when importable, else the repo's pure PNG
codec — identical pixels either way. Audio/video decode remains a
deterministic fake behind the same seam (no audio codec in the
container); the Spark-side plumbing — schema, partitioning, Arrow
batch shape, UDF signatures — is real and tested.

Operators:
* ``with_media_meta``     — parse the typed header out of the payload
* ``resize_plan``         — aspect-preserving resize dims, exact semantics
                            of the reference's resize_image (utils.py:62-73)
* ``sample_frames``       — deterministic every-k-th frame selection
* ``extract_features``    — per-media embedding (md5-of-header fake,
                            stable across runs/workers and exactly
                            reproducible by the DuckDB oracle)

Media payload format (synthesized by sources/media.py):
    MM01 <kind> <width> <height> <sample_rate> <duration_ms> <n_frames>\n
    <opaque bytes>
"""

from __future__ import annotations

from hashlib import blake2b, md5

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_MAGIC = b"MM01"

META_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)

FEATURE_DIM = 16


def parse_media_header(payload: bytes | None) -> dict | None:
    """None for non-MM01 or malformed headers (truncated / non-numeric
    fields) — a hostile payload must degrade, never kill the task."""
    if not payload or payload[:4] != MEDIA_MAGIC:
        return None
    header = payload.split(b"\n", 1)[0].decode("ascii", errors="replace").split(" ")
    try:
        return {
            "kind": header[1],
            "width": int(header[2]),
            "height": int(header[3]),
            "sample_rate": int(header[4]),
            "duration_ms": int(header[5]),
            "n_frames": int(header[6]),
        }
    except (IndexError, ValueError):
        return None


def _decode_png_bytes(data: bytes) -> np.ndarray:
    """Real compressed-image decode: PIL when importable (the
    reference's ingest codec, ocr_wrapper.py:103), else the repo's pure
    PNG implementation (kernels/png_codec.py) — both produce identical
    pixels for the lossless formats the corpus carries. RGB collapses
    to luminance (ITU-R 601, the PIL 'L' convert) since every pixel
    kernel here consumes grayscale."""
    try:
        from PIL import Image  # container usually lacks PIL; codec-seam parity
        from io import BytesIO

        img = np.asarray(Image.open(BytesIO(data)).convert("RGB"), dtype=np.uint8)
    except ImportError:
        from ..kernels.png_codec import decode_png

        img = decode_png(data)
    if img.ndim == 3:
        lum = img[:, :, 0] * 0.299 + img[:, :, 1] * 0.587 + img[:, :, 2] * 0.114
        return np.clip(np.rint(lum), 0, 255).astype(np.uint8)
    return img


def _decode_image(payload: bytes, fake: bool = True) -> np.ndarray:
    """Decode seam. Image payloads from sources/media.py embed a real
    PNG-compressed uint8 grayscale raster in the body — decoded for real
    here (PIL when present, kernels/png_codec.py otherwise); legacy raw
    uncompressed bodies still decode via the size-match paths. For
    non-image payloads the fake path derives a deterministic tiny raster
    from the payload hash so downstream shapes stay real."""
    from ..kernels.png_codec import is_png
    from ..sources.media import RASTER_H, RASTER_W

    body = payload.split(b"\n", 1)[1] if b"\n" in payload else b""
    png = body if is_png(body) else (payload if is_png(payload) else None)
    if png is not None:  # body, or a bare image file with no MM01 envelope
        try:
            return _decode_png_bytes(png)
        except Exception:
            # corrupt PNG: degrade to the deterministic fake raster below
            # (hostile inputs degrade, never kill the task); surface the
            # failure only when the caller demanded a real decode
            if not fake:
                raise
    if len(body) == RASTER_W * RASTER_H:
        return np.frombuffer(body, dtype=np.uint8).reshape(RASTER_H, RASTER_W)
    # scan pages (sources/media.py synthesize_scans) carry true raster
    # dims in the header; media-table image headers carry the synthetic
    # display dims instead, hence the fixed-size check above goes first
    meta = parse_media_header(payload)
    if meta and meta["kind"] == "image" and len(body) == meta["width"] * meta["height"]:
        return np.frombuffer(body, dtype=np.uint8).reshape(meta["height"], meta["width"])
    if not fake:
        raise NotImplementedError(
            "payload is neither PNG nor a raw raster; no codec for this "
            "format in this environment — use fake=True (deterministic raster)"
        )
    h = blake2b(payload, digest_size=8).digest()
    rng = np.frombuffer(h, dtype=np.uint64)[0]
    side = 8
    base = np.arange(side * side, dtype=np.uint64) * np.uint64(2654435761) + rng
    return (base % np.uint64(256)).astype(np.uint8).reshape(side, side)


def with_media_meta(df: DataFrame) -> DataFrame:
    """Typed metadata column from the payload header (Arrow-batched)."""

    @F.pandas_udf(META_STRUCT)
    def meta_udf(p: pd.Series) -> pd.DataFrame:
        rows = [parse_media_header(v) or dict.fromkeys(META_STRUCT.fieldNames()) for v in p]
        return pd.DataFrame(rows)

    return df.withColumn("meta", meta_udf(F.col("payload")))


RESIZE_MAX_SIZE = 1024  # longest side after resizing (reference utils.py:62)
FRAME_EVERY_MS = 1000  # video frame sampling stride


def resize_dims(w, h):
    """Aspect-preserving cap of the longest side at RESIZE_MAX_SIZE —
    exact reference semantics incl. int truncation (utils.py:62-73).
    Pure JVM expressions so the DuckDB oracle can recompute them."""
    new_w = F.when(
        (w > RESIZE_MAX_SIZE) | (h > RESIZE_MAX_SIZE),
        F.when(w > h, F.lit(RESIZE_MAX_SIZE)).otherwise((F.lit(RESIZE_MAX_SIZE) * w / h).cast("int")),
    ).otherwise(w)
    new_h = F.when(
        (w > RESIZE_MAX_SIZE) | (h > RESIZE_MAX_SIZE),
        F.when(w > h, (F.lit(RESIZE_MAX_SIZE) * h / w).cast("int")).otherwise(F.lit(RESIZE_MAX_SIZE)),
    ).otherwise(h)
    return new_w, new_h


def resize_plan(df: DataFrame) -> DataFrame:
    """(media_id, width, height) -> resized dims (no pixel work: the
    raster op is executor-local in the real pipeline; the dims contract
    is what downstream layout math consumes)."""
    new_w, new_h = resize_dims(F.col("meta.width"), F.col("meta.height"))
    return df.select(
        "media_id",
        F.col("meta.kind").alias("kind"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        new_w.alias("resized_w"),
        new_h.alias("resized_h"),
    )


def sample_frames(df: DataFrame) -> DataFrame:
    """Video frame sampling: deterministic frame indices at a fixed time
    stride (JVM sequence; one row per sampled frame)."""
    fps_num = F.col("meta.n_frames") * 1000.0 / F.col("meta.duration_ms")
    idx = F.sequence(
        F.lit(0),
        F.col("meta.n_frames") - 1,
        F.greatest(F.floor(fps_num * FRAME_EVERY_MS / 1000.0).cast("long"), F.lit(1)),
    )
    return (
        df.filter(F.col("meta.kind") == "video")
        .select("media_id", F.posexplode(idx).alias("sample_pos", "frame_idx"))
    )


def fake_feature_vector(payload: bytes) -> list[float]:
    """Deterministic stand-in for a real encoder: dim-i feature is the
    first 32 md5 bits of ``<header>:<i>`` scaled to [0,1). Exact in
    float64 (32 < 53 mantissa bits), so the DuckDB oracle recomputes it
    bit-for-bit: ('0x' || left(md5(header || ':' || i), 8))::UBIGINT / 2^32."""
    header = payload.split(b"\n", 1)[0]
    return [
        int(md5(header + b":%d" % i).hexdigest()[:8], 16) / 2**32
        for i in range(FEATURE_DIM)
    ]


def detect_raster_tilt(df: DataFrame) -> DataFrame:
    """Pixel-space tilt detection over image payloads (reference
    tilt_correction_numpy.py:109-320 via kernels/raster_tilt.py): decode
    the embedded raster, optional denoise, scatter-add gain scan. Runs
    as mapInPandas batches; identical rasters within a batch are detected
    once (md5 memo — the same role as the content-hash cache table)."""
    from hashlib import md5 as _md5

    from ..kernels.raster_tilt import denoise_raster, find_tilt_angle

    def op(batches):
        memo: dict[bytes, float] = {}
        for pdf in batches:
            angles = []
            for payload in pdf["payload"]:
                key = _md5(payload).digest()
                a = memo.get(key)
                if a is None:
                    raster = _decode_image(payload).astype(np.float64) / 255.0
                    a = find_tilt_angle(denoise_raster(raster))
                    memo[key] = a
                angles.append(a)
            out = pd.DataFrame({"media_id": pdf["media_id"]})
            out["tilt_deg"] = np.asarray(angles)
            yield out

    return df.select("media_id", "payload").mapInPandas(
        op, schema="media_id long, tilt_deg double"
    )


def detect_raster_codes(df: DataFrame) -> DataFrame:
    """Pixel-space QR/barcode detection over image payloads (reference
    qr_barcodes.py:55-76 via kernels/raster_codes.py): decode the raster,
    binarize, locate + decode the symbol, emit one row per code with
    TYPE[[DATA]] span text and the pixel box corners. mapInPandas keeps
    the payload column out of the operator's output (JVM would re-encode
    it) and lets one page yield zero or many code rows."""
    from ..kernels.raster_codes import code_span_text, decode_codes

    def op(batches):
        for pdf in batches:
            rows = {k: [] for k in
                    ("scan_id", "code_type", "code_data", "code_span",
                     "px_x0", "px_y0", "px_x1", "px_y1")}
            for mid, payload in zip(pdf["scan_id"], pdf["payload"]):
                raster = _decode_image(payload).astype(np.float32) / 255.0
                for ctype, data, x0, y0, x1, y1 in decode_codes(raster):
                    rows["scan_id"].append(mid)
                    rows["code_type"].append(ctype)
                    rows["code_data"].append(data)
                    rows["code_span"].append(code_span_text(ctype, data))
                    rows["px_x0"].append(x0)
                    rows["px_y0"].append(y0)
                    rows["px_x1"].append(x1)
                    rows["px_y1"].append(y1)
            yield pd.DataFrame(rows)

    return df.select("scan_id", "payload").mapInPandas(
        op,
        schema="scan_id long, code_type string, code_data string, "
        "code_span string, px_x0 int, px_y0 int, px_x1 int, px_y1 int",
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Per-media feature vector via mapInPandas (Arrow batches): the fake
    extractor hashes the payload header; a real model slots into the same
    batch signature (payload bytes in, float array out)."""

    def op(batches):
        for pdf in batches:
            feats = [fake_feature_vector(p) for p in pdf["payload"]]
            yield pd.DataFrame({"media_id": pdf["media_id"], "features": feats})

    return df.select("media_id", "payload").mapInPandas(
        op, schema="media_id long, features array<double>"
    )


def image_ahash(img: np.ndarray) -> int:
    """Average hash (aHash, public pHash-family heuristic): 8 x 8
    block means thresholded at their overall mean, packed row-major into
    a signed 64-bit int. Robust to resolution changes, sensitive to
    content — the standard cheap image near-dup key. Rasters smaller
    than the grid in either axis use the largest grid that fits (a 1x1
    image still hashes) instead of crashing the task."""
    a = img.astype(np.float64)
    h, w = a.shape
    g = max(1, min(8, h, w))
    bh, bw = h // g, w // g
    blocks = a[: bh * g, : bw * g].reshape(g, bh, g, bw).mean(axis=(1, 3))
    bits = (blocks > blocks.mean()).ravel()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def with_image_phash(df: DataFrame) -> DataFrame:
    """Perceptual-hash column over image payloads (Arrow batches): decode
    the embedded raster, aHash it. Identical rasters get identical
    hashes at any partitioning — the dedup key for image corpora.
    Undecodable payloads get a NULL phash (hostile inputs degrade, never
    kill the task — the contract every media operator here keeps) and so
    are never merged with anything."""

    def op(batches):
        for pdf in batches:
            hashes = []
            for p in pdf["payload"]:
                try:
                    # fake=False: an undecodable payload must yield a
                    # NULL phash (never merged) — the degrade-to-fake
                    # raster path would hand corrupt payloads a real,
                    # groupable hash
                    hashes.append(image_ahash(_decode_image(p, fake=False)))
                except Exception:
                    hashes.append(None)
            out = pdf.drop(columns=["payload"]).copy()
            out["phash"] = pd.Series(hashes, dtype="Int64", index=pdf.index)
            yield out

    fields = [f for f in df.schema.fields if f.name != "payload"]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields) + ", phash long"
    return df.mapInPandas(op, schema=schema)
