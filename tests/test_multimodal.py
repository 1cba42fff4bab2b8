"""Multimodal column tests: header parse, resize-dim contract (C8
semantics), frame sampling, feature plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_wrapper_spark.operators import multimodal as mm
from ocr_wrapper_spark.sources.media import build_media_payload, media_attrs, synthesize_media

SF = "/root/testdata/sf0.001"


def test_header_roundtrip():
    for doc_id in (0, 1, 2, 77, 1234):
        meta = mm.parse_media_header(build_media_payload(doc_id))
        kind, w, h, sr, dur, nf = media_attrs(doc_id)
        assert meta == {
            "kind": kind, "width": w, "height": h,
            "sample_rate": sr, "duration_ms": dur, "n_frames": nf,
        }


def test_parse_rejects_non_media():
    assert mm.parse_media_header(b"not media") is None
    assert mm.parse_media_header(None) is None


def test_image_payload_decodes_real_raster():
    from ocr_wrapper_spark.sources.media import RASTER_H, RASTER_W

    p = build_media_payload(3)  # doc_id % 3 == 0 -> image with embedded raster
    a = mm._decode_image(p)
    assert a.shape == (RASTER_H, RASTER_W)
    assert (a == mm._decode_image(p)).all()
    assert a.max() == 255 and a.min() == 0  # dark strokes on white


def test_fake_decode_deterministic_for_non_image():
    p = build_media_payload(1)  # audio: no raster body -> deterministic fake
    a = mm._decode_image(p)
    b = mm._decode_image(p)
    assert (a == b).all()
    assert a.shape == (8, 8)


def test_real_codec_seam_raises_for_non_image():
    with pytest.raises(NotImplementedError):
        mm._decode_image(build_media_payload(1), fake=False)


def test_resize_dims_reference_semantics(spark):
    # mirror utils.py:62-73: cap longest side, keep ratio, int truncation
    rows = [(1, 2048, 1000), (2, 1000, 2048), (3, 800, 600), (4, 1024, 1024)]
    df = spark.createDataFrame(rows, "media_id int, w int, h int")
    new_w, new_h = mm.resize_dims(F.col("w"), F.col("h"), 1024)
    got = {r.media_id: (r.nw, r.nh) for r in df.select("media_id", new_w.alias("nw"), new_h.alias("nh")).collect()}
    assert got[1] == (1024, int(1024 * 1000 / 2048))
    assert got[2] == (int(1024 * 1000 / 2048), 1024)
    assert got[3] == (800, 600)
    assert got[4] == (1024, 1024)


def test_media_pipeline_end_to_end(spark):
    media = mm.with_media_meta(synthesize_media(spark, SF))
    n = media.count()
    assert n == spark.read.parquet(f"{SF}/documents.parquet").count()
    kinds = {r.kind for r in media.select(F.col("meta.kind").alias("kind")).distinct().collect()}
    assert kinds == {"image", "audio", "video"}

    feats = mm.extract_features(synthesize_media(spark, SF))
    row = feats.orderBy("media_id").first()
    assert len(row.features) == mm.FEATURE_DIM
    # deterministic across runs
    row2 = mm.extract_features(synthesize_media(spark, SF)).orderBy("media_id").first()
    assert row.features == row2.features


def test_image_ahash_groups_by_content(spark):
    """aHash: identical rasters hash equal, different tilt classes hash
    differently (all 7 generator angles distinct), and the hash is
    partitioning-invariant."""
    from ocr_wrapper_spark.operators.multimodal import image_ahash, _decode_image
    from ocr_wrapper_spark.sources.media import build_media_payload, TILT_ANGLES
    import numpy as np

    # doc_ids 0,3,6,...: image kind; tilt class = doc_id % 7
    ids = [i for i in range(0, 63, 3)]
    hashes = {i: image_ahash(_decode_image(build_media_payload(i))) for i in ids}
    by_class = {}
    for i, h in hashes.items():
        by_class.setdefault(i % 7, set()).add(h)
    assert all(len(s) == 1 for s in by_class.values())  # same class -> same hash
    distinct = {next(iter(s)) for s in by_class.values()}
    assert len(distinct) == len(by_class)  # different class -> different hash


def test_phash_null_for_corrupt_png_payload(spark):
    """Undecodable image payloads must get a NULL phash (never merged),
    even when the body sniffs as PNG but is corrupt."""
    good = build_media_payload(6)
    corrupt = b"MM01 image 160 120 0 0 1\n\x89PNG\r\n\x1a\ngarbage"
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(corrupt))], "media_id long, payload binary"
    )
    rows = {r.media_id: r.phash for r in mm.with_image_phash(df).collect()}
    assert rows[1] is not None and rows[2] is None
