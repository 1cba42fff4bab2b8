"""Multimodal-column queries: metadata parse, resize plan, frame sampling,
feature extraction. Every derived value except the (stubbed) feature
vector is a closed-form function of doc_id, so DuckDB recomputes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import multimodal as mm
from .relational import register
from .sources.media import synthesize_media, synthesize_scans

_KIND_SQL = "(['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1]"
_META_SQL = f"""
  SELECT doc_id AS media_id,
         {_KIND_SQL} AS kind,
         CASE WHEN {_KIND_SQL} <> 'audio' THEN CAST(320 + (doc_id*37) %% 3000 AS INT) ELSE 0 END AS width,
         CASE WHEN {_KIND_SQL} <> 'audio' THEN CAST(240 + (doc_id*53) %% 2000 AS INT) ELSE 0 END AS height,
         CASE WHEN {_KIND_SQL} = 'audio' THEN 16000 ELSE 0 END AS sample_rate,
         CASE WHEN {_KIND_SQL} <> 'image' THEN CAST(1000 + (doc_id*97) %% 30000 AS INT) ELSE 0 END AS duration_ms,
         CASE WHEN {_KIND_SQL} = 'video'
              THEN CAST(greatest(1, (1000 + (doc_id*97) %% 30000) * 25 // 1000) AS INT)
              WHEN {_KIND_SQL} = 'image' THEN 1 ELSE 0 END AS n_frames
  FROM documents
""".replace("%%", "%")


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mm.with_media_meta(synthesize_media(spark, sf_dir))


@register("media_meta", f"SELECT * FROM ({_META_SQL})")
def media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _media(spark, sf_dir)
    return m.select(
        "media_id",
        F.col("meta.kind").alias("kind"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.sample_rate").alias("sample_rate"),
        F.col("meta.duration_ms").alias("duration_ms"),
        F.col("meta.n_frames").alias("n_frames"),
    )


@register(
    "media_resize_plan",
    f"""
    WITH m AS ({_META_SQL})
    SELECT media_id, kind, width, height,
           CASE WHEN width > 1024 OR height > 1024 THEN
                CASE WHEN width > height THEN 1024
                     ELSE CAST(floor(1024.0 * width / height) AS INT) END
           ELSE width END AS resized_w,
           CASE WHEN width > 1024 OR height > 1024 THEN
                CASE WHEN width > height THEN CAST(floor(1024.0 * height / width) AS INT)
                     ELSE 1024 END
           ELSE height END AS resized_h
    FROM m WHERE kind <> 'audio'
    """,
)
def media_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 resize semantics (utils.py:62-73) as a pure-JVM dims contract."""
    m = _media(spark, sf_dir).filter(F.col("meta.kind") != "audio")
    return mm.resize_plan(m)


@register(
    "media_frame_sample",
    f"""
    WITH m AS ({_META_SQL}),
    v AS (SELECT media_id, duration_ms, n_frames,
                 greatest(CAST(floor(n_frames * 1000.0 / duration_ms) AS BIGINT), 1) AS step
          FROM m WHERE kind = 'video')
    SELECT media_id,
           CAST(f // step AS INT) AS sample_pos,
           f AS frame_idx
    FROM v, unnest(range(0, CAST(n_frames AS BIGINT), step)) AS t(f)
    """,
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mm.sample_frames(_media(spark, sf_dir))


@register(
    "media_raster_tilt",
    # image payloads embed a raster rendered at a closed-form tilt
    # (sources/media.py TILT_ANGLES[doc_id % 7]); the detector must
    # recover it to the nearest degree from pixels alone
    """
    SELECT doc_id AS media_id,
           CAST(([-8,-4,-2,0,2,4,8])[CAST(doc_id % 7 AS INT) + 1] AS BIGINT) AS tilt_deg
    FROM documents WHERE doc_id % 3 = 0
    """,
)
def media_raster_tilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster tilt correction (A7/C12 pixel path, reference
    tilt_correction_numpy.py DetectTilt): decode embedded raster,
    denoise, scatter-add projection gain scan; detected angle rounded to
    the degree must equal the generator's closed form."""
    media = synthesize_media(spark, sf_dir)
    images = media.filter(F.col("media_id") % 3 == 0)
    tilt = mm.detect_raster_tilt(images)
    return tilt.select("media_id", F.round("tilt_deg", 0).cast("long").alias("tilt_deg"))


# barcode pixel width is data-dependent: one bar per bit (wide=2 modules
# for 1, narrow=1 for 0), so width = (103 + popcount(bits)) modules * 2px
# where bits = 8-bit digit-count prefix (10 -> popcount 2) + 4-bit BCD per
# digit of the zero-padded doc_id. The oracle recomputing it from doc_id
# digit popcounts is exactly what proves the decoder measured real pixels.
_BC_POPCOUNT = " + ".join(
    f"bit_count(doc_id // {10**k} % 10)" for k in range(10)
)

_QR_DECODE_ORACLE = f"""
    WITH qr AS (
      SELECT doc_id AS scan_id, 'QRCODE' AS code_type,
             -- fixed-length payload: id mod 10^6 + checksum of the FULL id,
             -- so the 60x36 symbol fits the page at any doc_id
             -- reduce mod 97 BEFORE the multiply: the naive
             -- doc_id * 2654435761 product overflows DuckDB's BIGINT
             -- once doc_id >= ~3.47e9
             printf('DOC-%06d-%02d', doc_id % 1000000,
                    (doc_id % 97) * (2654435761 % 97) % 97) AS code_data,
             CAST(10 + doc_id * 13 % 280 AS INT) AS px_x0,
             CAST(120 + doc_id * 7 % 40 AS INT) AS px_y0,
             60 AS w,
             36 AS h
      FROM documents WHERE doc_id % 2 = 0),
    bc AS (
      SELECT doc_id AS scan_id, 'CODE128' AS code_type,
             lpad(CAST(doc_id % 10000000000 AS VARCHAR), 10, '0') AS code_data,
             CAST(10 + doc_id * 13 % 40 AS INT) AS px_x0,
             CAST(120 + doc_id * 7 % 40 AS INT) AS px_y0,
             206 + 2 * (2 + {_BC_POPCOUNT}) AS w,
             36 AS h
      FROM documents WHERE doc_id % 2 = 1),
    u AS (SELECT * FROM qr UNION ALL SELECT * FROM bc)
    SELECT scan_id, code_type, code_data,
           code_type || '[[' || code_data || ']]' AS code_span,
           px_x0, px_y0,
           CAST(px_x0 + w AS INT) AS px_x1,
           CAST(px_y0 + h AS INT) AS px_y1
    FROM u
"""


@register("media_qr_decode", _QR_DECODE_ORACLE)
def media_qr_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster-domain QR/barcode decode (reference qr_barcodes.py:55-76
    detect_qr_barcodes): each scan page embeds one real code symbol at a
    doc_id-derived position; the decoder binarizes, locates and decodes
    it from pixels alone (kernels/raster_codes.py) and emits the
    reference's TYPE[[DATA]] span text with the symbol's pixel box."""
    return mm.detect_raster_codes(synthesize_scans(spark, sf_dir))


@register(
    "media_features",
    f"""
    WITH m AS ({_META_SQL}),
    hdr AS (
      SELECT media_id,
             'MM01 ' || kind || ' ' || width || ' ' || height || ' ' ||
             sample_rate || ' ' || duration_ms || ' ' || n_frames AS header
      FROM m)
    SELECT media_id, CAST(16 AS BIGINT) AS dim,
           ('0x' || left(md5(header || ':0'), 8))::UBIGINT / 4294967296.0 AS f0,
           ('0x' || left(md5(header || ':15'), 8))::UBIGINT / 4294967296.0 AS f15
    FROM hdr
    """,
)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary media payloads (mapInPandas seam);
    the md5-of-header fake lets DuckDB recompute f0/f15 bit-for-bit."""
    feats = mm.extract_features(synthesize_media(spark, sf_dir))
    return feats.select(
        "media_id",
        F.size("features").cast("long").alias("dim"),
        F.element_at("features", 1).alias("f0"),
        F.element_at("features", 16).alias("f15"),
    )


@register(
    "media_phash_dedup",
    # image rasters are a pure function of doc_id % 7 (the tilt-angle
    # index, sources/media.py image_tilt_for_doc), so perceptual-hash
    # groups must coincide exactly with the residue classes — the hash
    # value itself is engine-specific, the GROUPING is the checked claim
    """
    SELECT min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS n_dupes
    FROM documents WHERE doc_id % 3 = 0
    GROUP BY doc_id % 7
    """,
)
def media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup by perceptual hash (aHash over the decoded raster):
    group identical-content images, keep the lowest id. One map-side-
    combinable aggregate on the 8-byte hash — the image-corpus analogue
    of exact text dedup, with the hash robust to re-encoding. The oracle
    predicts the exact groups closed-form from the generator (7 tilt
    classes), so a wrong decode or hash shows up as a group mismatch."""
    media = synthesize_media(spark, sf_dir)
    images = media.filter(F.col("media_id") % 3 == 0)
    return (
        mm.with_image_phash(images)
        .groupBy("phash")
        .agg(F.min("media_id").alias("keeper"), F.count("*").alias("n_dupes"))
        .select("keeper", "n_dupes")
    )
