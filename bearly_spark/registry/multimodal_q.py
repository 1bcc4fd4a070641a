"""Multimodal binary columns: ingest, decode/feature-extract, frame sampling."""

from __future__ import annotations

import pyspark.sql.functions as F

from bearly_spark.operators import multimodal as M
from bearly_spark.sources.tables import load_table

from bearly_spark.registry._core import register


# ===================================================================
# LLM-pipeline: multimodal columns
# ===================================================================


@register(
    "multimodal_ingest",
    oracle="""
    SELECT doc_id, 'text/plain' AS modality,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def q_multimodal_ingest(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    p = M.attach_payload(d)
    return p.select(
        "doc_id",
        F.col("meta.modality").alias("modality"),
        F.col("meta.payload_bytes").cast("long").alias("payload_bytes"),
        F.col("meta.content_md5").alias("content_md5"),
    )


# Oracle twin of the REAL BMP decode (round 9): the planted 16x16
# 24-bit BMP's pixel array is the document's UTF-8 bytes cycled to 768
# bytes, so DuckDB recomputes every pixel byte as text_byte[j mod L]
# without parsing BMP — byte extraction is a digit-lookup strpos over
# hex(encode(text)) (no lambdas, no build-sensitive casts), channel is
# j mod 3 in in-file B,G,R order, and every compared statistic is an
# exact integer.
_BMP_W, _BMP_H = 16, 16
_BMP_PX = _BMP_W * 3 * _BMP_H  # 48-byte rows, already 4-byte aligned
_HEXU = "'0123456789ABCDEF'"
_BMP_BYTE_SQL = (
    f"(strpos({_HEXU}, substr(hx, ((j % L) * 2) + 1, 1)) - 1) * 16"
    f" + (strpos({_HEXU}, substr(hx, ((j % L) * 2) + 2, 1)) - 1)"
)


@register(
    "multimodal_decode_features",
    oracle=f"""
    WITH base AS (SELECT doc_id, hex(encode(text)) AS hx,
                         octet_length(encode(text)) AS L
                  FROM documents),
    px AS (SELECT doc_id, j, ({_BMP_BYTE_SQL}) AS b, j % 3 AS ch, j // 3 AS pix
           FROM base, (SELECT unnest(range({_BMP_PX})) AS j)),
    per AS (SELECT doc_id,
                   SUM(CASE WHEN ch = 2 THEN b ELSE 0 END) AS sum_r,
                   SUM(CASE WHEN ch = 1 THEN b ELSE 0 END) AS sum_g,
                   SUM(CASE WHEN ch = 0 THEN b ELSE 0 END) AS sum_b,
                   SUM(b * b) AS sumsq_rgb
            FROM px GROUP BY doc_id),
    mx AS (SELECT doc_id, SUM(mb) AS sum_max
           FROM (SELECT doc_id, pix, MAX(b) AS mb FROM px GROUP BY 1, 2)
           GROUP BY doc_id)
    SELECT base.doc_id, 'image/bmp' AS modality,
           CAST({54 + _BMP_PX} AS BIGINT) AS payload_bytes,
           CAST({_BMP_W} AS BIGINT) AS width, CAST({_BMP_H} AS BIGINT) AS height,
           CAST(sum_r AS BIGINT) AS sum_r, CAST(sum_g AS BIGINT) AS sum_g,
           CAST(sum_b AS BIGINT) AS sum_b, CAST(sumsq_rgb AS BIGINT) AS sumsq_rgb,
           CAST(sum_max AS BIGINT) AS sum_max,
           CAST({_BMP_W * _BMP_H} AS BIGINT) AS n_pixels
    FROM base JOIN per ON base.doc_id = per.doc_id
              JOIN mx ON base.doc_id = mx.doc_id
    """,
)
def q_multimodal_decode(spark, sf_dir):
    """REAL media decode over the mapInPandas stage (round 9 — the
    decode step is no longer a stub): each document's bytes are planted
    as a genuine 16x16 24-bit uncompressed BMP
    (``multimodal.plant_bmp_payload`` — header + pixel array the twin
    can regenerate byte-for-byte), then ``multimodal.bmp_image_features``
    parses the header, slices the pixel array and emits exact-integer
    pixel statistics (per-channel sums, sum of squares, per-pixel-max
    sum) — decoder pinned to the BMP path so an environment-installed
    Pillow cannot change the compared values."""
    d = load_table(spark, sf_dir, "documents")
    planted = M.plant_bmp_payload(d, width=_BMP_W, height=_BMP_H)
    feats = M.decode_features(planted, decoder=M.bmp_image_features)
    names = ["width", "height", "sum_r", "sum_g", "sum_b", "sumsq_rgb",
             "sum_max", "n_pixels"]
    return feats.select(
        "doc_id",
        "modality",
        "payload_bytes",
        *[
            F.round(F.col("feature")[i]).cast("long").alias(name)
            for i, name in enumerate(names)
        ],
    )


# Oracle twin of the REAL WAV decode (round 9, the audio sibling of the
# BMP twin): the planted mono 16-bit PCM payload's data chunk is the
# document's UTF-8 bytes cycled to 512 bytes, so DuckDB recomputes each
# sample as the little-endian int16 of two cycled bytes.
_WAV_N = 256


def _wav_byte_sql(expr: str) -> str:
    return (
        f"(strpos({_HEXU}, substr(hx, (({expr}) % L) * 2 + 1, 1)) - 1) * 16"
        f" + (strpos({_HEXU}, substr(hx, (({expr}) % L) * 2 + 2, 1)) - 1)"
    )


@register(
    "multimodal_wav_decode_features",
    oracle=f"""
    WITH base AS (SELECT doc_id, hex(encode(text)) AS hx,
                         octet_length(encode(text)) AS L
                  FROM documents),
    sm AS (SELECT doc_id,
                  ({_wav_byte_sql("i * 2")})
                  + 256 * ({_wav_byte_sql("i * 2 + 1")})
                  - CASE WHEN ({_wav_byte_sql("i * 2 + 1")}) >= 128
                         THEN 65536 ELSE 0 END AS s
           FROM base, (SELECT unnest(range({_WAV_N})) AS i)),
    agg AS (SELECT doc_id, SUM(s) AS sum_s, SUM(s * s) AS sumsq_s,
                   MIN(s) AS min_s, MAX(s) AS max_s
            FROM sm GROUP BY doc_id)
    SELECT base.doc_id, 'audio/wav' AS modality,
           CAST({44 + 2 * _WAV_N} AS BIGINT) AS payload_bytes,
           CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS n_channels,
           CAST(16 AS BIGINT) AS bits, CAST({_WAV_N} AS BIGINT) AS n_samples,
           CAST(sum_s AS BIGINT) AS sum_s, CAST(sumsq_s AS BIGINT) AS sumsq_s,
           CAST(min_s AS BIGINT) AS min_s, CAST(max_s AS BIGINT) AS max_s
    FROM base JOIN agg ON base.doc_id = agg.doc_id
    """,
)
def q_multimodal_wav_decode(spark, sf_dir):
    """REAL audio decode over the mapInPandas stage (round 9 — the WAV
    sibling of the BMP path): each document's bytes plant as a genuine
    mono 16-bit PCM WAV (``multimodal.plant_wav_payload``), then
    ``multimodal.wav_audio_features`` walks the RIFF chunks and emits
    exact-integer sample statistics; the twin recomputes every int16
    sample from the cycled text bytes. Decoder pinned so an installed
    Pillow cannot change the compared values."""
    d = load_table(spark, sf_dir, "documents")
    planted = M.plant_wav_payload(d, n_samples=_WAV_N, sample_rate=8000)
    feats = M.decode_features(planted, decoder=M.wav_audio_features)
    names = ["sample_rate", "n_channels", "bits", "n_samples",
             "sum_s", "sumsq_s", "min_s", "max_s"]
    return feats.select(
        "doc_id",
        "modality",
        "payload_bytes",
        *[
            F.round(F.col("feature")[i]).cast("long").alias(name)
            for i, name in enumerate(names)
        ],
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, unnest(range(0, GREATEST(1,
             CAST(FLOOR(octet_length(encode(text)) / 200.0) AS INTEGER)) * 200, 200))
           AS frame_offset,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
    FROM documents
    """,
)
def q_frame_sample(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    out = M.frame_sample_stub(M.attach_payload(d), every_n_bytes=200)
    return out.select(
        "doc_id",
        F.col("frame_offset").cast("long").alias("frame_offset"),
        F.col("payload_bytes").cast("long").alias("payload_bytes"),
    )
