"""Multimodal-plumbing queries: binary payload columns + Arrow-batched
``mapInPandas`` metadata extraction / frame sampling (operators/
multimodal.py).

The payloads here are UTF-8 text bytes (the container has no media
decoders — the decode step is a documented deterministic stub), so the
DuckDB oracle can recompute every "decoded" property from the text:
md5/byte-length are true payload properties; width/height derive from the
md5 exactly like the stub. What these queries verify is the real part —
the binary schema, the Arrow batch path, and the mapInPandas output
contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cyrela_etl_spark.operators.multimodal import (
    binarize_text,
    byte_histogram,
    extract_media_meta,
    sample_frames,
    synthesize_media,
)
from cyrela_etl_spark.queries import register
from cyrela_etl_spark.sources.parquet import read_table


# documents is read deliberately NOT fan_out'd in this module (r17
# optimization round): the synthetic media decode here is cheap enough per
# row that the repartition exchange + 32-worker Arrow spin-up cost more
# than the single-task scan they replace (paired A/B at sf0.1: raw
# 1.63-2.57 s vs fanned 2.34-4.02 s on multimodal_media_meta, identical
# checksums).


# ---------------------------------------------------------------------------
# multimodal_media_meta — REAL container decode: synthesize_media builds a
# valid 24-bpp BMP (doc_id%4=0), PCM WAV (%4=1), baseline JFIF JPEG
# (%4=2) or GIF89a (%4=3) per document with id-derived parameters,
# extract_media_meta parses the actual container headers back
# (pure-Python byte parse, operators/multimodal.py — JPEG dims come from
# the SOF0 marker walk), and the oracle predicts every decoded field
# arithmetically from doc_id — so a header-layout bug on either the build
# or parse side breaks the hash. BMP size = 54 + 4-aligned 24-bpp rows;
# WAV size = 44-byte RIFF header + 2 bytes per 16-bit mono sample; JPEG
# size = 168 fixed segment bytes + w*h//8 entropy filler
# (JPEG_OVERHEAD_BYTES, pinned by test_operators.py); GIF size = the
# fixed 34-byte minimal container (GIF_OVERHEAD_BYTES, also pinned).
# ---------------------------------------------------------------------------
def multimodal_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthesize_media(read_table(spark, sf_dir, "documents"))
    meta = extract_media_meta(media, strict=True)
    return meta.select(
        "doc_id",
        "n_bytes",
        "media_kind",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
    )


register(
    "multimodal_media_meta",
    multimodal_media_meta,
    """
WITH p AS (
  SELECT doc_id,
         doc_id % 4 AS kind,
         1 + doc_id % 64 AS w,
         1 + (doc_id // 64) % 64 AS h,
         8000 + (doc_id % 8) * 1000 AS sr,
         1 + doc_id % 1000 AS ns,
         1 + doc_id % 200 AS wj,
         1 + (doc_id // 200) % 200 AS hj,
         1 + doc_id % 320 AS wg,
         1 + (doc_id // 320) % 320 AS hg
  FROM documents
)
SELECT doc_id,
       CAST(CASE kind WHEN 0 THEN 54 + ((w * 3 + 3) // 4 * 4) * h
                      WHEN 1 THEN 44 + ns * 2
                      WHEN 2 THEN 168 + (wj * hj) // 8
                      ELSE 34 END AS BIGINT) AS n_bytes,
       CASE kind WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' WHEN 2 THEN 'jpeg' ELSE 'gif' END AS media_kind,
       CAST(CASE kind WHEN 0 THEN w WHEN 2 THEN wj WHEN 3 THEN wg END AS BIGINT) AS width,
       CAST(CASE kind WHEN 0 THEN h WHEN 2 THEN hj WHEN 3 THEN hg END AS BIGINT) AS height,
       CAST(CASE kind WHEN 1 THEN ns ELSE 1 END AS BIGINT) AS n_frames,
       CAST(CASE kind WHEN 1 THEN sr END AS BIGINT) AS sample_rate,
       CAST(CASE kind WHEN 1 THEN ns * 1000 // sr END AS BIGINT) AS duration_ms
FROM p
""",
)


# ---------------------------------------------------------------------------
# multimodal_byte_histogram — REAL payload feature extraction (no codec):
# 16-bin high-nibble histogram per document. The oracle counts hex digits
# at odd positions of hex(payload) — the same quantity, SQL-spelled.
# ---------------------------------------------------------------------------
def multimodal_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    binary = binarize_text(read_table(spark, sf_dir, "documents"))
    out = byte_histogram(binary)
    return out.select("doc_id", F.col("nibble").cast("int").alias("nibble"), "n")


register(
    "multimodal_byte_histogram",
    multimodal_byte_histogram,
    r"""
WITH h AS (
  SELECT doc_id,
         regexp_replace(hex(encode(text)), '(.).', '\1', 'g') AS hi
  FROM documents
),
nib AS (SELECT unnest(range(0, 16)) AS nibble)
SELECT doc_id,
       CAST(nibble AS INT) AS nibble,
       CAST(length(hi) - length(replace(hi, substr('0123456789ABCDEF', CAST(nibble AS INT) + 1, 1), ''))
            AS BIGINT) AS n
FROM h CROSS JOIN nib
WHERE length(hi) - length(replace(hi, substr('0123456789ABCDEF', CAST(nibble AS INT) + 1, 1), '')) > 0
""",
)


# ---------------------------------------------------------------------------
# multimodal_frame_sample — frame-sampling plumbing: payload → every-2nd
# fixed-size frame slice. Frames are BYTE slices of the payload; the oracle
# slices in byte space too (hex of the encoded payload — a char-space
# substr() would drift on any multi-byte document). Comparing the hex of
# the frame bytes is byte-exact and, unlike md5, DuckDB-expressible for
# arbitrary (non-UTF-8-aligned) slices.
# ---------------------------------------------------------------------------
_FRAME_SIZE = 64
_EVERY_N = 2


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    binary = binarize_text(read_table(spark, sf_dir, "documents"))
    frames = sample_frames(binary, every_n=_EVERY_N)
    return frames.select(
        "doc_id",
        F.col("frame_index").cast("long").alias("frame_index"),
        F.hex("frame_bytes").alias("frame_hex"),
    )


register(
    "multimodal_frame_sample",
    multimodal_frame_sample,
    f"""
WITH n AS (SELECT doc_id, hex(encode(text)) AS payload_hex,
                  greatest(octet_length(encode(text)) // {_FRAME_SIZE}, 1) AS n_frames
           FROM documents),
idx AS (SELECT doc_id, payload_hex,
               unnest(range(0, CAST(n_frames AS BIGINT), {_EVERY_N})) AS i
        FROM n)
SELECT doc_id,
       CAST(i AS BIGINT) AS frame_index,
       substr(payload_hex, CAST(i * {2 * _FRAME_SIZE} + 1 AS BIGINT), {2 * _FRAME_SIZE}) AS frame_hex
FROM idx
""",
)


# ---------------------------------------------------------------------------
# multimodal_mp3_meta — REAL MPEG-1 Layer III parse: synthesize_mp3 builds
# a valid ID3v2 + frame-chain stream per document (sample-rate index
# id%3, bitrate index 1+id%14, 1+id%8 frames, tag payload id%128 bytes),
# extract_media_meta walks the actual frame chain back (ID3 syncsafe
# skip, per-frame header re-validation — operators/multimodal.py
# parse_mp3_header), and the oracle predicts every decoded field
# arithmetically from doc_id: frame length = 144·br·1000 // sr, total
# bytes = 10 + tag + frames·frame_len, duration = frames·1152·1000 // sr.
# A bit-layout bug on either the build or parse side (syncsafe math, the
# bitrate/sample-rate index tables, frame-length rounding) breaks the
# hash.
# ---------------------------------------------------------------------------
def multimodal_mp3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.multimodal import synthesize_mp3

    media = synthesize_mp3(read_table(spark, sf_dir, "documents"))
    meta = extract_media_meta(media, strict=True)
    return meta.select(
        "doc_id",
        "n_bytes",
        "media_kind",
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
    )


register(
    "multimodal_mp3_meta",
    multimodal_mp3_meta,
    """
WITH p AS (
  SELECT doc_id,
         ([44100, 48000, 32000])[1 + doc_id % 3] AS sr,
         ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[1 + doc_id % 14] AS br,
         1 + doc_id % 8 AS nf,
         doc_id % 128 AS tag
  FROM documents
)
SELECT doc_id,
       CAST(10 + tag + nf * (144 * br * 1000 // sr) AS BIGINT) AS n_bytes,
       'mp3' AS media_kind,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(sr AS BIGINT) AS sample_rate,
       CAST(nf * 1152 * 1000 // sr AS BIGINT) AS duration_ms
FROM p
""",
)
