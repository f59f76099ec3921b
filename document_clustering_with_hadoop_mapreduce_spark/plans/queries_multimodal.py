"""Multimodal query surface — binary columns over the documents table.

Payloads are deterministic (utf-8 text bytes) so DuckDB can verify the
whole binary pipeline: metadata/hash extraction, exact blob dedup, and
frame sampling. The mapInPandas featurizer is rows-only checked here and
value-checked against a pure-Python oracle in tests/test_multimodal.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    as_media,
    byte_histograms,
    frame_samples,
    media_metadata,
)
from ..sources.tables import load_table
from .registry import register

# DuckDB twin of operators.multimodal.as_media. DuckDB 1.x sha256() only
# hashes VARCHAR; the fixture texts are pure ASCII (asserted in
# tests/test_multimodal.py), so char slices == byte slices and hashing the
# VARCHAR yields the same digest as Spark's sha2(binary).
_MEDIA_CTE = """
WITH media AS (
  SELECT doc_id AS media_id,
         ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
         text AS data,
         (64 + doc_id % 193)::INT AS width,
         (64 + doc_id % 97)::INT AS height,
         octet_length(text::BLOB)::INT AS n_bytes
  FROM documents
)
"""


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return as_media(load_table(spark, sf_dir, "documents"))


@register(
    "media_metadata",
    f"""{_MEDIA_CTE}
    SELECT media_id, kind, width, height, n_bytes,
           lower(sha256(data)) AS content_sha,
           lower(sha256(substring(data, 1, 32))) AS head_sha
    FROM media""",  # ASCII fixture => VARCHAR hash == blob hash (see _MEDIA_CTE)
    "multimodal: typed metadata + content hash per binary payload "
    "(dedup/bucketing key); plumbing for opaque image/audio/video columns",
)
def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_metadata(_media(spark, sf_dir))


# The documents fixture has no duplicate texts, so hashing each doc's own
# payload would make this gate trivially green on an empty result. Derive
# the blob from doc_id % 100 instead (a 256-byte md5-repeat payload):
# duplicates exist BY CONSTRUCTION (~5 copies per group at sf0.01), so the
# driver hash-compares a non-empty group set every round.
@register(
    "media_exact_dedup",
    """WITH blobs AS (
      SELECT doc_id AS media_id,
             repeat(md5((doc_id % 100)::VARCHAR), 8) AS data
      FROM documents
    ),
    hashed AS (SELECT media_id, lower(sha256(data)) AS content_sha FROM blobs),
    grp AS (
      SELECT content_sha,
             count(*)::BIGINT AS n_copies,
             min(media_id) AS keeper_id
      FROM hashed GROUP BY content_sha
    )
    SELECT content_sha, n_copies, keeper_id FROM grp WHERE n_copies > 1""",
    "multimodal: exact blob-level dedup groups by content hash "
    "(keeper = lowest media_id); payloads derived modulo-100 so duplicate "
    "groups are non-empty by construction",
)
def q_media_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    blobs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.repeat(F.md5((F.col("doc_id") % 100).cast("string")), 8), "UTF-8").alias(
            "data"
        ),
    )
    hashed = blobs.select("media_id", F.sha2("data", 256).alias("content_sha"))
    return (
        hashed.groupBy("content_sha")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("media_id").alias("keeper_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


@register(
    "media_frame_samples",
    f"""{_MEDIA_CTE},
    frames AS (
      SELECT media_id,
             unnest(range(0, least(8, greatest(1,
               ((length(data) - 1) // 256) + 1)))) AS frame_no,
             data
      FROM media
    )
    SELECT media_id, frame_no::INT AS frame_no,
           lower(sha256(substring(data, (frame_no * 256 + 1)::INT, 64))) AS frame_sha
    FROM frames""",
    "multimodal: every 4th 64-byte slice as a sampled 'frame' row "
    "(video frame-sampling shape; decoder stubbed, plumbing real)",
)
def q_media_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frame_samples(_media(spark, sf_dir), frame_bytes=64, stride=4, max_frames=8)


# Blob oracle for the mapInPandas featurizer: explode every byte position,
# bin on the high nibble (ord == byte value for the ASCII fixture), pivot
# wide, and left-join back so empty payloads keep their all-zero row —
# exactly the numpy bincount the Spark side computes per Arrow batch.
_HIST_COLS = ", ".join(
    f"CAST(sum(CASE WHEN bin = {b} THEN 1 ELSE 0 END) AS BIGINT) AS h{b}"
    for b in range(16)
)
_HIST_ZERO = ", ".join(f"CAST(coalesce(h.h{b}, 0) AS BIGINT) AS h{b}" for b in range(16))


@register(
    "media_byte_histograms",
    f"""{_MEDIA_CTE},
    bytes AS (
      SELECT media_id, (ord(substr(data, i::INT, 1)) // 16)::INT AS bin
      FROM media, UNNEST(generate_series(1, n_bytes)) AS t(i)
    ),
    hist AS (SELECT media_id, {_HIST_COLS} FROM bytes GROUP BY media_id)
    SELECT m.media_id, {_HIST_ZERO}
    FROM media m LEFT JOIN hist h USING (media_id)""",
    "multimodal: Arrow-batched mapInPandas byte-histogram featurizer "
    "(the drop-in slot for real image/audio feature extraction)",
)
def q_media_byte_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return byte_histograms(_media(spark, sf_dir))
