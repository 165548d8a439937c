"""Multimodal column plumbing: image/audio/video as opaque `binary`
columns with typed metadata, processed via Arrow-batched mapInPandas.

The Spark-side machinery — schema, partitioning, UDF signature, batch
shape — is real and tested; the actual media decode is STUBBED with a
deterministic fake (this container has no image/audio libraries).  Swap
``_decode_image_stub`` for a PIL/libvips call on a real cluster: the
dataflow does not change.

At 100 TB scale the important properties are already here:
- binary payloads never pass through Python row-at-a-time (Arrow batches),
- metadata travels in plain columns so filters prune BEFORE decode,
- decode parallelism is partition-level; `repartition` before mapInPandas
  controls the decode fan-out independent of file layout.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tokforge.sources.requests import array_digest

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("feature", ArrayType(FloatType())),
        # integer column sums behind `feature` (feature = colsum / height):
        # exact int64, so the driver gate hash-checks the decode->pool path
        # without comparing float formatting
        StructField("colsum", ArrayType(LongType())),
        StructField("decoded_bytes", LongType()),
        StructField("thumb_width", IntegerType()),
    ]
)

FEATURE_DIM = 16

# Knuth multiplicative constant for the stub's integer-hash pixels.
_PIXEL_MUL = 2654435761


def synthesize_media(spark: SparkSession, n_rows: int = 256) -> DataFrame:
    """Deterministic fake media table: payload = seeded bytes, metadata
    derived from the id (no external data; FIXTURES.md model)."""
    return (
        spark.range(n_rows)
        .select(
            F.col("id").alias("media_id"),
            F.when(F.col("id") % 3 == 0, "image")
            .when(F.col("id") % 3 == 1, "audio")
            .otherwise("video")
            .alias("kind"),
            F.sha2(F.col("id").cast("string"), 256).cast("binary").alias("payload"),
            (32 + (F.col("id") % 8) * 16).cast("int").alias("width"),
            (32 + (F.col("id") % 5) * 16).cast("int").alias("height"),
            (1 + (F.col("id") % 4) * 10).cast("int").alias("n_frames"),
        )
    )


def _decode_image_stub(payload: bytes, width: int, height: int) -> np.ndarray:
    """STUB: a real deployment decodes `payload` with PIL/libvips here.
    The fake derives a deterministic pixel buffer with pure integer-hash
    arithmetic — pixel(r, c) = (seed + (r*width + c) * K) % 256 with the
    seed from the payload's sha256 hex prefix — so the whole
    decode->pool path is SQL-expressible and the driver gate can
    hash-check it (no RNG anywhere)."""
    seed = int(hashlib.sha256(payload).hexdigest()[:8], 16)
    idx = np.arange(height * width, dtype=np.int64).reshape(height, width)
    return ((seed + idx * _PIXEL_MUL) % 256).astype(np.uint8)


def extract_features(df: DataFrame, target_width: int = 16) -> DataFrame:
    """decode -> resize (nearest) -> pooled feature vector, one Arrow batch
    at a time via mapInPandas."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, colsums, sizes, widths = [], [], [], []
            for payload, w, h in zip(pdf["payload"], pdf["width"], pdf["height"]):
                pixels = _decode_image_stub(bytes(payload), int(w), int(h))
                # nearest-neighbour thumbnail, then column-mean pooling
                idx = (np.arange(target_width) * pixels.shape[1]) // target_width
                thumb = pixels[:, idx]
                colsum = thumb.sum(axis=0, dtype=np.int64)
                pooled = (colsum / pixels.shape[0]).astype(np.float32)
                feats.append(pooled[:FEATURE_DIM])
                colsums.append(colsum[:FEATURE_DIM].tolist())
                sizes.append(int(pixels.nbytes))
                widths.append(target_width)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    "colsum": colsums,
                    "decoded_bytes": sizes,
                    "thumb_width": widths,
                }
            )

    return df.mapInPandas(fn, FEATURE_SCHEMA)


def frame_sample(df: DataFrame, every_k: int = 10) -> DataFrame:
    """Video frame sampling plan: explode frame indices JVM-side (no decode
    until a downstream consumer needs the pixels)."""
    return df.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_k))
        ).alias("frame_idx"),
    )


# ---------------------------------------------------------------------------
# Driver-gated queries
# ---------------------------------------------------------------------------

_N_MEDIA = 256
_EVERY_K = 10


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan over the deterministic media table (sf_dir
    unused — media is synthesized, FIXTURES.md model).  Pure JVM column
    algebra, fully oracle-checkable."""
    return frame_sample(synthesize_media(spark, _N_MEDIA), _EVERY_K)


SQL_FRAME_SAMPLE = f"""WITH media AS (
  SELECT range AS media_id,
         CASE range % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         CAST(1 + (range % 4) * 10 AS INTEGER) AS n_frames
  FROM range({_N_MEDIA})
)
SELECT media_id, CAST(f AS INTEGER) AS frame_idx
FROM media, unnest(range(0, n_frames, {_EVERY_K})) AS u(f)
WHERE kind = 'video'"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real decode->resize->pool path through mapInPandas over binary
    payloads.  The decode stub derives pixels by integer hashing (see
    _decode_image_stub), so the ENTIRE path is SQL-expressible and this
    query is fully oracle-checked: the digest covers the exact int64
    per-column sums of the pooled thumbnail (feature = colsum/height is
    the same information without float-formatting hazards).  Output is
    scalar-only so the driver canonicalizer can sort it."""
    feats = extract_features(synthesize_media(spark, _N_MEDIA))
    return feats.select(
        "media_id",
        "kind",
        array_digest("colsum").alias("feature_md5"),
        "decoded_bytes",
        "thumb_width",
    )


# Mirrors the stub exactly: payload = sha256 hex of the id (Spark's
# sha2(...,256) string cast to binary is its UTF-8 bytes, so hashing the
# VARCHAR here matches hashing the payload bytes), seed = first 8 hex chars
# as an integer, pixel(r,c) = (seed + (r*w + c)*K) % 256, thumbnail column
# c_j = (j*w)//16, colsum_j = sum over rows.
_SQL_HEXVAL = "(strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1)"
_SQL_SEED = " + ".join(
    _SQL_HEXVAL.format(pos=i + 1) + f" * {16 ** (7 - i)}" for i in range(8)
)

SQL_MULTIMODAL_FEATURES = f"""WITH media AS (
  SELECT range AS media_id,
         CASE range % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         sha256(sha256(CAST(range AS VARCHAR))) AS h,
         CAST(32 + (range % 8) * 16 AS BIGINT) AS w,
         CAST(32 + (range % 5) * 16 AS BIGINT) AS ht
  FROM range({_N_MEDIA})
), seeded AS (
  SELECT media_id, kind, w, ht, ({_SQL_SEED}) AS seed FROM media
)
SELECT media_id, kind,
       md5(array_to_string(
         list_transform(range(16), j ->
           CAST(list_sum(list_transform(range(ht), r ->
             (seed + (r * w + (j * w) // 16) * {_PIXEL_MUL}) % 256)) AS BIGINT)),
         ',')) AS feature_md5,
       CAST(w * ht AS BIGINT) AS decoded_bytes,
       CAST(16 AS INTEGER) AS thumb_width
FROM seeded"""


MULTIMODAL_QUERIES = {
    # (spark_fn, oracle_sql_or_None) — None => rows-only driver check
    "multimodal_frame_sample": (q_frame_sample, SQL_FRAME_SAMPLE),
}

# Rotated out of the driver window in round 7 (its slot gates a tokenizer-
# layer row): the decode-stub feature extraction shares its Arrow plumbing
# (schema, batching, metadata pruning) with the still-gated frame-sample
# row; this exact (query, oracle) pair stays fully asserted by
# tests/test_rotated_out_oracles.py.
MULTIMODAL_QUERIES_EXTRA = {
    "multimodal_features": (q_multimodal_features, SQL_MULTIMODAL_FEATURES),
}
