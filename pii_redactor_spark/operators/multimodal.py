"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` payload columns + typed metadata, processed by
Arrow-batched ``mapInPandas`` — the pattern a 100 TB multimodal corpus
needs: payload bytes never leave the executor, cross the JVM↔Python
boundary once per batch, and the output schema is fixed and columnar.

The actual decoders (PIL/libav/ffmpeg) are NOT installed in this sandbox,
so the decode step is STUBBED with a clearly-marked deterministic fake
(md5-derived dimensions/duration/features). The Spark-side plumbing —
schema, batching, UDF signature, partition behavior — is real and tested;
swap ``_fake_decode`` for a library call in production
(``decode_image_real`` shows the gated entry point).

The fake is reproduced by a DuckDB oracle bit-for-bit, so even the stub
is correctness-gated (md5 hex folds, same arithmetic both engines).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pii_redactor_spark.functions import text_hash

MEDIA_META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("mime", StringType()),
    StructField("n_bytes", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("duration_s", DoubleType()),
    StructField("feature", ArrayType(FloatType())),
    StructField("feature_checksum", DoubleType()),
    StructField("frame_samples", ArrayType(DoubleType())),
    StructField("resized_w", IntegerType()),
    StructField("resized_h", IntegerType()),
])

MAX_FRAME_SAMPLES = 4
RESIZE_MAX_SIDE = 256


def resize_dims(width: int, height: int,
                max_side: int = RESIZE_MAX_SIDE) -> tuple[int, int]:
    """Aspect-preserving resize target: longest side capped at
    ``max_side``, never upscaled. Pure INTEGER floor arithmetic so any
    engine reproduces it exactly (float division rounds differently at
    exact-integer quotients). The pixel resample itself is part of the
    stubbed decode; this is the target-geometry computation every
    image/video preprocessor runs before it."""
    longest = max(width, height)
    if longest <= max_side:
        return width, height
    return (max(1, (width * max_side) // longest),
            max(1, (height * max_side) // longest))


def sample_frames(duration_s: float,
                  max_samples: int = MAX_FRAME_SAMPLES) -> list[float]:
    """Deterministic frame-sample timestamps: up to ``max_samples``
    evenly spaced seek points (the shape a video frame-sampler emits;
    the actual frame decode is the stubbed step)."""
    if duration_s <= 0:
        return []
    n = max_samples
    step = duration_s / n
    return [round(step * i + step / 2, 3) for i in range(n)]

MIMES = ("image/png", "audio/wav", "video/mp4")
FEATURE_DIM = 8


def decode_image_real(payload: bytes) -> tuple[int, int]:
    """Production decode path — requires a real image library."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as exc:  # pragma: no cover - sandbox has no PIL
        raise NotImplementedError(
            "real image decode needs PIL/pillow; this sandbox ships none — "
            "use the deterministic fake (_fake_decode) for plumbing tests"
        ) from exc
    raise NotImplementedError("wire Image.open(BytesIO(payload)).size here")


def _fake_decode(payload: bytes) -> tuple[int, int, float, list[float]]:
    """Deterministic stand-in for decode/feature-extract: all values are
    md5-hex folds of the payload, so any engine can reproduce them."""
    h = hashlib.md5(payload).hexdigest()
    width = 16 + int(h[0:8], 16) % 1920
    height = 16 + int(h[8:16], 16) % 1080
    duration_s = round((int(h[16:24], 16) % 36000) / 100.0, 2)
    feature = [int(h[2 * i: 2 * i + 2], 16) / 255.0
               for i in range(FEATURE_DIM)]
    return width, height, duration_s, feature


def pages_with_media(docs: DataFrame) -> DataFrame:
    """Derive a media table from the documents corpus: payload =
    utf-8 bytes of the text (the driver testdata has no binary column),
    mime round-robined by doc_id. Mirrors the corpus input_hint's
    ``html:binary`` column shape."""
    mime = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(MIMES[0]))
        .when(F.col("doc_id") % 3 == 1, F.lit(MIMES[1]))
        .otherwise(F.lit(MIMES[2]))
    )
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        mime.alias("mime"),
    )


def extract_media_meta(media: DataFrame) -> DataFrame:
    """mapInPandas decode/feature-extract: one Python pass per Arrow
    batch, fixed output schema, payload dropped on output (only metadata
    + features survive, which is what you want to shuffle at scale)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # a NULL payload decodes to NULL metadata (the oracle's
            # md5(NULL)) and has no resize target or frame samples
            metas = [(None,) * 4 if p is None else _fake_decode(p)
                     for p in pdf["payload"]]
            resized = [
                resize_dims(m[0], m[1])
                if m[0] is not None and not mime.startswith("audio/")
                else (None, None)
                for m, mime in zip(metas, pdf["mime"])
            ]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "mime": pdf["mime"],
                "n_bytes": pd.array(
                    [None if p is None else len(p) for p in pdf["payload"]],
                    dtype="Int32"),
                "width": pd.array([m[0] for m in metas], dtype="Int32"),
                "height": pd.array([m[1] for m in metas], dtype="Int32"),
                "duration_s": [m[2] for m in metas],
                "feature": [m[3] for m in metas],
                "feature_checksum": [
                    None if m[3] is None else round(sum(m[3]), 6)
                    for m in metas],
                "frame_samples": [
                    sample_frames(m[2])
                    if m[2] is not None and mime.startswith("video/")
                    else [] for m, mime in zip(metas, pdf["mime"])
                ],
                "resized_w": pd.array([r[0] for r in resized],
                                      dtype="Int32"),
                "resized_h": pd.array([r[1] for r in resized],
                                      dtype="Int32"),
            })

    return media.mapInPandas(run, MEDIA_META_SCHEMA)


def media_meta(docs: DataFrame) -> DataFrame:
    return extract_media_meta(pages_with_media(docs))


def media_meta_oracle_sql(table: str = "documents") -> str:
    feat_terms = " + ".join(
        f"(CAST({text_hash.hex_int_sql('h', 2, 2 * i + 1)} AS DOUBLE) / 255.0)"
        for i in range(FEATURE_DIM)
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN '{MIMES[0]}'
           WHEN 1 THEN '{MIMES[1]}'
           ELSE '{MIMES[2]}' END AS mime,
         CAST(octet_length(encode(text)) AS INT) AS n_bytes,
         md5(text) AS h
  FROM {table})
SELECT doc_id, mime, n_bytes,
       CAST(16 + {text_hash.hex_int_sql('h', 8)} % 1920 AS INT) AS width,
       CAST(16 + {text_hash.hex_int_sql('h', 8, 9)} % 1080 AS INT) AS height,
       round(CAST({text_hash.hex_int_sql('h', 8, 17)} % 36000 AS DOUBLE) / 100.0, 2)
         AS duration_s,
       round({feat_terms}, 6) AS feature_checksum
FROM base
"""


def media_meta_resize_sql(table: str = "documents",
                          max_side: int = RESIZE_MAX_SIDE) -> str:
    """Oracle twin of ``resize_dims`` over the media_meta base: integer
    floor division on both engines (Python ``//`` == DuckDB ``//`` for
    positive operands), NULL for audio and for a NULL payload (no
    dimensions; without the guard DuckDB's NULL-skipping ``greatest``
    would give 1)."""
    return f"""
WITH meta AS ({media_meta_oracle_sql(table)})
SELECT doc_id, mime, width, height,
  CASE WHEN mime LIKE 'audio/%' OR width IS NULL THEN NULL
       WHEN greatest(width, height) <= {max_side} THEN width
       ELSE CAST(greatest(1, (width * {max_side})
                 // greatest(width, height)) AS INT) END AS resized_w,
  CASE WHEN mime LIKE 'audio/%' OR width IS NULL THEN NULL
       WHEN greatest(width, height) <= {max_side} THEN height
       ELSE CAST(greatest(1, (height * {max_side})
                 // greatest(width, height)) AS INT) END AS resized_h
FROM meta
"""
