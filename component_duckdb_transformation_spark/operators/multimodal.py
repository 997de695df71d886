"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The decode step is STUBBED (no image/audio libraries in this
environment): ``decode_image_stub`` derives deterministic fake metadata
from the bytes so the full Spark-side pipeline — schema, batch shape,
partitioning, UDF signature — is real and testable. Swap
``_decode_one`` for a real decoder (PIL/libvips/ffmpeg) in production;
nothing else changes.

Scale notes: mapInPandas streams Arrow batches (no per-row Python
overhead); binary payloads never pass through the driver; downstream
metadata is columnar.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

IMAGE_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("checksum", LongType()),
    ]
)


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table: encode text as the binary payload
    with a media_type tag. In production this column comes from the
    source (parquet BYTE_ARRAY / object-store pointers)."""
    return df.select(
        "doc_id",
        F.encode(F.col(text_col), "UTF-8").cast(BinaryType()).alias("payload"),
        F.lit("image/fake").alias("media_type"),
    )


def _decode_one(payload: bytes) -> tuple[int, int, int]:
    """STUB decoder: deterministic fake (width, height, checksum).

    Replace with e.g. ``PIL.Image.open(io.BytesIO(payload)).size``.
    The fake is pure arithmetic on bytes so an external oracle can
    reproduce it.
    """
    n = len(payload)
    width = n % 640
    height = (n * 7) % 480
    checksum = sum(payload[:16])
    return width, height, checksum


def extract_image_metadata(df: DataFrame) -> DataFrame:
    """mapInPandas over (doc_id, payload, media_type) -> IMAGE_META_SCHEMA."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            decoded = [_decode_one(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "width": pd.Series([d[0] for d in decoded], dtype="int32"),
                    "height": pd.Series([d[1] for d in decoded], dtype="int32"),
                    "checksum": pd.Series([d[2] for d in decoded], dtype="int64"),
                }
            )

    return df.mapInPandas(batches, IMAGE_META_SCHEMA)


def frame_sample_stub(df: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """Video-frame-sampling stand-in: emits one row per sampled offset
    per payload (explode pattern a real frame sampler would use)."""
    n = F.length(F.col("payload"))
    offsets = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(every_n_bytes))
    return df.select(
        "doc_id",
        F.posexplode(offsets).alias("frame_idx", "byte_offset"),
    )
