"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images / audio / video are carried as ``binary`` columns with a struct
of typed metadata, processed by Arrow-batched pandas UDFs over
``mapInPandas``.  The decode step is STUBBED (codec libraries are not
in this container): ``decode_image`` produces a deterministic fake
pixel tensor derived from the payload hash, so the Spark-side plumbing
— schema, partitioning, UDF signature, batch shape — is real and
tested, and swapping in a real decoder is a one-function change.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_table

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
    ]
)


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for plumbing tests: payload is a
    seeded byte string, metadata varies by row."""
    rows = []
    for i in range(n):
        payload = bytes(((i * 131 + j * 17) % 256) for j in range(256 + (i % 64)))
        mtype = ["image", "audio", "video"][i % 3]
        rows.append(
            (
                i,
                payload,
                mtype,
                32 + (i % 8) * 16 if mtype != "audio" else None,
                32 + (i % 4) * 16 if mtype != "audio" else None,
                1 if mtype == "image" else (24 if mtype == "video" else None),
                16000 if mtype == "audio" else None,
            )
        )
    return local_table(spark, rows, MEDIA_SCHEMA)


def _fake_decode(payload: bytes, width: int, height: int) -> np.ndarray:
    """STUB decoder: deterministic pseudo-pixels from the payload bytes.

    Replace with a real codec (PIL/ffmpeg) outside this container; the
    contract is payload -> (height, width, 3) uint8 array.
    """
    # nullable int columns arrive as NaN floats in pandas batches
    if payload is None or width is None or height is None or pd.isna(width) or pd.isna(height):
        return np.zeros((0, 0, 3), dtype=np.uint8)
    width, height = int(width), int(height)
    seed = np.frombuffer(payload[:64].ljust(64, b"\0"), dtype=np.uint8).astype(np.int64)
    n = height * width * 3
    reps = int(np.ceil(n / len(seed)))
    flat = np.tile(seed, reps)[:n]
    idx = np.arange(n, dtype=np.int64)
    return ((flat * 31 + idx * 7) % 256).astype(np.uint8).reshape(height, width, 3)


FEATURE_SCHEMA = (
    "media_id long, media_type string, n_bytes int, "
    "mean_intensity double, std_intensity double, aspect_ratio double"
)


def extract_image_features(df: DataFrame) -> DataFrame:
    """Decode (stubbed) + per-image feature extraction via mapInPandas.

    Arrow-batched: each python task receives a pandas batch of payloads
    and emits one feature row per media row — the exact shape a real
    image-stats pass would use at scale (binary column stays columnar
    until the UDF boundary; no driver collect)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                img = _fake_decode(row.payload, row.width, row.height)
                n_bytes = len(row.payload) if row.payload is not None else 0
                if img.size:
                    mean_i = float(img.mean())
                    std_i = float(img.std())
                    ar = float(row.width) / float(row.height) if row.height else None
                else:
                    mean_i, std_i, ar = None, None, None
                out.append(
                    {
                        "media_id": row.media_id,
                        "media_type": row.media_type,
                        "n_bytes": n_bytes,
                        "mean_intensity": mean_i,
                        "std_intensity": std_i,
                        "aspect_ratio": ar,
                    }
                )
            yield pd.DataFrame(out)

    cols = ["media_id", "media_type", "payload", "width", "height"]
    return df.select(*cols).mapInPandas(op, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = "media_id long, width int, height int, pixels binary"


def resize_images(df: DataFrame, out_w: int = 16, out_h: int = 16) -> DataFrame:
    """Decode (stubbed) + nearest-neighbor resize via mapInPandas;
    emits raw RGB bytes of the resized image."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                img = _fake_decode(row.payload, row.width, row.height)
                if img.size:
                    ys = (np.arange(out_h) * img.shape[0] // out_h).clip(0, img.shape[0] - 1)
                    xs = (np.arange(out_w) * img.shape[1] // out_w).clip(0, img.shape[1] - 1)
                    small = img[np.ix_(ys, xs)]
                    out.append(
                        {
                            "media_id": row.media_id,
                            "width": out_w,
                            "height": out_h,
                            "pixels": small.tobytes(),
                        }
                    )
            yield pd.DataFrame(out)

    cols = ["media_id", "payload", "width", "height"]
    return df.filter(F.col("media_type") == "image").select(*cols).mapInPandas(
        op, schema=RESIZE_SCHEMA
    )


def sample_video_frames(df: DataFrame, every_n: int = 8) -> DataFrame:
    """Frame-sampling plumbing for video rows: one output row per kept
    frame index (decode stubbed as above)."""
    frames = df.filter(F.col("media_type") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )
    return frames
