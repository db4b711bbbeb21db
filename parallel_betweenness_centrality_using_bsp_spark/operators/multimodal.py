"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata — the
schema, partitioning, Arrow batch shapes and UDF signatures are real and
tested; the actual codec step is STUBBED (no image/audio libraries in this
container): ``decode_media(df, mode="real")`` raises NotImplementedError at
the call site where Pillow/ffmpeg/torchaudio would plug in, and
``mode="fake"`` substitutes a deterministic decode (dimensions and features
derived from the payload bytes) so the Spark-side pipeline is exercised
end-to-end.

All transforms are ``mapInPandas`` — media rows are large, so the iterator
form lets a task stream Arrow batches without materializing a partition.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "asset_id long, media_type string, width int, height int, n_bytes long, sha256 string"
)

FEATURE_DIM = 8
FEATURE_SCHEMA = f"asset_id long, feature array<float>"

FRAME_SCHEMA = "asset_id long, frame_idx int, frame_sha256 string"


def synth_assets(spark: SparkSession, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic fake media table: payload bytes derived from sha2 of the
    asset id — pure column expressions, scales like any other generator."""
    df = spark.range(n)
    payload = F.repeat(
        F.sha2(F.concat(F.lit(f"asset:{seed}:"), F.col("id")), 256), 4
    ).cast("binary")
    return df.select(
        F.col("id").alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        payload.alias("data"),
        ((F.col("id") % 64 + 1) * 16).cast("int").alias("width"),
        ((F.col("id") % 48 + 1) * 16).cast("int").alias("height"),
        ((F.col("id") % 300 + 1) * 1000).cast("int").alias("duration_ms"),
    )


def decode_media(df: DataFrame, mode: str = "fake") -> DataFrame:
    """Decode step. mode="real" is the integration point for actual codecs
    (Pillow / soundfile / pyav) — NOT available in this environment."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if mode == "real":
                raise NotImplementedError(
                    "real media decoding requires codec libraries (Pillow/pyav) "
                    "not present in this container; plug them in here"
                )
            out = pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "width": pdf["width"].astype("int32"),
                    "height": pdf["height"].astype("int32"),
                    "n_bytes": pdf["data"].map(len).astype("int64"),
                    "sha256": pdf["data"].map(lambda b: hashlib.sha256(b).hexdigest()),
                }
            )
            yield out

    return df.mapInPandas(batches, DECODED_SCHEMA)


def extract_features(df: DataFrame, mode: str = "fake") -> DataFrame:
    """Feature extraction (the embedding-model stand-in): deterministic
    FEATURE_DIM-float vector from payload bytes."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if mode == "real":
                raise NotImplementedError("real feature extraction needs a model runtime")
            feats = [
                (
                    np.frombuffer(
                        hashlib.sha256(b).digest()[: FEATURE_DIM * 4], dtype=np.uint32
                    ).astype(np.float32)
                    / np.float32(2**32)
                ).tolist()
                for b in pdf["data"]
            ]
            yield pd.DataFrame({"asset_id": pdf["asset_id"], "feature": feats})

    return df.mapInPandas(batches, FEATURE_SCHEMA)


RESIZED_SCHEMA = (
    "asset_id long, media_type string, width int, height int, data binary"
)


def resize_media(df: DataFrame, max_side: int = 256, mode: str = "fake") -> DataFrame:
    """Resize step (image thumbnailing / audio downsampling stand-in):
    scales (width, height) to fit ``max_side`` preserving aspect ratio.
    mode="real" is the Pillow/ffmpeg integration point (absent in this
    container); mode="fake" performs the real metadata arithmetic and a
    deterministic payload truncation proportional to the area ratio, so
    schema, Arrow batching and downstream size accounting are exercised."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if mode == "real":
                raise NotImplementedError(
                    "real resizing requires Pillow/ffmpeg; plug them in here"
                )
            # real ingests can carry zero/garbage dimensions; clip to ≥1 so a
            # zero-area row degrades gracefully instead of inf/NaN ratios
            # failing the whole Arrow batch
            w = pdf["width"].astype("int64").clip(lower=1)
            h = pdf["height"].astype("int64").clip(lower=1)
            scale = (max_side / np.maximum(w, h)).clip(upper=1.0)
            nw = np.maximum((w * scale).astype("int64"), 1)
            nh = np.maximum((h * scale).astype("int64"), 1)
            ratio = (nw * nh) / (w * h)
            data = [
                bytes(d)[: max(1, int(len(d) * r))]
                for d, r in zip(pdf["data"], ratio)
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "width": nw.astype("int32"),
                    "height": nh.astype("int32"),
                    "data": data,
                }
            )

    return df.mapInPandas(batches, RESIZED_SCHEMA)


def sample_frames(df: DataFrame, every_n_bytes: int = 32, max_frames: int = 4) -> DataFrame:
    """Frame sampling for video rows: deterministic byte-window 'frames'
    (the ffmpeg keyframe-sampling stand-in); non-video rows pass through
    with a single frame."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, shas = [], [], []
            for aid, mtype, data in zip(pdf["asset_id"], pdf["media_type"], pdf["data"]):
                n = max_frames if mtype == "video" else 1
                for i in range(n):
                    chunk = bytes(data)[i * every_n_bytes : (i + 1) * every_n_bytes]
                    if not chunk:
                        break
                    ids.append(aid)
                    idxs.append(i)
                    shas.append(hashlib.sha256(chunk).hexdigest())
            yield pd.DataFrame(
                {"asset_id": ids, "frame_idx": pd.array(idxs, dtype="int32"), "frame_sha256": shas}
            )

    return df.mapInPandas(batches, FRAME_SCHEMA)
