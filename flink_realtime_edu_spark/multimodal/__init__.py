"""Multimodal columns — SURVEY.md §2.10 X8 (north star).

Convention: a multimodal asset is an opaque ``binary`` payload column
plus a typed metadata struct — the pattern that scales to 100 TB
because Spark shuffles/spills binary columns like any other, formats
(parquet) store them page-compressed, and column pruning means
metadata-only queries never read payload bytes.

    media: STRUCT<
        media_id:   BIGINT,
        modality:   STRING,         -- 'image' | 'audio' | 'video'
        mime:       STRING,
        width:      INT,  height: INT,      -- images/video
        sample_rate:INT,  n_frames: BIGINT, -- audio/video
        payload:    BINARY>

Processing (decode / resize / feature-extract / frame-sample) runs as
Arrow-batched ``mapInPandas``: one Python process per partition, one
pandas batch at a time, so payload bytes cross the JVM↔Python
boundary exactly once per stage. PNG, baseline grayscale JPEG and
MJPEG-in-AVI video payloads decode for real via the pure-stdlib
codecs in :mod:`.png` / :mod:`.jpeg` / :mod:`.avi` (``decode_image``
/ ``decode_video`` dispatch on the payload magic); other formats
(mp4/h264/webp/...) have no codec in this container and raise
NotImplementedError. `extract_features` uses a deterministic
byte-histogram stand-in with the REAL batch shape, schema and
partitioning; the PNG, WAV, JPEG and AVI paths additionally feed
true pixel/sample stats (``queries/media.py`` png_decode_stats /
wav_decode_stats / jpeg_decode_stats / video_decode_stats) with
analytic oracles. A stage's codec functions reach the Python workers
by value, with the rest of the package (see the package docstring), so
a new codec module needs no registration of its own.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_realtime_edu_spark.multimodal.avi import (
    AVI_TAG,
    decode_avi_mjpeg,
)
from flink_realtime_edu_spark.multimodal.jpeg import JPEG_SOI, decode_jpeg
from flink_realtime_edu_spark.multimodal.png import PNG_SIGNATURE, decode_png
from flink_realtime_edu_spark.multimodal.wav import (
    RIFF_MAGIC,
    WAVE_TAG,
    decode_wav,
)
from flink_realtime_edu_spark.multimodal.webp import (
    VP8L_TAG,
    WEBP_TAG,
    decode_webp_lossless,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("modality", StringType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("payload", BinaryType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


def demo_media_frame(spark: SparkSession, n: int = 64, partitions: int = 4) -> DataFrame:
    """Deterministic fake corpus: payload bytes derived from sha256 of
    the id (stable across runs/partitionings) with plausible metadata."""
    rows = []
    for i in range(n):
        payload = hashlib.sha256(str(i).encode()).digest() * (4 + i % 7)
        modality = ["image", "audio", "video"][i % 3]
        rows.append(
            (
                i,
                modality,
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[modality],
                64 + (i % 8) * 16 if modality != "audio" else None,
                64 + (i % 5) * 16 if modality != "audio" else None,
                16000 if modality != "image" else None,
                (i % 30 + 1) if modality == "video" else None,
                bytearray(payload),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(partitions, "media_id")


def decode_image(payload: bytes, mime: str) -> "np.ndarray":
    """Decode an image payload to an (H, W, C) uint8 array (PNG,
    color JPEG) or an (H, W) uint8 array (grayscale JPEG).

    PNG decodes for real via the pure-stdlib codec in
    :mod:`flink_realtime_edu_spark.multimodal.png` (8-bit,
    non-interlaced, non-palette — its documented subset), baseline
    JFIF — grayscale or interleaved YCbCr 4:2:0 / 4:4:4 color — via
    :mod:`.jpeg` (marker parse + Huffman + IDCT + color transform;
    progressive/other layouts raise inside the codec), and lossless
    WebP (VP8L) via :mod:`.webp` (Huffman + LZ77 + color cache +
    subtract-green/predictor/cross-color transforms; palette and
    meta-Huffman raise inside the codec; lossy VP8 is float-DCT-land
    and stays NotImplementedError). Codecs needing libraries absent
    from this container still raise NotImplementedError; the
    mapInPandas pipeline around this call is the production
    integration point either way."""
    data = bytes(payload)
    if data[:8] == PNG_SIGNATURE:
        return decode_png(data)
    if data[:2] == JPEG_SOI:
        return decode_jpeg(data)
    if data[:4] == RIFF_MAGIC and data[8:12] == WEBP_TAG:
        if data[12:16] == VP8L_TAG:
            return decode_webp_lossless(data)
        raise NotImplementedError(
            "lossy (VP8) WebP needs a float-DCT codec absent here; "
            "only lossless VP8L decodes in this environment"
        )
    raise NotImplementedError(
        f"no codec for {mime!r} in this environment (PNG/JPEG/VP8L only); "
        "extract_features uses a deterministic byte-level stand-in"
    )


def decode_video(
    payload: bytes, mime: str, every_nth: int = 1
) -> tuple[list["np.ndarray"], int]:
    """Decode a video payload to (list of (H, W) uint8 frames, fps),
    keeping every ``every_nth``-th frame. MJPEG-in-AVI decodes for
    real via the pure-stdlib RIFF walker + baseline-JPEG codec
    (:mod:`.avi` / :mod:`.jpeg`); other containers/codecs
    (mp4/h264/...) need libraries absent from this container and
    raise NotImplementedError. Skipped frames are never
    entropy-decoded — sampling happens at the container walk."""
    data = bytes(payload)
    if data[:4] == RIFF_MAGIC and data[8:12] == AVI_TAG:
        return decode_avi_mjpeg(data, every_nth=every_nth)
    raise NotImplementedError(
        f"no video codec for {mime!r} in this environment (MJPEG/AVI only)"
    )


def decode_audio(payload: bytes, mime: str) -> tuple["np.ndarray", int]:
    """Decode an audio payload to ((n_frames, n_channels) int16,
    sample_rate). WAV/PCM decodes for real via the pure-stdlib codec
    in :mod:`flink_realtime_edu_spark.multimodal.wav`; other codecs
    (mp3/ogg/flac/...) need libraries absent from this container and
    raise NotImplementedError."""
    data = bytes(payload)
    if data[:4] == RIFF_MAGIC and data[8:12] == WAVE_TAG:
        return decode_wav(data)
    raise NotImplementedError(
        f"no codec for {mime!r} in this environment (WAV/PCM only)"
    )


def extract_features(media: DataFrame, n_bins: int = 16) -> DataFrame:
    """Per-asset feature vector via mapInPandas (Arrow batches).

    Stand-in featurizer: normalized byte histogram (n_bins buckets) —
    deterministic, codec-free, but exercises the exact production
    shape: binary column in, fixed-length double vector out, schema
    declared up front, partition-local work, no shuffle."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        edges = np.linspace(0, 256, n_bins + 1)
        for pdf in batches:
            feats, nbytes = [], []
            for payload in pdf["payload"]:
                # NULL payload column -> empty asset, not a crash
                arr = np.frombuffer(
                    bytes(payload) if payload is not None else b"", dtype=np.uint8
                )
                hist, _ = np.histogram(arr, bins=edges)
                feats.append((hist / max(len(arr), 1)).tolist())
                nbytes.append(len(arr))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pd.Series(nbytes, dtype="int64"),
                    "feature": feats,
                }
            )

    return media.mapInPandas(featurize, FEATURE_SCHEMA)


def resize_images(media: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Image resize stage: binary in → binary out via mapInPandas,
    metadata updated to the target dimensions. This is the
    decode→resize→re-encode integration point; with no codec in the
    container the payload transform is a deterministic stand-in
    (sha256-seeded bytes of length ∝ target area — stable across
    runs and partitionings), while the production concerns are real:
    payload bytes cross the JVM↔Python boundary once, the output
    schema is the same media struct (stages compose), non-image rows
    pass through untouched, and the work is partition-local (no
    shuffle)."""

    def transform(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            is_img = out["modality"] == "image"
            if is_img.any():
                new_payloads = []
                for mid in out.loc[is_img, "media_id"]:
                    seed = hashlib.sha256(f"resized-{mid}-{width}x{height}".encode())
                    reps = (width * height) // 32 + 1
                    new_payloads.append(bytearray(seed.digest() * reps))
                out.loc[is_img, "payload"] = pd.Series(
                    new_payloads, index=out.index[is_img], dtype=object
                )
                out.loc[is_img, "width"] = width
                out.loc[is_img, "height"] = height
            yield out

    return media.mapInPandas(transform, MEDIA_SCHEMA)


def resample_audio(media: DataFrame, factor: int) -> DataFrame:
    """Audio decimation stage — and unlike :func:`resize_images` this
    one is REAL end to end: WAV payloads decode through the stdlib
    codec, keep every ``factor``-th frame, re-encode at rate/factor,
    and the metadata (sample_rate, n_frames) tracks the new payload.
    Non-audio rows and audio payloads in codecs this container can't
    decode pass through untouched (same pass-through contract as the
    image stage). Partition-local, one JVM↔Python crossing, output
    schema = the media struct so stages compose."""
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")
    from flink_realtime_edu_spark.multimodal.wav import encode_wav

    def transform(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            for i in out.index[out["modality"] == "audio"]:
                raw = out.at[i, "payload"]
                if raw is None:
                    continue  # NULL payload: pass through, not crash
                data = bytes(raw)
                if data[:4] != RIFF_MAGIC or data[8:12] != WAVE_TAG:
                    continue  # undecodable codec: pass through
                try:
                    samples, rate = decode_wav(data)
                except (NotImplementedError, ValueError):
                    # RIFF magic but out-of-scope PCM (float/8/24-bit)
                    # or structural damage: pass through — the stage's
                    # contract is to transform what it can decode.
                    continue
                down = samples[::factor]
                new_rate = max(1, rate // factor)
                out.at[i, "payload"] = bytearray(encode_wav(down, new_rate))
                out.at[i, "sample_rate"] = new_rate
                out.at[i, "n_frames"] = down.shape[0]
            yield out

    return media.mapInPandas(transform, MEDIA_SCHEMA)


def frame_sample_plan(media: DataFrame, every_nth: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: one row per (video, frame index to
    decode) — pure JVM sequence/explode, no Python. The decode itself
    would be a mapInPandas over this plan joined back to payloads;
    emitting the plan separately keeps the explode (cheap, metadata
    only) apart from the byte-heavy decode stage."""
    # n_frames > 0, not just non-null: Spark's sequence(0, -1, k)
    # THROWS (illegal boundaries) rather than returning empty, so a
    # zero-frame video would fail the whole job.
    vids = media.filter(
        (F.col("modality") == "video") & (F.col("n_frames") > 0)
    )
    idx = F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_nth))
    return vids.select(
        "media_id", F.explode(idx).alias("frame_index"), "mime"
    )
