"""Multimodal column plumbing for training-data pipelines.

Treats image/audio/video payloads as opaque ``binary`` columns with a
typed metadata struct, processed by Arrow-batched ``mapInPandas``
operators. The Spark-side contract — schema, partition sizing, UDF
signature, batch shape — is real and tested; the actual media decode is
STUBBED (this environment has no image/audio libraries): decode either
raises ``NotImplementedError`` (strict mode) or produces deterministic
fake features derived from the raw bytes (test mode).

Scale notes: media rows are wide (MBs per row), so the operators
repartition by byte budget rather than row count before the Pandas hop,
and all feature extraction is per-partition streaming (mapInPandas
iterator) — no collect, no per-row Python UDF.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("byte_checksum", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter for tests/demos: wraps document text bytes as a media table
    with the binary+metadata schema (payload = utf-8 bytes, format='txt')."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("txt").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.length(F.encode(F.col("text"), "utf-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def repartition_by_bytes(df: DataFrame) -> DataFrame:
    """Media-aware partition sizing: estimate total payload bytes from the
    metadata column and repartition so each partition carries roughly
    128 MB — row-count-based sizing is wrong when rows are multi-MB
    blobs."""
    total = df.agg(F.sum(F.col("meta.n_bytes"))).collect()[0][0] or 0
    n = max(1, int(total // (128 << 20)) + 1)
    return df.repartition(n)


def extract_features(media: DataFrame, strict: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column.

    ``strict=True`` raises ``NotImplementedError`` at the decode site —
    the marked integration point for a real decoder (PIL / torchaudio /
    decord); the surrounding plumbing (batch iteration, schema, partition
    sizing) is the production path either way.

    The worker closure is deliberately SELF-CONTAINED (no references to
    this module): Spark Python workers unpickle the function on executors
    that may not have this package on their PYTHONPATH — a module-level
    helper reference would fail to import there."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd  # stdlib/site-packages only inside the worker

        def fake_decode(payload: bytes) -> tuple[int, list[float]]:
            # Deterministic stand-in for a media decoder: 8 'features'
            # from byte-stride sums. Replace with PIL/ffmpeg in prod.
            checksum = sum(payload) % (1 << 31)
            if payload:
                feats = [float(sum(payload[j::8]) % 997) / 997.0 for j in range(8)]
            else:
                feats = [0.0] * 8
            return checksum, feats

        for pdf in it:
            if strict:
                raise NotImplementedError(
                    "media decode requires an image/audio library not present "
                    "in this environment; wire a real decoder here"
                )
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                checksum, feats = fake_decode(payload)
                rows.append((media_id, len(payload), checksum, feats))
            yield _pd.DataFrame(
                rows, columns=["media_id", "n_bytes", "byte_checksum", "feature"]
            )

    return media.select("media_id", "payload").mapInPandas(batches, FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_bytes", T.LongType(), True),
        T.StructField("frame_checksum", T.LongType(), True),
    ]
)


def sample_frames(
    media: DataFrame, frame_size: int = 256, every_k: int = 4, strict: bool = False
) -> DataFrame:
    """Frame sampling for video-shaped payloads: the payload is treated
    as ``ceil(n_bytes / frame_size)`` fixed-size frames and every k-th
    frame is emitted as its own row — the mapInPandas fan-out shape
    (1 input row → many output rows) a real video pipeline uses, with
    the frame DECODE stubbed (strict mode marks the integration point).

    Fan-out is bounded by n_bytes/(frame_size·k) per row; the byte-budget
    repartition upstream keeps per-task output memory flat."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in it:
            if strict:
                raise NotImplementedError(
                    "frame decode requires a video library not present in "
                    "this environment; wire ffmpeg/decord here"
                )
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                n_frames = (len(payload) + frame_size - 1) // frame_size
                for idx in range(0, n_frames, every_k):
                    fr = payload[idx * frame_size : (idx + 1) * frame_size]
                    rows.append((media_id, idx, len(fr), sum(fr) % (1 << 31)))
            yield _pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame_bytes", "frame_checksum"]
            )

    return repartition_by_bytes(media).select("media_id", "payload").mapInPandas(
        batches, FRAME_SCHEMA
    )


def resize_media(media: DataFrame, target_bytes: int = 1024) -> DataFrame:
    """Resize/downsample plumbing: emits a payload deterministically
    reduced to ≤ ``target_bytes`` (stride subsampling — the stand-in for
    a real pixel resize) with refreshed metadata. Output schema matches
    the input media schema, so resize stages compose/chain."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math as _math

        import pandas as _pd

        for pdf in it:
            out = []
            for media_id, payload, meta in zip(pdf["media_id"], pdf["payload"], pdf["meta"]):
                payload = bytes(payload) if payload is not None else b""
                stride = max(1, _math.ceil(len(payload) / target_bytes))
                small = payload[::stride]
                meta = dict(meta) if meta is not None else {}
                meta["n_bytes"] = len(small)
                out.append((media_id, small, meta))
            yield _pd.DataFrame(out, columns=["media_id", "payload", "meta"])

    return media.mapInPandas(batches, MEDIA_SCHEMA)
