"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed through ``mapInArrow`` over each
batch's flat binary buffer.

The Spark-side plumbing (schemas, batch shape, partition behavior) is
real and tested; the actual codec work is STUBBED — image/audio libraries
are not in this container — behind ``decode_stub`` (NotImplementedError)
and ``fake_features`` (deterministic hash-derived vectors standing in for
a real feature extractor, so downstream operators can be exercised).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURES_SCHEMA = "media_id long, media_type string, n_bytes long, features array<float>"


def decode_stub(media: DataFrame) -> DataFrame:
    """Real decode path — requires codec libraries not present here."""
    raise NotImplementedError(
        "media decode requires PIL/ffmpeg (not in this container); "
        "use fake_features() for pipeline plumbing"
    )


def fake_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """The feature-extraction stage with the codec swapped for a
    deterministic fake — batch shape and schema identical to the real one.
    A payload's vector is its blake2b digest read as ``dim`` uint32 / 2^32
    (a null payload hashes as empty)."""

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in it:
            payload = rb.column("payload")
            d = b"".join(hashlib.blake2b(p or b"", digest_size=dim * 4).digest()
                         for p in payload.to_pylist())
            vec = (np.frombuffer(d, dtype=np.uint32) / 2**32).astype(np.float32)
            yield pa.RecordBatch.from_arrays(
                [rb.column("media_id"), rb.column("media_type"),
                 pc.binary_length(payload).fill_null(0).cast(pa.int64()),
                 pa.FixedSizeListArray.from_arrays(vec, dim).cast(pa.list_(pa.float32()))],
                ["media_id", "media_type", "n_bytes", "features"],
            )

    return media.select("media_id", "media_type", "payload").mapInArrow(
        batches, FEATURES_SCHEMA
    )


BYTE_FEATURES_SCHEMA = (
    "media_id long, media_type string, n_bytes long, "
    "entropy double, mean_byte double, frac_printable double"
)


def byte_features(media: DataFrame) -> DataFrame:
    """REAL (not stubbed) codec-free feature extraction over the raw
    payload bytes: Shannon entropy, mean byte value, printable-ASCII
    fraction. This is the feature path that needs no image/audio library —
    useful as-is for corrupt-file detection, format fingerprinting, and
    compression-ratio proxies in a training-data pipeline. A batch's byte
    histograms are one ``bincount`` over its flat binary buffer; a null or
    empty payload has ``n_bytes`` 0 and zero features."""

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in it:
            payload = rb.column("payload").cast(pa.large_binary()).fill_null(b"")
            rows = len(payload)
            offs = np.frombuffer(payload.buffers()[1], np.int64)[payload.offset :][: rows + 1]
            flat = np.frombuffer(payload.buffers()[2] or b"", np.uint8)[offs[0] : offs[-1]]
            n = np.diff(offs)
            row_of = np.repeat(np.arange(rows, dtype=np.int64), n)
            h = np.bincount(row_of * 256 + flat, minlength=rows * 256).reshape(rows, 256)
            nz = np.maximum(n, 1)
            # -sum(p log2 p) over a row's nonzero bins in byte order: numpy's
            # pairwise sum groups terms by their count, so rows sum in blocks
            # of one nonzero-bin count to match a per-payload sum bit for bit
            k, ent = (h > 0).sum(axis=1), np.zeros(rows)
            for kk in np.unique(k[k > 0]):
                hr = h[k == kk]
                p = hr[hr > 0].reshape(-1, kk) / nz[k == kk, None]
                ent[k == kk] = -(p * np.log2(p)).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [rb.column("media_id"), rb.column("media_type"), pa.array(n), pa.array(ent),
                 pa.array(h @ np.arange(256) / nz), pa.array(h[:, 32:127].sum(axis=1) / nz)],
                ["media_id", "media_type", "n_bytes", "entropy", "mean_byte", "frac_printable"],
            )

    return media.select("media_id", "media_type", "payload").mapInArrow(
        batches, BYTE_FEATURES_SCHEMA
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: one output row per planned frame
    (the decode itself is the stubbed part). Demonstrates the explode
    shape — bounded fan-out duration/every_ms per video."""
    n_frames = F.greatest(
        F.lit(1), (F.col("meta.duration_ms") / every_ms).cast("int")
    )
    return (
        media.filter(F.col("media_type") == "video")
        .select("media_id", F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"))
        .withColumn("ts_ms", F.col("frame_idx") * every_ms)
    )


def synth_media(spark, n: int = 100) -> DataFrame:
    """Deterministic synthetic media table for tests."""
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        payload = hashlib.blake2b(str(i).encode(), digest_size=32).digest() * (i % 5 + 1)
        meta = (64 + i % 512, 48 + i % 256, 1000 * (i % 30 + 1), "fake")
        rows.append((i, kind, bytearray(payload), meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
