"""Multimodal (image/audio/video) column plumbing.

Media are opaque `binary` columns plus typed metadata structs.  The Spark-side
plumbing -- schema, Arrow batch shape, mapInPandas partitioning -- is real and
tested; the actual codec step is STUBBED (this container ships no image/audio
libraries) behind `decode_image_real`, which raises NotImplementedError, with
`fake_decode_meta` as the deterministic stand-in used by tests and queries.

At 100 TB: mapInPandas streams Arrow batches through Python once, with no
row-at-a-time serialization; binary payloads never leave the executor, and
`spark.sql.files.maxPartitionBytes` bounds per-task memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_SCHEMA = "doc_id bigint, n_bytes bigint, fake_width int, fake_height int, checksum bigint"


def decode_image_real(payload: bytes) -> tuple[int, int]:
    """Real codec hook (PIL/libvips in production)."""
    raise NotImplementedError("image codecs are not available in this container; use fake_decode_meta")


def fake_decode_meta(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for a decoder: derive (width, height, checksum)
    purely from the bytes so oracles can reproduce it in SQL."""
    n = len(payload)
    width = n % 640 + 1
    height = n % 480 + 1
    checksum = sum(payload[:16]) if n else 0
    return width, height, checksum


def with_binary_payload(df: DataFrame, text_col: str) -> DataFrame:
    """Materialize an opaque binary column (stand-in for real media bytes)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def extract_media_meta(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas feature extraction over binary payloads (Arrow-batched)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            meta = [fake_decode_meta(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "fake_width": pd.Series([m[0] for m in meta], dtype="int32"),
                    "fake_height": pd.Series([m[1] for m in meta], dtype="int32"),
                    "checksum": pd.Series([m[2] for m in meta], dtype="int64"),
                }
            )

    return df.select(id_col, "payload").mapInPandas(run, schema=META_SCHEMA)


def sample_frames(df: DataFrame, id_col: str = "doc_id", frame_bytes: int = 64, every: int = 2) -> DataFrame:
    """Frame sampling over binary payloads: chunk into fixed-size frames, keep
    every `every`-th.

    Deliberately pure JVM (sequence + explode + binary substr): the expansion
    multiplies row counts, so it belongs inside codegen, not in Python.  A
    real video pipeline swaps the fixed-stride chunking for container-aware
    offsets but keeps this exact plan shape (no shuffle: Generate preserves
    partitioning; output rows stay on their input's executor).
    """
    n_frames = (F.floor((F.length("payload") - 1) / frame_bytes) + 1).cast("int")
    return (
        # Empty payloads must yield zero frames; without the filter,
        # sequence(0, -1) silently flips to a DESCENDING [0, -1] sequence
        # (two-arg sequence defaults step to -1 when start > stop) and emits
        # bogus frame rows.
        df.filter(F.length("payload") > 0)
        .select(id_col, "payload", F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"))
        .filter(F.col("frame_idx") % every == 0)
        .select(
            id_col,
            F.col("frame_idx").cast("bigint").alias("frame_idx"),
            F.substr("payload", F.col("frame_idx") * frame_bytes + 1, F.lit(frame_bytes)).alias("frame"),
        )
        .withColumn("frame_bytes", F.length("frame").cast("bigint"))
    )


RESIZED_SCHEMA = "doc_id bigint, resized binary, out_w int, out_h int"


def fake_resize(payload: bytes, w: int, h: int) -> bytes:
    """Deterministic stand-in for a decoder+resampler: truncate/zero-pad the
    byte stream to exactly w*h bytes (a real implementation decodes, resamples
    with PIL/libvips, and re-encodes; only this function changes)."""
    target = w * h
    return payload[:target].ljust(target, b"\0")


def resize_media(df: DataFrame, w: int, h: int) -> DataFrame:
    """mapInPandas resize of (doc_id, payload) rows: Arrow-batched binary
    in, fixed-size binary out.

    Same plumbing contract as extract_media_meta: payloads stream through
    Python once per Arrow batch, no shuffle, per-task memory bounded by
    maxPartitionBytes x (output/input size ratio).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "resized": [fake_resize(bytes(p), w, h) for p in pdf["payload"]],
                    "out_w": pd.Series([w] * len(pdf), dtype="int32"),
                    "out_h": pd.Series([h] * len(pdf), dtype="int32"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(run, schema=RESIZED_SCHEMA)


DHASH_SCHEMA = "doc_id bigint, b0 int, b1 int, b2 int, b3 int"
_DHASH_W, _DHASH_H = 9, 8  # 9x8 grid -> 8x8 horizontal-gradient bits


def dhash_bands(df: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) over (doc_id, payload) rows,
    packed as four 16-bit band keys for LSH-style banding.

    The production pipeline decodes the image, grayscale-resamples it to a
    9x8 grid, and sets bit (r, c) = pixel[r, c] < pixel[r, c + 1] -- 64
    horizontal-gradient sign bits that survive rescaling, re-encoding and
    small edits, which is why dHash is the standard cheap image-dedup
    fingerprint.  Here the decode+resample step is the deterministic
    `fake_resize` stand-in (this container ships no codecs -- same honesty
    gate as decode_image_real), so the "pixels" are the first 72 payload
    bytes zero-padded; ONLY fake_resize changes when a real codec lands,
    the hash kernel and banding below are the production shape.

    Kernel: one vectorized numpy pass per Arrow batch (mapInPandas --
    payloads never leave the executor, no shuffle).  The 64 bits are packed
    little-endian (bit k = row k//8, col k%8) into four 16-bit keys
    b0..b3; by pigeonhole, two hashes within Hamming distance 3 agree on
    at least one of the 4 bands, so a band-equality bucket join generates
    all near-dup candidates without any all-pairs step.
    """
    weights = np.left_shift(1, np.arange(16, dtype=np.int64))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            px = np.zeros((n, _DHASH_W * _DHASH_H), dtype=np.int16)
            for i, p in enumerate(pdf["payload"]):
                px[i] = np.frombuffer(
                    fake_resize(bytes(p), _DHASH_W, _DHASH_H), dtype=np.uint8
                )
            grid = px.reshape(n, _DHASH_H, _DHASH_W)
            bits = (grid[:, :, :-1] < grid[:, :, 1:]).reshape(n, 64)
            bands = (bits.reshape(n, 4, 16) * weights).sum(axis=2).astype(np.int32)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "b0": bands[:, 0],
                    "b1": bands[:, 1],
                    "b2": bands[:, 2],
                    "b3": bands[:, 3],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(run, schema=DHASH_SCHEMA)
