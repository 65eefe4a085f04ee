"""Multimodal column plumbing: image/audio/video as opaque `binary`
columns with typed metadata, processed by Arrow-batched Pandas UDFs.

The Spark-side plumbing (schema, partition shape, `mapInPandas` batch
signatures) is real and tested; the *codec* step is stubbed behind
import guards because media libraries (PIL/ffmpeg/librosa) are not in
this environment — a deployment swaps `_decode_stub` for a real decoder
without touching the distributed shape.

Scale notes: binary payloads ride the normal columnar path (parquet
binary + Arrow transfer); never collect them. Decode parallelism is
row-group parallelism — size `spark.sql.files.maxPartitionBytes` so a
task's batch of blobs fits executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id bigint, width int, height int, n_bytes bigint, decode_error string"
)
FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame binary"


def attach_fake_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic fake media blobs for plumbing tests: 64 bytes
    derived from md5 of the id (JVM-side `unhex`, no Python)."""
    h = F.md5(F.col(id_col).cast("string"))
    blob = F.unhex(F.concat(h, F.reverse(h), h, F.reverse(h)))
    meta = F.struct(
        F.lit("image").alias("media_type"),
        F.lit("fake").alias("codec"),
        F.length(blob).cast("long").alias("n_bytes"),
    )
    return df.withColumn("media", blob).withColumn("media_meta", meta)


def _try_decode(blob: bytes | None) -> tuple[int | None, int | None, str | None]:
    """Deterministic fake decode: (width, height, error). Never raises —
    an undecodable payload returns ``(None, None, reason)`` so ONE
    corrupt blob in a 100 TB corpus becomes an error ROW, not a failed
    stage (a raise here would kill the task, be retried 4×, then fail
    the whole job). Swap the happy path for a real codec in deployment:

        try:
            from PIL import Image  # not available in this container
        except ImportError:
            return None, None, "undecodable: image codec not installed"
    """
    if blob is None:
        return None, None, "undecodable: null payload"
    if len(blob) < 2:
        return None, None, "undecodable: payload too short"
    return int(blob[0]) + 1, int(blob[1]) + 1, None


def extract_image_features(df: DataFrame) -> DataFrame:
    """Decode dimensions per blob — `mapInPandas` so each Python call
    handles an Arrow batch of blobs, not one row.

    Error channel: decode failures surface as rows with null
    width/height and a `decode_error` reason string (n_bytes still
    reports the corrupt payload's size); successes carry a null
    `decode_error`. Downstream filters/aggregates the error rows as a
    data-quality signal — nothing ever raises inside the stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            widths: list[int | None] = []
            heights: list[int | None] = []
            n_bytes: list[int | None] = []
            errors: list[str | None] = []
            for b in pdf["media"]:
                w, h, e = _try_decode(b)
                widths.append(w)
                heights.append(h)
                n_bytes.append(len(b) if b is not None else None)
                errors.append(e)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    # nullable extension dtypes: plain int lists with
                    # None would decay to float64 and corrupt the Arrow
                    # round-trip
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "n_bytes": pd.array(n_bytes, dtype="Int64"),
                    "decode_error": pd.array(errors, dtype="object"),
                }
            )

    return df.select("doc_id", "media").mapInPandas(run, schema=FEATURE_SCHEMA)


def sample_frames(df: DataFrame, every_n_bytes: int = 16) -> DataFrame:
    """Frame sampling stand-in: split each blob into fixed-size chunks
    as (doc_id, frame_idx, frame) rows — the row-explosion shape real
    video frame-sampling produces."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                if blob is None:
                    continue  # corrupt payload → zero frames, not a crash
                for i in range(0, len(blob), every_n_bytes):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i // every_n_bytes)
                    out["frame"].append(bytes(blob[i : i + every_n_bytes]))
            yield pd.DataFrame(out)

    return df.select("doc_id", "media").mapInPandas(run, schema=FRAME_SCHEMA)


RESAMPLE_SCHEMA = "doc_id bigint, resampled binary"


def resample_media(df: DataFrame, stride: int = 4) -> DataFrame:
    """Resize/downsample stand-in: keep every `stride`-th byte of each
    blob — the shape (per-blob transform, smaller payload out) of image
    resize / audio resample, as an Arrow-batched `mapInPandas`."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "resampled": [
                        bytes(b[::stride]) if b is not None else None
                        for b in pdf["media"]
                    ],
                }
            )

    return df.select("doc_id", "media").mapInPandas(run, schema=RESAMPLE_SCHEMA)


AUDIO_FEATURE_SCHEMA = (
    "doc_id bigint, n_samples int, sample_rate int, duration_ms bigint, "
    "loudness bigint, decode_error string"
)

#: Fake-audio nominal sample rate (Hz) carried in typed metadata.
AUDIO_RATE = 16000


def attach_fake_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic fake audio blobs (same md5-derived 64 bytes as
    `attach_fake_media`) with AUDIO-typed metadata: 16-bit mono PCM at
    {AUDIO_RATE} Hz — the second modality exercising the same binary
    column + typed-metadata convention."""
    h = F.md5(F.col(id_col).cast("string"))
    blob = F.unhex(F.concat(h, F.reverse(h), h, F.reverse(h)))
    meta = F.struct(
        F.lit("audio").alias("media_type"),
        F.lit("pcm_s16le_fake").alias("codec"),
        F.length(blob).cast("long").alias("n_bytes"),
        F.lit(AUDIO_RATE).alias("sample_rate"),
    )
    return df.withColumn("media", blob).withColumn("media_meta", meta)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Audio decode stub over Arrow batches: sample count (2 bytes per
    16-bit sample), duration at the metadata rate, and an exact integer
    loudness proxy (sum of payload bytes — stands in for RMS, which a
    real codec computes; integral so the oracle matches bit-for-bit).
    Same error-row channel as the image path: undecodable payloads
    yield null features + a `decode_error` reason, never a raise."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_samples: list[int | None] = []
            duration: list[int | None] = []
            loud: list[int | None] = []
            errors: list[str | None] = []
            for b in pdf["media"]:
                if b is None or len(b) < 2:
                    n_samples.append(None)
                    duration.append(None)
                    loud.append(None)
                    errors.append(
                        "undecodable: null payload"
                        if b is None
                        else "undecodable: payload too short"
                    )
                    continue
                ns = len(b) // 2
                n_samples.append(ns)
                duration.append(ns * 1000 // AUDIO_RATE)
                loud.append(int(sum(b)))
                errors.append(None)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_samples": pd.array(n_samples, dtype="Int32"),
                    "sample_rate": pd.array(
                        [AUDIO_RATE] * len(pdf), dtype="Int32"
                    ),
                    "duration_ms": pd.array(duration, dtype="Int64"),
                    "loudness": pd.array(loud, dtype="Int64"),
                    "decode_error": pd.array(errors, dtype="object"),
                }
            )

    return df.select("doc_id", "media").mapInPandas(run, schema=AUDIO_FEATURE_SCHEMA)


PHASH_SCHEMA = "doc_id bigint, phash bigint, decode_error string"


def perceptual_hash(df: DataFrame) -> DataFrame:
    """Difference-hash (dHash) over decoded pixel bytes, Arrow-batched:
    bit i of the 63-bit hash is 1 iff byte[i] > byte[i+1] — the
    adjacent-gradient signature real perceptual image hashing computes
    on the resized luma grid. 63 bits keeps the value positive in a
    signed BIGINT on every engine. Same error-row discipline as the
    other decode stages: short/null payloads yield a null hash + a
    reason, never a raise."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes: list[int | None] = []
            errors: list[str | None] = []
            for b in pdf["media"]:
                if b is None:
                    hashes.append(None)
                    errors.append("undecodable: null payload")
                    continue
                if len(b) < 64:
                    hashes.append(None)
                    errors.append("undecodable: payload too short")
                    continue
                v = 0
                for i in range(63):
                    if b[i] > b[i + 1]:
                        v |= 1 << i
                hashes.append(v)
                errors.append(None)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": pd.array(hashes, dtype="Int64"),
                    "decode_error": pd.array(errors, dtype="object"),
                }
            )

    return df.select("doc_id", "media").mapInPandas(run, schema=PHASH_SCHEMA)
