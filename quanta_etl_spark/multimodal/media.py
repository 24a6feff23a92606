"""Multimodal (image/audio/video) column handling.

The reference has no multimodal support (it is a flat relational ETL —
SURVEY.md §1); this module adds the north-star capability: media as
opaque ``binary`` columns with typed metadata, processed by
Arrow-batched pandas iterators (``mapInPandas``) so decode /
feature-extract / resize / frame-sample distribute like any other
operator.

Design rules for 100 TB media tables:

* the binary payload travels in the SAME row as its metadata — one
  scan, no N+1 fetches; Parquet stores it as a byte-array column
  that is column-pruned away when a query touches only metadata;
* partition by content size bands (``repartition_for_media``) so one
  task never holds a skewed set of huge payloads;
* every transform is ``mapInPandas`` over an iterator of batches —
  constant memory per task regardless of partition size;
* decode is pluggable: the default decoder uses Pillow when it is
  importable and the payload is a real encoded image, and otherwise
  falls back to a clearly-marked DETERMINISTIC STUB (pseudo-pixels
  derived from the payload bytes) — this container ships no codecs, so
  here the stub always runs. The Spark-side plumbing — schemas, batch
  iteration, partitioning — is real either way and is what these
  functions test.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from quanta_etl_spark.operators.util import python_kernel

__all__ = [
    "MEDIA_SCHEMA",
    "media_table",
    "repartition_for_media",
    "decode_image",
    "image_features",
    "resize_images",
    "sample_video_frames",
    "audio_features",
]

# Canonical layout of a media table: opaque payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("content", BinaryType(), True),
        StructField("mime_type", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("size_bytes", LongType(), True),
    ]
)


def media_table(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Normalize an arbitrary frame holding a binary column into the
    canonical media layout: fills ``size_bytes`` from the payload and
    null-pads any missing metadata columns."""
    out = df
    if "size_bytes" not in out.columns:
        out = out.withColumn("size_bytes", F.octet_length(content_col).cast("long"))
    for field in MEDIA_SCHEMA.fields:
        if field.name not in out.columns:
            out = out.withColumn(field.name, F.lit(None).cast(field.dataType))
    return out.select([f.name for f in MEDIA_SCHEMA.fields])


def repartition_for_media(
    df: DataFrame, target_partition_bytes: int = 128 * 1024 * 1024
) -> DataFrame:
    """Repartition so each task holds ~``target_partition_bytes`` of
    payload. Media rows are wildly skewed (a 4 KB thumbnail vs a 2 GB
    video); row-count-based splits starve or OOM tasks. Size-band
    salting: rows at or above half the target size scatter on a
    DIFFERENTLY-salted uniform hash (so a run of large payloads sharing
    a bucket under the small-row key still spreads out), while small
    rows pack by media-id hash. A single payload is still atomic —
    one row can never split across tasks — so worst-case task size is
    max(target, largest payload) modulo hash collisions among big rows.

    Both band keys are DETERMINISTIC functions of the row (ADVICE r2:
    the previous big-row key used ``monotonically_increasing_id``,
    which changes value when a shuffle-map task re-executes after a
    fetch failure — repartitioning on a non-deterministic key can
    duplicate or drop rows on retry, the SPARK-23207 hazard)."""
    total = df.agg(F.sum(F.octet_length("content"))).first()[0] or 0
    n = max(1, int(total / target_partition_bytes) + 1)
    big = F.octet_length("content").cast("long") >= target_partition_bytes // 2
    pkey = F.when(
        big,
        F.pmod(F.xxhash64("media_id", F.octet_length("content"), F.lit(1)), F.lit(n)),
    ).otherwise(F.pmod(F.xxhash64("media_id"), F.lit(n)))
    return df.withColumn("__pkey", pkey).repartition(n, "__pkey").drop("__pkey")


# ---------------------------------------------------------------------------
# Decode stubs — the container has no Pillow/ffmpeg. Each stub is
# deterministic in the payload bytes so tests are reproducible; swap in
# a real decoder by passing ``decoder=`` to the public operators.
# ---------------------------------------------------------------------------


def _stub_decode_image(data: bytes, width: int, height: int) -> np.ndarray:
    """DETERMINISTIC STUB (no real codec in this container): expands the
    payload bytes into a (height, width, 3) uint8 array by tiling.
    Replace with ``PIL.Image.open`` when Pillow is available."""
    if not data:
        return np.zeros((height, width, 3), dtype=np.uint8)
    raw = np.frombuffer(data, dtype=np.uint8)
    need = height * width * 3
    reps = -(-need // len(raw))  # ceil
    return np.tile(raw, reps)[:need].reshape(height, width, 3)


def _pil_decode_image(data: bytes, width: int, height: int) -> np.ndarray:
    """Real codec path: decode with Pillow. The encoded image's own
    dimensions win over the metadata hints (metadata lies; pixels
    don't). Raises on payloads that are not a decodable image."""
    import io

    from PIL import Image

    with Image.open(io.BytesIO(data)) as img:
        return np.asarray(img.convert("RGB"), dtype=np.uint8)


def _auto_decode_image(data: bytes, width: int, height: int) -> np.ndarray:
    """Default decoder: Pillow when importable AND the payload really is
    an encoded image; the deterministic stub otherwise. The fallback
    keeps synthetic/fake payload corpora (and this container, which has
    no codecs) behaving identically whether or not Pillow is installed —
    the oracle-gated media queries depend on that. Runs inside the
    executor (``mapInPandas``), so the import is per-worker, not
    per-row."""
    if data:
        try:
            return _pil_decode_image(data, width, height)
        except ImportError:
            pass  # no Pillow in this environment → stub
        except Exception:
            pass  # Pillow present but payload not an image → stub
    return _stub_decode_image(data, width, height)


def _default_dims(row: "pd.Series") -> tuple[int, int]:
    w = int(row["width"]) if pd.notna(row.get("width")) else 8
    h = int(row["height"]) if pd.notna(row.get("height")) else 8
    return max(w, 1), max(h, 1)


DECODE_SCHEMA = (
    "media_id long, width int, height int, n_channels int, pixels binary"
)


def decode_image(
    df: DataFrame,
    decoder: Callable[[bytes, int, int], np.ndarray] | None = None,
) -> DataFrame:
    """Decode payloads to raw pixel buffers — ``mapInPandas`` so each
    Arrow batch is decoded inside the executor, never on the driver.
    Output: (media_id, width, height, n_channels, pixels) with pixels
    a C-order uint8 buffer."""
    decode = decoder or _auto_decode_image

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list[Any]] = {
                "media_id": [], "width": [], "height": [],
                "n_channels": [], "pixels": [],
            }
            for _, row in pdf.iterrows():
                w, h = _default_dims(row)
                arr = decode(row["content"] or b"", w, h)
                out["media_id"].append(row["media_id"])
                out["height"].append(arr.shape[0])
                out["width"].append(arr.shape[1])
                out["n_channels"].append(arr.shape[2])
                out["pixels"].append(arr.tobytes())
            yield pd.DataFrame(out)

    return df.select("media_id", "content", "width", "height").mapInPandas(
        python_kernel(run), schema=DECODE_SCHEMA
    )


FEATURE_SCHEMA = (
    "media_id long, mean_intensity double, std_intensity double, "
    "channel_means array<double>, histogram array<long>"
)


def image_features(df: DataFrame) -> DataFrame:
    """Cheap pixel statistics over decoded buffers (operates on the
    output of :func:`decode_image`): mean/std intensity, per-channel
    means, 16-bin histogram. Pure numpy per Arrow batch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                arr = np.frombuffer(row["pixels"], dtype=np.uint8).reshape(
                    row["height"], row["width"], row["n_channels"]
                )
                hist = np.histogram(arr, bins=16, range=(0, 256))[0]
                rows.append(
                    {
                        "media_id": row["media_id"],
                        "mean_intensity": float(arr.mean()),
                        "std_intensity": float(arr.std()),
                        "channel_means": arr.mean(axis=(0, 1)).tolist(),
                        "histogram": hist.tolist(),
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(python_kernel(run), schema=FEATURE_SCHEMA)


def resize_images(df: DataFrame, out_width: int, out_height: int) -> DataFrame:
    """Nearest-neighbor resize of decoded pixel buffers (numpy index
    arithmetic — no codec needed, exact and deterministic)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list[Any]] = {
                "media_id": [], "width": [], "height": [],
                "n_channels": [], "pixels": [],
            }
            for _, row in pdf.iterrows():
                arr = np.frombuffer(row["pixels"], dtype=np.uint8).reshape(
                    row["height"], row["width"], row["n_channels"]
                )
                ys = (np.arange(out_height) * row["height"]) // out_height
                xs = (np.arange(out_width) * row["width"]) // out_width
                resized = arr[ys][:, xs]
                out["media_id"].append(row["media_id"])
                out["height"].append(out_height)
                out["width"].append(out_width)
                out["n_channels"].append(row["n_channels"])
                out["pixels"].append(resized.tobytes())
            yield pd.DataFrame(out)

    return df.mapInPandas(python_kernel(run), schema=DECODE_SCHEMA)


FRAME_SCHEMA = "media_id long, frame_index int, frame_ms long, frame binary"


def sample_video_frames(
    df: DataFrame,
    every_ms: int = 1000,
    decoder: Callable[[bytes, int], list[bytes]] | None = None,
) -> DataFrame:
    """Frame sampling: one output row per sampled frame. The real
    implementation shells to a video codec; the STUB slices the payload
    into byte windows — one per ``every_ms`` of ``duration_ms`` — so
    row-explosion, scheduling, and schema are exercised for real."""

    def stub(data: bytes, n_frames: int) -> list[bytes]:
        if not data or n_frames <= 0:
            return []
        step = max(1, len(data) // n_frames)
        return [data[i * step : (i + 1) * step] for i in range(n_frames)]

    decode = decoder or stub

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                dur = int(row["duration_ms"]) if pd.notna(row["duration_ms"]) else 0
                n = max(dur // every_ms, 0)
                for i, frame in enumerate(decode(row["content"] or b"", n)):
                    rows.append(
                        {
                            "media_id": row["media_id"],
                            "frame_index": i,
                            "frame_ms": i * every_ms,
                            "frame": frame,
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_index", "frame_ms", "frame"]
            )

    return df.select("media_id", "content", "duration_ms").mapInPandas(
        python_kernel(run), schema=FRAME_SCHEMA
    )


AUDIO_SCHEMA = (
    "media_id long, n_samples long, rms double, peak double, zero_crossings long"
)


_PCM_DTYPES = {1: np.int8, 2: np.int16, 4: np.int32}


def audio_features(df: DataFrame, sample_width: int = 2) -> DataFrame:
    """Audio summary features, treating the payload as raw PCM of
    ``sample_width`` bytes per sample — 1/2/4 map to int8/int16/int32
    (ADVICE r1: the width previously didn't pick the dtype, so widths
    other than 2 mis-parsed). A real build would decode the container
    format first — NOT available here; the PCM interpretation is exact
    for WAV-style payloads and a deterministic stand-in otherwise."""
    try:
        dtype = _PCM_DTYPES[sample_width]
    except KeyError:
        raise ValueError(
            f"sample_width must be one of {sorted(_PCM_DTYPES)}, "
            f"got {sample_width}"
        ) from None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                data = row["content"] or b""
                usable = len(data) - (len(data) % sample_width)
                samples = np.frombuffer(data[:usable], dtype=dtype).astype(
                    np.float64
                )
                if samples.size == 0:
                    samples = np.zeros(1)
                signs = np.sign(samples)
                rows.append(
                    {
                        "media_id": row["media_id"],
                        "n_samples": int(samples.size),
                        "rms": float(np.sqrt(np.mean(samples**2))),
                        "peak": float(np.max(np.abs(samples))),
                        "zero_crossings": int(
                            np.count_nonzero(np.diff(signs[signs != 0]))
                            if samples.size > 1
                            else 0
                        ),
                    }
                )
            yield pd.DataFrame(rows)

    return df.select("media_id", "content").mapInPandas(
        python_kernel(run), schema=AUDIO_SCHEMA
    )


PHASH_SCHEMA = "media_id long, phash_hi long, phash_lo long"


def perceptual_hash(decoded: DataFrame) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprint over decoded pixel
    buffers (the output of :func:`decode_image`): per-pixel gray level
    vs the image's mean gray level gives one bit per pixel of the 8x8
    grid (row-major, first 64 pixels). Identical images hash equal;
    with a real codec small edits flip few bits, so Hamming-tolerant
    matching via the pigeonhole banding of ``dedup.simhash_dedup_pairs``
    extends this to near-duplicate media.

    The threshold is computed in EXACT integer space
    (``graysum * n > total``) — no floating-point mean, so any SQL
    oracle reproduces the bits exactly. Emitted as two unsigned 32-bit
    halves (hi = bits 32..63) to dodge signed-64 packing differences
    across engines.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, his, los = [], [], []
            for _, row in pdf.iterrows():
                arr = np.frombuffer(row["pixels"], dtype=np.uint8).reshape(
                    row["height"], row["width"], row["n_channels"]
                )
                gs = arr.sum(axis=2, dtype=np.int64).flatten()[:64]
                n = len(gs)
                total = int(gs.sum())
                v = 0
                for i in range(n):
                    # integer-exact: gray_i > mean(gray) <=> gs_i*n > total
                    if int(gs[i]) * n > total:
                        v |= 1 << i
                ids.append(row["media_id"])
                his.append(v >> 32)
                los.append(v & 0xFFFFFFFF)
            yield pd.DataFrame(
                {"media_id": ids, "phash_hi": his, "phash_lo": los}
            )

    return decoded.mapInPandas(python_kernel(run), PHASH_SCHEMA)


def phash_neardup_pairs(
    hashed: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Near-duplicate media pairs by perceptual-hash Hamming distance —
    the media twin of ``dedup.simhash_dedup_pairs``. Pigeonhole
    banding: split the 64 hash bits into ``max_hamming + 1`` equal
    blocks; any pair within the distance agrees on ≥1 block, so
    per-block equi-joins find ALL such pairs (complete — no false
    negatives) without a cross join. Verification sums per-half XOR
    popcounts, so no signed-64 packing is ever materialized.

    ``max_hamming`` must be 1, 3, or 7 (block widths 32/16/8 that
    divide the 32-bit halves cleanly).
    """
    nblocks = max_hamming + 1
    if 64 % nblocks != 0 or (64 // nblocks) > 32 or 32 % (64 // nblocks) != 0:
        raise ValueError("max_hamming must be 1, 3, or 7")
    width = 64 // nblocks
    per_half = 32 // width
    mask = (1 << width) - 1
    blocks = []
    for i in range(nblocks):
        half = F.col("phash_lo") if i < per_half else F.col("phash_hi")
        off = (i % per_half) * width
        blocks.append(
            F.struct(
                F.lit(i).alias("block"),
                F.shiftright(half, off).bitwiseAND(F.lit(mask)).alias("bval"),
            )
        )
    banded = hashed.select(
        F.col("media_id").alias("__id"),
        "phash_hi",
        "phash_lo",
        F.explode(F.array(*blocks)).alias("__b"),
    ).select("__id", "phash_hi", "phash_lo", "__b.block", "__b.bval")
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.bval") == F.col("r.bval"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            (
                F.bit_count(
                    F.col("l.phash_hi").bitwiseXOR(F.col("r.phash_hi"))
                )
                + F.bit_count(
                    F.col("l.phash_lo").bitwiseXOR(F.col("r.phash_lo"))
                )
            ).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.where(F.col("hamming") <= max_hamming)
