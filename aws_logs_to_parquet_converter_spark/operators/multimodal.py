"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata (north-star operator set).

The Spark-side mechanics are real and tested — schema contract,
Arrow-batched ``mapInPandas`` fan-out, batch-size control, partition
sizing.  The codec step is one seam, ``extract_features(decoder=)``: a
``decoder(payload, media_type)`` returns FEATURE_DIM floats, or None to
quarantine the row as a NULL feature.  The default is a deterministic
stub (no codec library in this container).  The one built-in real
format is ASCII PPM (P3): ``p3_feature`` decodes ``image`` payloads to
a luminance histogram and quarantines every other media type.  A
production deploy passes a Pillow/torchaudio/ffmpeg decoder at the same
seam.

Scale notes: binary payloads dominate partition size, so the entry
point re-splits by target bytes before the Python stage
(``repartition`` on a byte-budget estimate), and features travel back
as fixed-width arrays — never re-serialized blobs.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# The asset table contract: opaque payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("asset_id", StringType(), False),
        StructField("media_type", StringType(), True),  # image|audio|video
        StructField("payload", StringType(), True),  # binary in prod; str stand-in ok
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", StringType(), False),
        StructField("media_type", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)

FEATURE_DIM = 8


def decode_ppm_p3(data: "bytes | str") -> tuple[int, int, int, list[int]]:
    """Decode an ASCII PPM (P3) image with no codec library: returns
    (width, height, maxval, flat [r,g,b,...] values).  P3 is the one
    real image format a pure-Python decoder can honestly prove the
    non-stub pipeline with; '#' comments are stripped per the spec."""
    text = data.decode("ascii", "strict") if isinstance(data, (bytes, bytearray)) else data
    tokens = [tok for line in text.split("\n") for tok in line.split("#")[0].split()]
    if not tokens or tokens[0] != "P3":
        raise ValueError("not an ASCII PPM (P3) payload")
    # Full header validation BEFORE any arithmetic: a truncated header
    # (< 4 tokens), non-integer token, maxval < 1, or non-positive
    # dimension must surface as ValueError so callers quarantine the
    # row (NULL feature) instead of crashing the Spark task with
    # IndexError / ZeroDivisionError (round-4 advisor finding).
    if len(tokens) < 4:
        raise ValueError("truncated PPM header")
    w, h, maxval = int(tokens[1]), int(tokens[2]), int(tokens[3])
    if w <= 0 or h <= 0 or maxval < 1:
        raise ValueError("invalid PPM dimensions/maxval")
    vals = [int(v) for v in tokens[4 : 4 + 3 * w * h]]
    if len(vals) < 3 * w * h:
        raise ValueError("truncated PPM payload")
    if any(v < 0 or v > maxval for v in vals):
        # out-of-range samples (incl. negatives, which would index the
        # luma histogram from the wrong end) are spec violations
        raise ValueError("PPM sample out of [0, maxval] range")
    return w, h, maxval, vals


def p3_feature(payload: bytes, media_type: "str | None") -> "list[float] | None":
    """The built-in typed decoder: an ``image`` payload decodes as P3 to
    a FEATURE_DIM-bin normalized ITU-R 601 luminance histogram.  None
    (not fake numbers) for an undecodable image and for every other
    media type — NULL features are the quarantine signal."""
    if media_type != "image":
        return None
    try:
        w, h, maxval, vals = decode_ppm_p3(payload)
    except (ValueError, UnicodeDecodeError):
        return None
    hist = [0] * FEATURE_DIM
    for i in range(0, len(vals), 3):
        luma = (299 * vals[i] + 587 * vals[i + 1] + 114 * vals[i + 2]) / (1000 * maxval)
        hist[min(int(luma * FEATURE_DIM), FEATURE_DIM - 1)] += 1
    n = float(w * h)
    return [c / n for c in hist]


def _stub_feature(payload: bytes, media_type: "str | None") -> list[float]:
    """Deterministic fake embedding: byte-histogram folded to FEATURE_DIM,
    whatever the media type.  Stands in for a real encoder; stable
    across runs/partitions."""
    acc = [0] * FEATURE_DIM
    for i, b in enumerate(payload):
        acc[i % FEATURE_DIM] = (acc[i % FEATURE_DIM] + b) % 997
    total = float(sum(acc)) or 1.0
    return [a / total for a in acc]


def extract_features(
    df: DataFrame,
    decoder: "Callable[[bytes, str | None], list[float] | None]" = _stub_feature,
) -> DataFrame:
    """Arrow-batched feature extraction over the media table.

    ``mapInPandas`` streams row batches through Python once — the only
    sanctioned Python crossing in the engine, used exactly where JVM
    expressions cannot express the work (codec calls).

    ``decoder(payload, media_type)`` runs on every row: the payload as
    bytes, the media_type column as-is.  It returns FEATURE_DIM floats,
    or None for a NULL feature (quarantine).  The default is the
    stub; ``p3_feature`` is the built-in real decoder.

    ONE aggregate pre-scan byte-balances the Python stage to 64 MiB
    partitions (payloads, not row counts, dominate partition size); the
    decoder sees 64-row chunks.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), 64):
                chunk = pdf.iloc[start : start + 64]
                # latin-1, not utf-8: string payloads stand in for raw
                # bytes (MEDIA_SCHEMA note), and utf-8 double-encodes
                # chars 128-255, corrupting any binary-carrying payload
                payloads = [
                    p.encode("latin-1", "replace")
                    if isinstance(p, str)
                    else (bytes(p) if p is not None else b"")
                    for p in chunk["payload"]
                ]
                feats = [decoder(p, mt) for p, mt in zip(payloads, chunk["media_type"])]
                yield pd.DataFrame(
                    {
                        "asset_id": chunk["asset_id"],
                        "media_type": chunk["media_type"],
                        "n_bytes": [len(p) for p in payloads],
                        "feature": feats,
                    }
                )

    sized = df
    stats = df.select(F.sum(F.length("payload")).alias("total")).first()
    total_bytes = stats["total"] or 0
    n_parts = max(1, int(total_bytes / (64 * 1024 * 1024)))
    # shuffle only when the arriving layout is actually wrong for the
    # byte budget (too few splits, or >2x over-split); a correctly-sized
    # input must not pay an exchange (round-4 advisor finding: the
    # default path had gone unconditional)
    cur = df.rdd.getNumPartitions()
    if cur < n_parts or cur > 2 * n_parts:
        sized = df.repartition(n_parts)
    return sized.mapInPandas(run, schema=FEATURE_SCHEMA)


def media_summary(features: DataFrame) -> DataFrame:
    """Post-extraction rollup, back in pure JVM expressions."""
    return features.groupBy("media_type").agg(
        F.count("*").alias("n_assets"),
        F.sum("n_bytes").alias("total_bytes"),
        F.avg(F.element_at("feature", 1)).alias("mean_f0"),
    )
