"""Count-min sketch: fixed-size frequency summaries of unbounded key
streams (north-star "novel sketch" surface; no reference counterpart).

Why at 100 TB: an exact token-frequency table is as large as the
vocabulary (billions of rows for web-scale text); a count-min sketch
bounds the summary to depth x width counters with a one-sided error
guarantee — estimate >= true count always, and estimate <= true +
eps*N with probability 1 - delta for width = e/eps, depth = ln(1/delta).
The sketch is a plain (depth, bucket, count) DataFrame: mergeable
across partitions/days by summing counters (the property that makes it
a sketch), persistable as parquet, and probe-able with a broadcast
join.

Shape: explode keys -> depth hashed rows per key -> ONE hash aggregate
on (depth, bucket) with map-side combine.  Everything wholestage
codegen (xxhash64 + pmod), no Python, no HOFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# xxhash64 seed of depth row 0 (row d hashes with _SEED + d): one value,
# so every build, merge and probe agrees
_SEED = 42


def count_min_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Build the sketch over one key column: returns (d, bucket, cnt)
    with exactly one row per NON-EMPTY counter (absent = 0).  Merge two
    sketches (same depth/width) by unioning and summing cnt."""
    rows = df.select(F.col(key_col).alias("_k"))
    # round-robin fan-out, NOT hash-partitioning on the key: the skewed
    # streams CMS targets have one value covering much of the input,
    # and keying the repartition on it would serialize the heavy
    # hitter onto one task; the downstream aggregate groups on
    # (d, bucket), so key locality buys nothing (round-7 review
    # finding).  Only applied to under-partitioned inputs — an
    # already-parallel source keeps its partitioning (same contract as
    # fan_out).
    spark_defpar = rows.sparkSession.sparkContext.defaultParallelism
    if rows.rdd.getNumPartitions() < spark_defpar:
        rows = rows.repartition(spark_defpar)
    hashed = rows.select(
        *[
            F.pmod(F.xxhash64("_k", F.lit(_SEED + d)), F.lit(width)).alias(f"_b{d}")
            for d in range(depth)
        ]
    )
    # one explode-free stack: union of per-depth projections collapses
    # to a single read via column pruning? No — build (d, bucket) rows
    # with an inline array + explode so the source is scanned ONCE.
    pairs = hashed.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(d).alias("d"), F.col(f"_b{d}").alias("bucket"))
                    for d in range(depth)
                ]
            )
        ).alias("e")
    ).select("e.d", "e.bucket")
    return pairs.groupBy("d", "bucket").agg(F.count("*").alias("cnt"))


def count_min_estimate(
    sketch: DataFrame, probes: DataFrame, key_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Estimated count per probe key: min over depth of the key's
    bucket counters (missing counter = 0).  The (tiny) probe set hashes
    per depth and broadcast-joins the sketch — the sketch never
    reshuffles."""
    p = probes.select(F.col(key_col).alias("key")).distinct()
    p_hashed = p.select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.pmod(F.xxhash64("key", F.lit(_SEED + d)), F.lit(width)).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("e"),
    ).select("key", "e.d", "e.bucket")
    joined = p_hashed.join(F.broadcast(sketch), ["d", "bucket"], "left").select(
        "key", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    return joined.groupBy("key").agg(F.min("cnt").alias("est_count"))


def count_min_build_sliced(
    df: DataFrame,
    slice_cols: list[str],
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Per-slice CMS SEGMENTS: (slice…, d, bucket, cnt) — the
    frequency member of the repo's mergeable-MV family (bitmap =
    exact distinct, HDR histogram = quantiles, CMS = frequencies).
    A segment is a complete sketch of its slice; ANY slice subset
    (a day range, a source set) merges by summing counters
    (:func:`count_min_merge`), so steady-state frequency questions
    cost O(slices × depth × width), never a raw re-scan.  Same
    build shape as :func:`count_min_build` (one scan, explode to
    depth rows, ONE map-side-combinable aggregate); the slice columns
    simply join the grouping key.
    """
    if not slice_cols:
        raise ValueError(
            "count_min_build_sliced: slice_cols must be non-empty — use "
            "count_min_build for an unsliced sketch"
        )
    rows = df.select(*slice_cols, F.col(key_col).alias("_k"))
    spark_defpar = rows.sparkSession.sparkContext.defaultParallelism
    if rows.rdd.getNumPartitions() < spark_defpar:
        rows = rows.repartition(spark_defpar)
    pairs = rows.select(
        *slice_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.pmod(
                            F.xxhash64("_k", F.lit(_SEED + d)), F.lit(width)
                        ).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("e"),
    ).select(*slice_cols, "e.d", "e.bucket")
    return pairs.groupBy(*slice_cols, "d", "bucket").agg(
        F.count("*").alias("cnt")
    )


def count_min_merge(segments: DataFrame) -> DataFrame:
    """Merge CMS segments (drop the slice columns first, or filter to
    the slice range you want) into ONE sketch: (d, bucket, cnt) by
    summing counters — the additive property that makes the sketch a
    sketch.  Segments must share depth/width; estimates off the
    merged sketch obey the summed-N error envelope."""
    return segments.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))
