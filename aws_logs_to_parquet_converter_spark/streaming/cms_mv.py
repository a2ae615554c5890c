"""Streaming count-min-segment materialized view: maintain
``sketch.count_min_build_sliced`` segments incrementally from a
stream (``foreachBatch`` merge per micro-batch) — the FREQUENCY member
of the streaming-MV family beside ``bitmap_mv`` (exact distinct).

Storage and crash-safety: a versioned store (``operators/versioned.py``
holds the layout, commit order and bootstrap rule); every merge commits
a new version.  One contract is STRONGER here than in the bitmap
case: CMS counters are ADDITIVE, not idempotent — ``bit_or`` of
replayed bits is a no-op, but SUMMING a replayed batch double-counts
silently.  The params row therefore
carries ``last_batch_id``, and ``apply_cms_batch`` SKIPS any batch id
at or below it: Structured Streaming's foreachBatch is at-least-once
with deterministic, monotonically increasing batch ids, so the guard
turns replay into a no-op and the MV is exactly-once.

Scale: each micro-batch shuffles only its OWN segments (batch-sized,
map-side combined on (slice, d, bucket)) plus the state read; state is
bounded by |slices| × depth × width rows regardless of stream volume
(the CMS contract).  The full-state rewrite per commit mirrors the
dimension case; partition the MV path by a slice hash to rewrite only
touched slices when |slices| is large (SCALE.md).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from aws_logs_to_parquet_converter_spark.operators import versioned
from aws_logs_to_parquet_converter_spark.operators.sketch import (
    count_min_build_sliced,
)


def apply_cms_batch(
    batch_df: DataFrame,
    batch_id: int,
    mv_path: str,
    slice_cols: Sequence[str],
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> None:
    """Fold ONE batch of raw (slice…, key) rows into the segment MV:
    build the batch's own segments, SUM them with the live state,
    versioned commit carrying ``last_batch_id``.  A batch id at or
    below the committed one is a REPLAY and is skipped (additive
    counters double-count on re-apply; idempotency must come from the
    guard, not the algebra).  Bootstrap on first use."""
    slice_cols = list(slice_cols)
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    params = (
        versioned.read_params(spark, mv_path)
        if versioned.exists(spark, mv_path) else None
    )
    if params is not None and batch_id <= params["last_batch_id"]:
        return
    segs = count_min_build_sliced(
        batch_df, slice_cols, key_col, depth=depth, width=width
    )
    if params is not None:
        live = versioned.live_dir(mv_path, params)
        segs = (
            spark.read.parquet(f"{live}/data")
            .unionByName(segs)
            .groupBy(*slice_cols, "d", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
    # the replay watermark rides in the params row, so it commits
    # atomically with the version it describes: a crash before the
    # pointer write replays the batch against the same previous state
    versioned.commit(
        spark, mv_path, lambda vdir: segs.write.parquet(f"{vdir}/data"),
        values=(int(batch_id),), ddl="last_batch_id long",
    )


def stream_cms_segments(
    events: DataFrame,
    mv_path: str,
    slice_cols: Sequence[str],
    key_col: str,
    checkpoint: str,
    depth: int = 4,
    width: int = 1024,
) -> StreamingQuery:
    """Maintain the sliced CMS segment MV at ``mv_path`` from a
    streaming frame of raw (slice…, key) rows.  Query the result with
    ``versioned.read`` + ``count_min_merge`` + ``count_min_estimate``."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_cms_batch(
            batch_df,
            batch_id,
            mv_path,
            slice_cols,
            key_col,
            depth=depth,
            width=width,
        )

    writer = events.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    return writer.trigger(availableNow=True).start()
