"""Streaming exact-distinct materialized view: maintain
``operators/bitmap.py`` segments incrementally from an event stream
(``foreachBatch`` merge per micro-batch) — COUNT(DISTINCT), the
canonical NON-additive metric, kept additively up to date without ever
re-scanning history.  The streaming sibling of ``q_bitmap_distinct``
exactly as ``streaming/dimension.py`` is the streaming sibling of the
SCD2 merge.

Storage and crash-safety: a versioned store (``operators/versioned.py``
holds the layout, commit order and bootstrap rule); every merge commits
a new version.  Idempotent re-apply is STRUCTURAL here — ``bit_or`` of
bits already present is a no-op — so a crash-replayed micro-batch
converges with no per-key compare logic at all (stronger than the SCD2
case, which needs the equal-row argument).

Scale: each micro-batch shuffles only its OWN segments (batch-sized,
map-side combined on (group, word)) plus the state read; state is
bounded by |groups|×|ids|/64 rows regardless of stream volume.  The
full-state rewrite per commit mirrors the dimension case; for a state
too large to rewrite per batch, partition the MV path by a stable
group hash and rewrite only touched partitions (SCALE.md).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from aws_logs_to_parquet_converter_spark.operators import versioned
from aws_logs_to_parquet_converter_spark.operators.bitmap import (
    bitmap_build,
    bitmap_merge,
)


def apply_bitmap_batch(
    batch_df: DataFrame,
    mv_path: str,
    group_cols: Sequence[str],
    id_col: str,
) -> None:
    """Fold ONE batch of raw (group..., id) rows into the segment MV:
    build the batch's own segments, ``bit_or`` them with the live
    state, versioned commit.  Bootstrap on first use."""
    group_cols = list(group_cols)
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    segs = bitmap_build(batch_df, group_cols, id_col)
    if versioned.exists(spark, mv_path):
        segs = bitmap_merge(
            versioned.read(spark, mv_path).unionByName(segs), group_cols
        )
    versioned.commit(spark, mv_path, lambda vdir: segs.write.parquet(f"{vdir}/data"))


def stream_bitmap_distinct(
    events: DataFrame,
    mv_path: str,
    group_cols: Sequence[str],
    id_col: str,
    checkpoint: str,
) -> StreamingQuery:
    """Maintain the exact-distinct segment MV at ``mv_path`` from a
    streaming frame of raw (group..., id) rows.  Query the result with
    ``versioned.read`` + ``bitmap_cardinality``."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_bitmap_batch(batch_df, mv_path, group_cols, id_col)

    writer = events.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    return writer.trigger(availableNow=True).start()
