"""Streaming dimension maintenance: apply a CDC change stream to an
on-disk SCD2 dimension table (``operators/scd.scd2_merge`` per
micro-batch via ``foreachBatch``) — the streaming half of the SCD
family, the classic "CDC apply" pipeline.

Crash-safety has two layers:

* **Versioned commit**: the dimension is a versioned store
  (``operators/versioned.py`` holds the layout, commit order and
  bootstrap rule), so a reader (or a crash-replayed batch) always
  sees a complete previous version, never a half-written merge.
* **Idempotent re-apply**: replaying a committed micro-batch after a
  crash-between-commit-and-checkpoint re-merges the same changes into
  a dimension that already reflects them — every key then compares
  EQUAL to its open row (same attrs, same ts), so the merge is a
  no-op by construction and the stream self-converges.  This is why
  the version name need not be keyed to the batch id.

Ordering contract: per-key change timestamps must be non-decreasing
across micro-batches (CDC log order).  Within a batch the merge
collapses to latest-per-key; ACROSS batches an out-of-order late
change would close the newer version with an older ts — the upstream
log, not this operator, owns cross-batch ordering.

Scale: each micro-batch rewrites the OPEN slice's changed keys plus
appends — the merge itself is one key-shuffle join (broadcast when the
batch is small), but the versioned rewrite does copy the dimension.
Dimensions are small relative to facts (that is what makes them
dimensions); for a dimension too large to rewrite per batch, partition
``dim_path`` by a stable key hash and merge only touched partitions —
noted in SCALE.md.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from aws_logs_to_parquet_converter_spark.operators import versioned
from aws_logs_to_parquet_converter_spark.operators.scd import scd2_merge


def apply_cdc_batch(
    batch_df: DataFrame,
    dim_path: str,
    key_cols: Sequence[str],
    tracked_cols: Sequence[str],
    ts_col: str,
) -> None:
    """Apply ONE batch of change rows to the on-disk SCD2 dimension
    (bootstrap on first use, versioned commit) — the unit of work
    shared by the streaming pipeline's foreachBatch and the batch CLI
    (``dimension`` subcommand).  Idempotent re-apply per the module
    contract.

    Bootstrap is detected EXPLICITLY (``versioned.exists``) — if the
    dimension exists, any read failure propagates and aborts the
    batch, so a transient IO error can never be mistaken for first use
    and wipe the history via a merge-into-empty + prune."""
    key_cols, tracked_cols = list(key_cols), list(tracked_cols)
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    if versioned.exists(spark, dim_path):
        hist = versioned.read(spark, dim_path)
    else:
        # bootstrap: empty history, valid_from/valid_to typed to ts
        hist = spark.createDataFrame([], batch_df.select(
            *key_cols,
            *tracked_cols,
            F.col(ts_col).alias("valid_from"),
            F.col(ts_col).alias("valid_to"),
        ).schema)
    merged = scd2_merge(
        hist,
        batch_df.select(*key_cols, *tracked_cols, ts_col),
        key_cols,
        tracked_cols,
        ts_col=ts_col,
    )
    versioned.commit(spark, dim_path, lambda vdir: merged.write.parquet(f"{vdir}/data"))


def stream_dimension_scd2(
    changes: DataFrame,
    dim_path: str,
    key_cols: Sequence[str],
    tracked_cols: Sequence[str],
    ts_col: str,
    checkpoint: str,
) -> StreamingQuery:
    """Maintain an SCD2 dimension at ``dim_path`` from a streaming
    frame of change rows (keys + tracked attrs + ts).  Bootstraps an
    empty dimension on first batch; see the module docstring for the
    crash and ordering contracts.  Query the result with
    ``versioned.read`` (full history) or filter ``valid_to IS NULL``
    for the current snapshot."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(batch_df, dim_path, key_cols, tracked_cols, ts_col)

    writer = changes.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    return writer.trigger(availableNow=True).start()
