"""Structured Streaming ingestion — replaces the reference's daily cron
loop (SURVEY §2.11).

The reference re-runs a batch job per day and relies on "re-run the day"
for late-arriving log objects (S3 server logs are delivered hours late,
best-effort).  The streaming shape subsumes both:

  * ``stream_parse``: file-source ``readStream.text`` over the log
    prefix -> the SAME native-expression parser as batch (one code path
    for both modes — parse_lines is mode-agnostic Catalyst exprs).
  * ``stream_compact``: ``foreachBatch`` -> the SAME sort-and-write
    code as compact(), APPENDING each micro-batch to its dt= partitions
    (late data adds files to its own day; the checkpoint processes
    each source file once, and ``cli maintain`` recompacts the day).

State at scale: the parse/compact path is stateless; the watermarked
operators below keep state bounded by their watermark horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from aws_logs_to_parquet_converter_spark.operators.compact import write_sorted
from aws_logs_to_parquet_converter_spark.sources.parse import parse_lines, with_dt


def stream_parse(spark: SparkSession, source_glob: str, max_files_per_trigger: int = 1000) -> DataFrame:
    """Streaming DataFrame of parsed access-log rows from a file source.

    ``maxFilesPerTrigger`` bounds micro-batch size — the streaming
    analogue of the reference's numSlices fan-out control
    (compacter.py:214), but adaptive to arrival rate.
    """
    raw = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .text(source_glob)
    )
    return with_dt(parse_lines(raw))


def stream_compact(
    parsed: DataFrame,
    dest: str,
    checkpoint: str,
    num_files: int = 10,
) -> StreamingQuery:
    """Append the parsed rows that have arrived (an ``availableNow``
    trigger) to the dt= parquet layout via foreachBatch and compact()'s
    sort-and-write code.

    Batch contract: each micro-batch runs ONE Spark job and adds at
    most ``num_files`` files to each ``dt`` it touches.  The batch is
    narrowed with ``coalesce(num_files)``, not shuffled, so the parse
    itself runs on at most ``num_files`` tasks; a micro-batch is bounded
    by the source's ``maxFilesPerTrigger`` (``stream_parse``).  A
    micro-batch runs only when new files arrived (the query is
    stateless), so there is no empty-batch check."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # APPEND, not partition-overwrite: consecutive micro-batches add
        # rows to the same dt= partition (late data), and the checkpoint
        # already guarantees each source file is processed once.  The
        # batch CLI keeps overwrite semantics because its unit of work
        # is a whole day.
        #
        # Two distinct failure partitions (round-7 review finding): a
        # line the grammar REJECTED carries error_line and goes to
        # _dead_letter (repair jobs re-read raw lines from it); a line
        # that PARSED but whose bracketed timestamp failed
        # try_to_timestamp has all fields except dt — filing it with
        # the dead letters would hand the repair job a row with no raw
        # line to re-parse.
        routed = batch_df.withColumn(
            "dt",
            F.when(F.col("dt").isNotNull(), F.col("dt"))
            .when(F.col("error_line").isNotNull(), F.lit("_dead_letter"))
            .otherwise(F.lit("_bad_timestamp")),
        )
        write_sorted(routed.coalesce(num_files), dest, mode="append")

    writer = parsed.writeStream.foreachBatch(write_batch).option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def stream_read_after_write(
    parsed: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each object write (PUT) matched to
    the reads (GET) of the same key within ``horizon`` — the
    continuously-maintained sibling of the flagship days-apart
    analysis (which asks the same written-then-read question at day
    granularity over the at-rest table).

    Both sides carry a watermark and the join condition bounds
    read_time to [write_time, write_time + horizon], so state for
    either side is evicted once the other side's watermark passes the
    interval — bounded state on an unbounded stream, the property the
    reference's re-run-the-day loop cannot express.  Returns
    (key, write_time, read_time, bytes_sent).
    """
    writes = (
        parsed.where(
            (F.col("operation") == "REST.PUT.OBJECT")
            & F.col("key").isNotNull()
            & F.col("request_time").isNotNull()
        )
        .select(F.col("key").alias("w_key"), F.col("request_time").alias("write_time"))
        .withWatermark("write_time", watermark)
    )
    reads = (
        parsed.where(
            (F.col("operation") == "REST.GET.OBJECT")
            & F.col("key").isNotNull()
            & F.col("request_time").isNotNull()
        )
        .select(
            F.col("key").alias("r_key"),
            F.col("request_time").alias("read_time"),
            "bytes_sent",
        )
        .withWatermark("read_time", watermark)
    )
    cond = F.expr(
        "w_key = r_key AND read_time >= write_time "
        f"AND read_time <= write_time + INTERVAL {horizon}"
    )
    return writes.join(reads, cond).select(
        F.col("w_key").alias("key"), "write_time", "read_time", "bytes_sent"
    )


def stream_dedup(
    parsed: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup on the natural key (``request_id`` — S3
    logs are delivered best-effort and can repeat objects/lines).

    ``dropDuplicatesWithinWatermark`` bounds state by the watermark
    horizon: a duplicate arriving within the window is dropped, state
    for keys older than the watermark is evicted — the unbounded-stream
    version of SURVEY §2.12's `dropDuplicates(request_id)`.
    """
    keys = key_cols or ["request_id"]
    return (
        parsed.where(F.col("request_time").isNotNull())
        .withWatermark("request_time", watermark)
        .dropDuplicatesWithinWatermark(keys)
    )
