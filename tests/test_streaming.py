"""Streaming ingest tests: file-source parse -> foreachBatch compact
(availableNow), incremental pickup of late files, windowed agg parity
with the batch plan."""

import glob
import os
import re
import time
from collections import Counter

from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.sources.parse import parse_lines, with_dt
from aws_logs_to_parquet_converter_spark.streaming import ingest
from aws_logs_to_parquet_converter_spark.testing import GOLDEN_LINE, generate_log_lines


def _write_files(src_dir, n_files, lines_each, seed=0, n_days=None):
    src_dir.mkdir(parents=True, exist_ok=True)
    lines = generate_log_lines(n_files * lines_each, seed=seed, n_days=n_days)
    it = iter(lines)
    for i in range(n_files):
        (src_dir / f"file-{seed}-{i}.log").write_text(
            "\n".join(next(it) for _ in range(lines_each)) + "\n"
        )
    return [l for l in lines if l.strip()]


def _assert_batch_shape(spark, q, dest, num_files, seen):
    """Each micro-batch of ``q`` ran ONE Spark job (Structured Streaming
    runs a query's jobs in the job group of its run id) and added at
    most ``num_files`` files per dt (a write job's files share its
    UUID).  Returns every parquet file now under ``dest``."""
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert batches
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) == len(batches)
    files = set(glob.glob(os.path.join(dest, "dt=*", "*.parquet")))
    per_dt_write = Counter(
        (os.path.basename(os.path.dirname(f)), re.search(r"part-\d+-(.+?)\.c\d+", f).group(1))
        for f in files - seen
    )
    assert len({write for _, write in per_dt_write}) == len(batches)
    assert max(per_dt_write.values()) <= num_files
    return files


def test_stream_compact_available_now(spark, tmp_path):
    src = tmp_path / "incoming"
    written = _write_files(src, 4, 100)
    # routing input: grammar failures and a line whose bracketed
    # timestamp cannot parse, beside the generator's own garbage
    odd = [
        "complete garbage",
        "a b",
        GOLDEN_LINE.replace("[06/Feb/2019:00:00:38 +0000]", "[99/Xxx/20AB:zz +0000]"),
    ]
    (src / "odd.log").write_text("\n".join(odd) + "\n")
    dest = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    parsed = ingest.stream_parse(spark, str(src), max_files_per_trigger=2)
    q = ingest.stream_compact(parsed, dest, ckpt, num_files=2)
    q.awaitTermination(120)
    seen = _assert_batch_shape(spark, q, dest, 2, set())

    got = spark.read.parquet(dest)
    assert got.count() == len(written) + len(odd)
    # the stream files failures exactly where the batch parser finds them
    batch = parse_lines(spark.read.text(str(src)))
    dead = batch.where("error_line IS NOT NULL").count()
    bad_ts = batch.where("error_line IS NULL AND request_time IS NULL").count()
    assert dead >= 2 and bad_ts >= 1
    assert got.where(F.col("dt") == "_dead_letter").count() == dead
    assert got.where(F.col("dt") == "_bad_timestamp").count() == bad_ts

    # late arrival: new files picked up from the checkpoint, no
    # reprocessing of the old ones (exactly-once per micro-batch)
    late = _write_files(src, 2, 50, seed=1)
    q2 = ingest.stream_compact(
        ingest.stream_parse(spark, str(src), max_files_per_trigger=2), dest, ckpt, num_files=2
    )
    q2.awaitTermination(120)
    _assert_batch_shape(spark, q2, dest, 2, seen)
    assert spark.read.parquet(dest).count() == len(written) + len(odd) + len(late)


def test_stream_read_after_write_matches_batch(spark, tmp_path):
    """Stream-stream interval join emits exactly the pairs the
    equivalent batch join produces (finite input, availableNow)."""
    src = tmp_path / "rw_src"
    # one calendar day: keys and timestamps collide enough for real
    # read-after-write pairs inside the 1-hour horizon
    _write_files(src, 6, 500, seed=5, n_days=1)

    parsed_stream = ingest.stream_parse(spark, str(src))
    joined = ingest.stream_read_after_write(parsed_stream)
    out = str(tmp_path / "rw_out")
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_rw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    parsed_batch = with_dt(parse_lines(spark.read.text(str(src))))
    writes = parsed_batch.where(
        (F.col("operation") == "REST.PUT.OBJECT")
        & F.col("key").isNotNull()
        & F.col("request_time").isNotNull()
    ).select(F.col("key").alias("w_key"), F.col("request_time").alias("write_time"))
    reads = parsed_batch.where(
        (F.col("operation") == "REST.GET.OBJECT")
        & F.col("key").isNotNull()
        & F.col("request_time").isNotNull()
    ).select(F.col("key").alias("r_key"), F.col("request_time").alias("read_time"), "bytes_sent")
    batch = writes.join(
        reads,
        F.expr(
            "w_key = r_key AND read_time >= write_time "
            "AND read_time <= write_time + INTERVAL 1 hour"
        ),
    ).select(F.col("w_key").alias("key"), "write_time", "read_time", "bytes_sent")

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, batch.collect()))
    assert len(want) >= 1  # fixture must actually produce read-after-write pairs
    assert got == want


def test_stream_dedup(spark, tmp_path):
    """Duplicate log lines across micro-batches are dropped within the
    watermark horizon."""
    src = tmp_path / "dup_src"
    lines = [l for l in generate_log_lines(120, seed=3) if l.strip()]
    src.mkdir(parents=True)
    (src / "a.log").write_text("\n".join(lines) + "\n")
    (src / "b.log").write_text("\n".join(lines) + "\n")  # exact replay

    parsed = ingest.stream_parse(spark, str(src), max_files_per_trigger=1)
    deduped = ingest.stream_dedup(parsed)
    out = str(tmp_path / "dedup_out")
    q = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    n_unique = len({l for l in lines})  # generator lines are unique per reqid
    parsed_batch = spark.read.text(str(src / "a.log")).count()
    assert got.count() <= parsed_batch  # no more than one file's worth
    # every surviving request_id is unique
    assert got.count() == got.select("request_id").distinct().count()


def test_stream_daily_events_handles_nanos_fixture(spark, tmp_path):
    """q_stream_daily_events mirrors t()'s timestamp seam: a
    NANOS-encoded events fixture (which the vectorized reader rejects
    and the legacy conf surfaces as bigint) must aggregate into the
    same day buckets as a micros fixture — a bare cast would read
    nanos as SECONDS and scatter the windows across millennia."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_logs_to_parquet_converter_spark.plans import REGISTRY

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = {
        "event_id": list(range(6)),
        "ts": [base + datetime.timedelta(hours=6 * i) for i in range(6)],
        "user_id": [1] * 6,
        "event_type": ["view"] * 6,
        "value": [1.0] * 6,
        "props": ["{}"] * 6,
    }
    table = pa.table(
        {
            **rows,
            "ts": pa.array(rows["ts"], type=pa.timestamp("ns")),
        }
    )
    sf_dir = str(tmp_path)
    pq.write_table(table, f"{sf_dir}/events.parquet")

    out = REGISTRY["q_stream_daily_events"].builder(spark, sf_dir)
    got = {(r.day, r.event_type): r.n_events for r in out.collect()}
    # 6 events at 6h spacing from Mar 1 12:00 -> days 1,1,2,2,2,2... :
    # 12:00,18:00 on Mar 1; 00:00,06:00,12:00,18:00 on Mar 2
    assert got == {("2024-03-01", "view"): 2, ("2024-03-02", "view"): 4}, got


def test_stream_static_join_multibatch_matches_batch(spark, tmp_path):
    """Stream-static enrichment across MULTIPLE micro-batches
    (maxFilesPerTrigger=1 forces one batch per file; the static side
    re-broadcasts per batch) must equal the batch left join — and keep
    events with no dimension row (the no-silent-drop discipline)."""
    import pyspark.sql.functions as SF

    src = tmp_path / "ss_src"
    rows = [(i, i % 4, 10 * i) for i in range(40)]  # user 3 has no dim row
    df = spark.createDataFrame(rows, "event_id long, user_id long, v long")
    # two part files -> maxFilesPerTrigger=1 yields two micro-batches
    df.repartition(2).write.parquet(str(src))

    dim = spark.createDataFrame(
        [(0, "seg0"), (1, "seg1"), (2, "seg2")], "user_id long, segment string"
    )
    stream = (
        spark.readStream.schema("event_id long, user_id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = (
        stream.join(SF.broadcast(dim), "user_id", "left")
        .groupBy(SF.coalesce("segment", SF.lit("unknown")).alias("segment"))
        .agg(SF.count("*").alias("n"), SF.sum("v").alias("sv"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("ss_multibatch_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        batches = [p.numInputRows for p in q.recentProgress if p.numInputRows]
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table("ss_multibatch_sink").collect()))
    want = sorted(
        map(
            tuple,
            spark.read.parquet(str(src))
            .join(SF.broadcast(dim), "user_id", "left")
            .groupBy(SF.coalesce("segment", SF.lit("unknown")).alias("segment"))
            .agg(SF.count("*").alias("n"), SF.sum("v").alias("sv"))
            .collect(),
        )
    )
    assert got == want
    assert ("unknown", 10, sum(10 * i for i in range(40) if i % 4 == 3)) in got
    assert len(batches) >= 2  # the join really ran across micro-batches
