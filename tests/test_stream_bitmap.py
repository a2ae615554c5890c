"""Streaming exact-distinct bitmap MV (streaming/bitmap_mv.py):
multi-batch evolution equals a one-shot build over the union;
committed-batch replay is a structural no-op (bit_or idempotency —
the crash contract); bootstrap + versioned-commit read path."""

from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators import versioned
from aws_logs_to_parquet_converter_spark.operators.bitmap import (
    bitmap_build,
    bitmap_cardinality,
)
from aws_logs_to_parquet_converter_spark.streaming.bitmap_mv import (
    apply_bitmap_batch,
    stream_bitmap_distinct,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "g string, id long")


def _counts(spark, mv):
    segs = versioned.read(spark, str(mv))
    return {
        r["g"]: r["distinct_ids"]
        for r in bitmap_cardinality(segs, ["g"]).collect()
    }


def test_multi_batch_equals_oneshot(spark, tmp_path):
    mv = tmp_path / "mv"
    b1 = [("a", 1), ("a", 64), ("b", 2)]
    b2 = [("a", 64), ("a", 65), ("b", 2), ("b", 200)]  # overlaps b1
    apply_bitmap_batch(_df(spark, b1), str(mv), ["g"], "id")
    apply_bitmap_batch(_df(spark, b2), str(mv), ["g"], "id")
    assert _counts(spark, mv) == {"a": 3, "b": 2}
    # the incremental state equals a one-shot build over the union
    oneshot = bitmap_build(_df(spark, b1 + b2), ["g"], "id")
    got = {
        (r["g"], r["word"]): r["mask"]
        for r in versioned.read(spark, str(mv)).collect()
    }
    want = {(r["g"], r["word"]): r["mask"] for r in oneshot.collect()}
    assert got == want


def test_replay_of_committed_batch_is_noop(spark, tmp_path):
    mv = tmp_path / "mv"
    b1 = [("a", 1), ("a", 7)]
    apply_bitmap_batch(_df(spark, b1), str(mv), ["g"], "id")
    before = _counts(spark, mv)
    # crash-between-commit-and-checkpoint: the same batch re-applies
    apply_bitmap_batch(_df(spark, b1), str(mv), ["g"], "id")
    assert _counts(spark, mv) == before == {"a": 2}


def test_bootstrap_and_empty_batch(spark, tmp_path):
    mv = tmp_path / "mv"
    assert not versioned.exists(spark, str(mv))
    apply_bitmap_batch(_df(spark, []), str(mv), ["g"], "id")
    assert not versioned.exists(spark, str(mv))  # empty batch: no commit
    apply_bitmap_batch(_df(spark, [("a", 5)]), str(mv), ["g"], "id")
    assert versioned.exists(spark, str(mv))
    assert _counts(spark, mv) == {"a": 1}


def test_streamed_equals_batch_distinct(spark, tmp_path):
    src, mv, ckpt = tmp_path / "chg", tmp_path / "mv", tmp_path / "ckpt"
    rows1 = [("a", i) for i in range(0, 100, 2)] + [("b", 63)]
    rows2 = [("a", i) for i in range(0, 100, 3)] + [("b", 64)]
    for rows in (rows1, rows2):
        _df(spark, rows).coalesce(1).write.mode("append").json(str(src))
    changes = spark.readStream.schema("g string, id long").option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    q = stream_bitmap_distinct(changes, str(mv), ["g"], "id", str(ckpt))
    q.awaitTermination()
    q.stop()
    want = {
        r["g"]: r["n"]
        for r in _df(spark, rows1 + rows2)
        .groupBy("g").agg(F.count_distinct("id").alias("n")).collect()
    }
    assert _counts(spark, mv) == want


def test_apply_read_failure_aborts_not_resets(spark, tmp_path):
    # Same contract as the CDC dimension (r11 advisor, high): bootstrap
    # is fs.exists on the params pointer, so against an EXISTING MV a
    # broken state read must abort the batch — never rebuild from the
    # batch alone (which would silently FORGET every earlier batch's
    # users).
    import shutil

    import pytest

    mv = tmp_path / "mv"
    apply_bitmap_batch(_df(spark, [("a", 1)]), str(mv), ["g"], "id")
    (vdir,) = [p for p in mv.iterdir() if p.name.startswith("v-")]
    shutil.rmtree(vdir / "data")
    with pytest.raises(Exception):
        apply_bitmap_batch(_df(spark, [("a", 2)]), str(mv), ["g"], "id")
    # nothing committed: pointer still names the same (now broken)
    # version and no new v-dir appeared
    vdirs = [p.name for p in mv.iterdir() if p.name.startswith("v-")]
    assert vdirs == [vdir.name]


def test_registry_builds_do_not_share_fixture_files(spark, sf_dir):
    # A second build of a file-staging registry entry must leave the
    # first build's files alone: its DataFrame still reads them lazily.
    from aws_logs_to_parquet_converter_spark.plans import REGISTRY

    build = REGISTRY["q_stream_bitmap_distinct"].builder
    first = build(spark, sf_dir)
    second = build(spark, sf_dir)
    assert first.count() == second.count() > 0


def test_scratch_dir_removes_dead_process_dirs(tmp_path, monkeypatch):
    # A killed build skips its exit hook; the next same-tag build
    # removes that process's dir and leaves live processes' dirs alone.
    import os
    import subprocess
    import sys
    import tempfile

    from aws_logs_to_parquet_converter_spark.plans.registry import scratch_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    dead = tmp_path / f"q_tag_{proc.pid}_0123456789ab"
    live = tmp_path / f"q_tag_{os.getpid()}_0123456789ab"
    other = tmp_path / f"q_other_{proc.pid}_0123456789ab"
    for d in (dead, live, other):
        (d / "data").mkdir(parents=True)
    new = scratch_dir("q_tag")
    assert sorted(os.listdir(tmp_path)) == sorted(
        [live.name, other.name, os.path.basename(new)]
    )
