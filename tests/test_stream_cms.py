"""streaming/cms_mv.py: additive segment MV — replay guard (the
contract that differs from bitmap_mv's structural idempotency),
incremental additivity vs a one-shot build, commit protocol."""

import os

from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators import sketch as sk
from aws_logs_to_parquet_converter_spark.operators import versioned
from aws_logs_to_parquet_converter_spark.streaming.cms_mv import (
    apply_cms_batch,
)


def _segs(spark, mv):
    return {
        (r["day"], r["d"], r["bucket"]): r["cnt"]
        for r in versioned.read(spark, mv).collect()
    }


def test_incremental_matches_one_shot_and_replay_is_noop(spark, tmp_path):
    mv = os.path.join(str(tmp_path), "mv")
    b1 = spark.createDataFrame(
        [("d1", k) for k in ["a", "a", "b"]], "day string, k string"
    )
    b2 = spark.createDataFrame(
        [("d1", k) for k in ["a", "c"]] + [("d2", "a")], "day string, k string"
    )
    assert not versioned.exists(spark, mv)
    apply_cms_batch(b1, 0, mv, ["day"], "k", depth=3, width=32)
    apply_cms_batch(b2, 1, mv, ["day"], "k", depth=3, width=32)
    got = _segs(spark, mv)

    # one-shot build over the union must be bit-identical (additivity)
    direct = {
        (r["day"], r["d"], r["bucket"]): r["cnt"]
        for r in sk.count_min_build_sliced(
            b1.unionByName(b2), ["day"], "k", depth=3, width=32
        ).collect()
    }
    assert got == direct

    # replaying batch 1 (or 0) against the committed state is a NO-OP —
    # additive counters would otherwise double-count
    apply_cms_batch(b2, 1, mv, ["day"], "k", depth=3, width=32)
    apply_cms_batch(b1, 0, mv, ["day"], "k", depth=3, width=32)
    assert _segs(spark, mv) == got

    # a genuinely new batch still applies
    b3 = spark.createDataFrame([("d2", "z")], "day string, k string")
    apply_cms_batch(b3, 2, mv, ["day"], "k", depth=3, width=32)
    assert sum(_segs(spark, mv).values()) == sum(got.values()) + 3  # depth rows


def test_empty_batch_skipped_and_estimates_exact_in_clear_regime(spark, tmp_path):
    mv = os.path.join(str(tmp_path), "mv2")
    b1 = spark.createDataFrame(
        [("d1", k) for k in ["x"] * 4 + ["y"]], "day string, k string"
    )
    apply_cms_batch(b1, 0, mv, ["day"], "k", depth=3, width=64)
    empty = spark.createDataFrame([], "day string, k string")
    apply_cms_batch(empty, 1, mv, ["day"], "k", depth=3, width=64)
    # watermark did NOT advance for the skipped empty batch; batch 1
    # re-sent with rows still applies
    b2 = spark.createDataFrame([("d1", "x")], "day string, k string")
    apply_cms_batch(b2, 1, mv, ["day"], "k", depth=3, width=64)
    merged = sk.count_min_merge(versioned.read(spark, mv))
    probes = spark.createDataFrame([("x",), ("y",)], "k string")
    est = {
        r["key"]: r["est_count"]
        for r in sk.count_min_estimate(merged, probes, "k", depth=3, width=64).collect()
    }
    assert est == {"x": 5, "y": 1}
