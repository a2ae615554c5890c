"""Streaming SCD2 dimension maintenance (CDC apply): multi-batch
evolution equals sequential batch merges; committed-batch replay is a
no-op (the idempotence the crash contract relies on)."""

from aws_logs_to_parquet_converter_spark.operators import versioned
from aws_logs_to_parquet_converter_spark.streaming.dimension import (
    stream_dimension_scd2,
)


def _write_change_file(spark, path, rows):
    spark.createDataFrame(rows, "k long, seg string, ts string").coalesce(
        1
    ).write.mode("append").json(str(path))


def _run(spark, src, dim, ckpt):
    changes = spark.readStream.schema("k long, seg string, ts string").option(
        "maxFilesPerTrigger", 1  # one micro-batch per change file
    ).json(str(src))
    q = stream_dimension_scd2(
        changes, str(dim), ["k"], ["seg"], "ts", str(ckpt)
    )
    q.awaitTermination()
    q.stop()


def test_cdc_apply_multi_batch(spark, tmp_path):
    src, dim, ckpt = tmp_path / "chg", tmp_path / "dim", tmp_path / "ckpt"
    # batch 1: two inserts; batch 2: one change + one no-op + one insert
    _write_change_file(spark, src, [(1, "A", "2024-01-01"), (2, "B", "2024-01-01")])
    _write_change_file(
        spark, src,
        [(1, "A2", "2024-02-01"), (2, "B", "2024-02-01"), (3, "C", "2024-02-01")],
    )
    _run(spark, src, dim, ckpt)

    out = {
        (r.k, r.seg): (r.valid_from, r.valid_to)
        for r in versioned.read(spark, str(dim)).collect()
    }
    assert out == {
        (1, "A"): ("2024-01-01", "2024-02-01"),  # closed by batch 2
        (1, "A2"): ("2024-02-01", None),
        (2, "B"): ("2024-01-01", None),  # no-op update: still the original row
        (3, "C"): ("2024-02-01", None),
    }
    # exactly one live version after pruning
    vdirs = [p.name for p in dim.iterdir() if p.name.startswith("v-")]
    assert len(vdirs) == 1


def test_cdc_apply_restart_continues(spark, tmp_path):
    src, dim, ckpt = tmp_path / "chg", tmp_path / "dim", tmp_path / "ckpt"
    _write_change_file(spark, src, [(1, "A", "2024-01-01")])
    _run(spark, src, dim, ckpt)
    # new changes arrive; a RESTARTED stream (same checkpoint) applies
    # only them
    _write_change_file(spark, src, [(1, "A2", "2024-03-01")])
    _run(spark, src, dim, ckpt)
    out = {(r.k, r.seg): r.valid_to for r in versioned.read(spark, str(dim)).collect()}
    assert out == {(1, "A"): "2024-03-01", (1, "A2"): None}


def test_cdc_replay_of_committed_batch_is_noop(spark, tmp_path):
    """The crash window between commit and checkpoint: re-merging an
    already-applied batch must change nothing."""
    from aws_logs_to_parquet_converter_spark.operators.scd import scd2_merge

    src, dim, ckpt = tmp_path / "chg", tmp_path / "dim", tmp_path / "ckpt"
    _write_change_file(
        spark, src, [(1, "A", "2024-01-01"), (2, "B", "2024-01-01")]
    )
    _write_change_file(spark, src, [(1, "A2", "2024-02-01")])
    _run(spark, src, dim, ckpt)
    before = sorted(map(tuple, versioned.read(spark, str(dim)).collect()))
    # simulate the replay: merge batch 2 again against the committed state
    batch2 = spark.createDataFrame(
        [(1, "A2", "2024-02-01")], "k long, seg string, ts string"
    )
    replayed = scd2_merge(
        versioned.read(spark, str(dim)), batch2, ["k"], ["seg"], ts_col="ts"
    )
    assert sorted(map(tuple, replayed.collect())) == before


def test_cli_dimension_subcommand(spark, tmp_path, capsys):
    """Batch CDC apply via the CLI: two daily change files applied in
    sequence evolve the same history the streaming pipeline produces."""
    from aws_logs_to_parquet_converter_spark import cli

    dim = str(tmp_path / "dim")
    b1 = str(tmp_path / "b1")
    b2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [(1, "A", "2024-01-01"), (2, "B", "2024-01-01")],
        "k long, seg string, ts string",
    ).write.parquet(b1)
    spark.createDataFrame(
        [(1, "A2", "2024-02-01")], "k long, seg string, ts string"
    ).write.parquet(b2)

    for changes in (b1, b2):
        args = cli.build_dimension_parser().parse_args(
            ["--dim", dim, "--changes", changes, "--keys", "k",
             "--tracked", "seg"]
        )
        assert cli.run_dimension(args) == 0
    out = {
        (r.k, r.seg): r.valid_to
        for r in versioned.read(spark, dim).collect()
    }
    assert out == {(1, "A"): "2024-02-01", (1, "A2"): None, (2, "B"): None}
    assert "3 history row(s), 2 open" in capsys.readouterr().out


def test_cli_dimension_missing_columns(spark, tmp_path, capsys):
    from aws_logs_to_parquet_converter_spark import cli

    b = str(tmp_path / "b")
    spark.createDataFrame([(1, "A")], "k long, seg string").write.parquet(b)
    args = cli.build_dimension_parser().parse_args(
        ["--dim", str(tmp_path / "d"), "--changes", b, "--keys", "k",
         "--tracked", "seg"]
    )
    assert cli.run_dimension(args) == 2
    assert "missing columns" in capsys.readouterr().err


def test_scd2_randomized_sequential_differential(spark):
    """Drive scd2_merge through randomized multi-batch histories and
    compare against a driver-side reference implementation — the
    merge's branch space (insert / close-and-reopen / no-op / closed
    passthrough / within-batch collapse) under arbitrary interleavings,
    plus the invariants every SCD2 table must keep (<=1 open row per
    key; closed rows never resurrect)."""
    import random

    from aws_logs_to_parquet_converter_spark.operators.scd import scd2_merge

    rng = random.Random(1101)
    KEYS = list(range(12))
    ATTRS = ["a", "b", "c"]

    def ref_apply(state, closed, batch, ts):
        # collapse latest-per-key: same (ts DESC, attr DESC) tie-break
        latest = {}
        for k, attr, t in batch:
            cur = latest.get(k)
            if cur is None or (t, attr) > (cur[1], cur[0]):
                latest[k] = (attr, t)
        for k, (attr, t) in latest.items():
            if k not in state:
                state[k] = (attr, t)
            elif state[k][0] != attr:
                closed.append((k, state[k][0], state[k][1], t))
                state[k] = (attr, t)
        return state, closed

    for trial in range(4):
        hist = spark.createDataFrame(
            [], "k long, attr string, valid_from string, valid_to string"
        )
        state, closed = {}, []
        for day in range(1, 6):
            ts = f"2024-01-{day:02d}"
            batch_rows = [
                (rng.choice(KEYS), rng.choice(ATTRS), ts)
                for _ in range(rng.randint(1, 15))
            ]
            batch = spark.createDataFrame(batch_rows, "k long, attr string, ts string")
            hist = scd2_merge(hist, batch, ["k"], ["attr"], "ts")
            # localCheckpoint: 5 nested merges build a deep plan
            hist = hist.localCheckpoint(eager=True)
            state, closed = ref_apply(state, closed, batch_rows, ts)

        got = {(r.k, r.attr, r.valid_from, r.valid_to) for r in hist.collect()}
        want = {(k, a, t, None) for k, (a, t) in state.items()} | {
            (k, a, vf, vt) for (k, a, vf, vt) in closed
        }
        assert got == want, f"trial {trial}"
        # invariants
        open_rows = [r for r in got if r[3] is None]
        assert len(open_rows) == len({r[0] for r in open_rows})  # <=1 open/key


def test_cdc_apply_read_failure_aborts_not_resets(spark, tmp_path):
    # Bootstrap is detected by fs.exists on the params pointer, NOT by
    # catching read failures: against an EXISTING dimension, a broken
    # read must abort the batch — never merge into an empty history and
    # prune away the real one (r11 advisor, high).
    import shutil

    from aws_logs_to_parquet_converter_spark.streaming.dimension import (
        apply_cdc_batch,
    )

    dim = tmp_path / "dim"
    batch1 = spark.createDataFrame(
        [(1, "A", "2024-01-01")], "k long, seg string, ts string"
    )
    apply_cdc_batch(batch1, str(dim), ["k"], ["seg"], "ts")
    # simulate a transient/corrupted read: params points at a version
    # whose data dir is gone
    (vdir,) = [p for p in dim.iterdir() if p.name.startswith("v-")]
    shutil.rmtree(vdir / "data")
    batch2 = spark.createDataFrame(
        [(2, "B", "2024-02-01")], "k long, seg string, ts string"
    )
    import pytest

    with pytest.raises(Exception):
        apply_cdc_batch(batch2, str(dim), ["k"], ["seg"], "ts")
    # the failed batch committed nothing: pointer still names the same
    # version, and no new v-dir appeared
    vdirs = [p.name for p in dim.iterdir() if p.name.startswith("v-")]
    assert vdirs == [vdir.name]


def test_write_params_bit_compatible_with_spark_writer(spark, tmp_path):
    # The driver-side pointer write (operators/versioned.write_params)
    # must be indistinguishable to every existing reader from the old
    # createDataFrame(...).write.parquet path: same schema (types AND
    # names), same row, readable by plain spark.read.parquet.
    from aws_logs_to_parquet_converter_spark.operators.versioned import (
        write_params,
    )

    ddl = (
        "num_hashes int, bands int, shingle_n int, seed long, "
        "hash_fn string, version string"
    )
    row = (128, 32, 5, 42, "xxhash64", "abcdef012345")
    old = tmp_path / "old_params"
    spark.createDataFrame([row], ddl).write.mode("overwrite").parquet(str(old))
    write_params(spark, str(tmp_path / "new_params"), row, ddl)

    old_df = spark.read.parquet(str(old))
    new_df = spark.read.parquet(str(tmp_path / "new_params"))
    assert [(f.name, f.dataType) for f in new_df.schema.fields] == [
        (f.name, f.dataType) for f in old_df.schema.fields
    ]
    assert new_df.collect() == old_df.collect()


def test_write_params_overwrites_previous_pointer(spark, tmp_path):
    from aws_logs_to_parquet_converter_spark.operators.versioned import (
        write_params,
    )

    p = str(tmp_path / "params")
    write_params(spark, p, ("v1",), "version string")
    write_params(spark, p, ("v2",), "version string")
    assert spark.read.parquet(p).first()["version"] == "v2"
    # no tmp dirs left behind
    leftovers = [d.name for d in tmp_path.iterdir() if ".tmp-" in d.name]
    assert leftovers == []


def test_write_params_rejects_composite_fields(spark, tmp_path):
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.versioned import (
        write_params,
    )

    with pytest.raises(ValueError, match="flat scalars"):
        write_params(
            spark, str(tmp_path / "p"), ([1, 2],), "xs array<int>"
        )
