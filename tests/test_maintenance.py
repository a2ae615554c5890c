"""Maintenance operator tests."""

import glob
import os

from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators.compact import compact, recompact_partition
from aws_logs_to_parquet_converter_spark.sources.parse import parse_lines, with_dt
from aws_logs_to_parquet_converter_spark.testing import generate_log_lines


def test_recompact_partition(spark, tmp_path):
    dest = str(tmp_path / "wh")
    df = with_dt(
        parse_lines(
            spark.createDataFrame(
                [(l,) for l in generate_log_lines(800, n_days=2)], "value string"
            )
        )
    ).where(F.col("dt").isNotNull())
    # simulate small-file accretion: many appends
    for i in range(4):
        compact(df.where(F.col("bytes_sent") % 4 == i), dest, num_files=4, mode="append")
    dt = sorted(os.path.basename(p)[3:] for p in glob.glob(f"{dest}/dt=*"))[0]
    before_files = glob.glob(f"{dest}/dt={dt}/*.parquet")
    before_rows = spark.read.parquet(dest).where(F.col("dt") == dt).count()
    assert len(before_files) > 4

    jsc = spark.sparkContext._jsc
    held = set(jsc.getPersistentRDDs())
    n = recompact_partition(spark, dest, dt, num_files=2)
    assert n == before_rows
    # the day's staging checkpoint is released once the rewrite is on
    # disk: a maintenance pass over many days must not pin one per day
    assert set(jsc.getPersistentRDDs()) == held
    after_files = glob.glob(f"{dest}/dt={dt}/*.parquet")
    assert len(after_files) <= 2
    assert spark.read.parquet(dest).where(F.col("dt") == dt).count() == before_rows
    # other partitions untouched
    assert spark.read.parquet(dest).count() >= before_rows


def test_find_fragmented_partitions(spark, tmp_path):
    from aws_logs_to_parquet_converter_spark.operators.compact import (
        find_fragmented_partitions,
        recompact_partition,
    )

    dest = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "2019-02-0%d" % (1 + i % 2)) for i in range(100)], "request_time long, dt string"
    )
    # day 1 written fragmented (20 files), day 2 compact (2 files)
    df.where("dt = '2019-02-01'").repartition(20).write.partitionBy("dt").parquet(dest)
    df.where("dt = '2019-02-02'").repartition(2).write.mode("append").partitionBy("dt").parquet(dest)

    frag = find_fragmented_partitions(spark, dest, max_files=10, min_file_bytes=0)
    assert [f["dt"] for f in frag] == ["2019-02-01"]
    # (empty shuffle partitions write no file, so 20 is an upper bound)
    assert 10 < frag[0]["n_files"] <= 20 and frag[0]["total_bytes"] > 0

    # the remediation the scanner feeds: recompact and re-scan clean
    recompact_partition(spark, dest, "2019-02-01", num_files=2)
    assert find_fragmented_partitions(spark, dest, max_files=10, min_file_bytes=0) == []
    # tiny-average detection: every partition flags under a huge floor
    flagged = find_fragmented_partitions(spark, dest, max_files=100, min_file_bytes=10**9)
    assert {f["dt"] for f in flagged} == {"2019-02-01", "2019-02-02"}
    # nonexistent path -> empty, not an error
    assert find_fragmented_partitions(spark, str(tmp_path / "nope")) == []


def test_cli_maintain_subcommand(spark, tmp_path, capsys):
    """The maintain subcommand chains scan -> recompact: fragmented
    partitions are found, rewritten to the target file count, and a
    dry run only reports."""
    from aws_logs_to_parquet_converter_spark import cli

    dest = str(tmp_path / "wh")
    df = with_dt(
        parse_lines(
            spark.createDataFrame(
                [(l,) for l in generate_log_lines(800, n_days=2)], "value string"
            )
        )
    ).where(F.col("dt").isNotNull())
    for i in range(4):
        compact(df.where(F.col("bytes_sent") % 4 == i), dest, num_files=4, mode="append")
    n_before = spark.read.parquet(dest).count()
    frag_dts = {os.path.basename(p)[3:] for p in glob.glob(f"{dest}/dt=*")}

    dry = cli.build_maintenance_parser().parse_args(
        ["--dest", dest, "--max-files", "4", "--num-output-files", "2", "--dry-run"]
    )
    assert cli.run_maintenance(dry) == 0
    assert all(len(glob.glob(f"{dest}/dt={dt}/*.parquet")) > 4 for dt in frag_dts)

    args = cli.build_maintenance_parser().parse_args(
        ["--dest", dest, "--max-files", "4", "--num-output-files", "2"]
    )
    assert cli.run_maintenance(args) == 0
    for dt in frag_dts:
        assert len(glob.glob(f"{dest}/dt={dt}/*.parquet")) <= 2
    assert spark.read.parquet(dest).count() == n_before  # no rows lost

    # healthy table (at test scale: min-file-bytes lowered): nothing to do
    clean = cli.build_maintenance_parser().parse_args(
        ["--dest", dest, "--min-file-bytes", "1"]
    )
    assert cli.run_maintenance(clean) == 0
    out = capsys.readouterr().out
    assert "no fragmented partitions" in out

    # single-day direct mode
    one = sorted(frag_dts)[0]
    single = cli.build_maintenance_parser().parse_args(
        ["--dest", dest, "--dt", one, "--num-output-files", "1"]
    )
    assert cli.run_maintenance(single) == 0
    assert len(glob.glob(f"{dest}/dt={one}/*.parquet")) == 1


def test_cli_maintain_validate_mode(spark, tmp_path, capsys):
    """maintain --validate prints the table's rule report and exits
    nonzero iff any rule has violations."""
    from aws_logs_to_parquet_converter_spark import cli

    dest = str(tmp_path / "wh")
    df = with_dt(
        parse_lines(
            spark.createDataFrame(
                [(l,) for l in generate_log_lines(200)], "value string"
            )
        )
    ).where(F.col("dt").isNotNull())
    compact(df, dest, num_files=1)
    args = cli.build_maintenance_parser().parse_args(["--dest", dest, "--validate"])
    rc = cli.run_maintenance(args)
    out = capsys.readouterr().out
    assert "status_domain:" in out and "dt_format:" in out
    assert rc == 0  # generated logs satisfy the contract


def test_cli_maintain_dt_honors_dry_run(spark, tmp_path, capsys):
    """--dt with --dry-run must not rewrite the partition (it used to
    ignore the flag and overwrite anyway)."""
    from aws_logs_to_parquet_converter_spark import cli

    dest = str(tmp_path / "wh")
    df = with_dt(
        parse_lines(
            spark.createDataFrame(
                [(l,) for l in generate_log_lines(200, n_days=1)], "value string"
            )
        )
    ).where(F.col("dt").isNotNull())
    compact(df, dest, num_files=4)
    dt = os.path.basename(glob.glob(f"{dest}/dt=*")[0])[3:]
    files_before = sorted(glob.glob(f"{dest}/dt={dt}/*.parquet"))

    args = cli.build_maintenance_parser().parse_args(
        ["--dest", dest, "--dt", dt, "--num-output-files", "1", "--dry-run"]
    )
    assert cli.run_maintenance(args) == 0
    assert sorted(glob.glob(f"{dest}/dt={dt}/*.parquet")) == files_before
    assert "dry run" in capsys.readouterr().out


def test_cli_corpus_subcommand(spark, tmp_path, capsys):
    """corpus subcommand: raw table -> quality gate -> dedup ->
    PII scrub -> shard export, one command; manifest totals match."""
    import json

    from aws_logs_to_parquet_converter_spark import cli

    rows = [
        (1, "the cat sat on the mat and it was a good day for sitting"),
        (2, "the cat sat on the mat and it was a good day for sitting"),  # dup of 1
        (3, "the dog ran in the park and it was a fine morning for running"),
        (4, "x"),                                       # fails quality gate
        (5, "write to admin@example.com for the offer of a deal on it"),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    dest = str(tmp_path / "shards")
    args = cli.build_corpus_parser().parse_args([
        "--src", src, "--dest", dest, "--n-shards", "4",
        "--dedup", "exact", "--min-quality", "0.7", "--scrub-pii",
    ])
    assert cli.run_corpus(args) == 0
    out = spark.read.parquet(dest)
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 3, 5]  # dup 2 dropped, low-quality 4 dropped
    scrubbed = {r.doc_id: r.text for r in out.collect()}
    assert "@" not in scrubbed[5] and "[PII]" in scrubbed[5]
    with open(f"{dest}/_manifest.json") as fh:
        manifest = json.load(fh)
    assert len(manifest) == 4 and sum(m["n_rows"] for m in manifest) == 3
    assert "3 documents exported across 4 shards" in capsys.readouterr().out


def test_cli_corpus_jsonl_source_with_deadletter(spark, tmp_path, capsys):
    """--src-format jsonl: corrupt lines are counted and excluded, clean
    rows flow through the same export pipeline."""
    import json

    from aws_logs_to_parquet_converter_spark import cli

    src = tmp_path / "docs.jsonl"
    lines = [
        json.dumps({"doc_id": 1, "text": "the cat sat on the mat and it was a good day",
                    "lang": "en", "source": "web", "n_chars": 44}),
        "{broken json",
        json.dumps({"doc_id": 2, "text": "the dog ran in the park on a fine morning today",
                    "lang": "en", "source": "web", "n_chars": 47}),
    ]
    src.write_text("\n".join(lines))
    dest = str(tmp_path / "shards")
    args = cli.build_corpus_parser().parse_args([
        "--src", str(src), "--src-format", "jsonl", "--dest", dest,
        "--n-shards", "2", "--dedup", "exact",
    ])
    assert cli.run_corpus(args) == 0
    out = spark.read.parquet(dest)
    assert sorted(r.doc_id for r in out.collect()) == [1, 2]
    err = capsys.readouterr().err
    assert "1 corrupt jsonl line(s) excluded" in err


def test_cli_corpus_gopher_gate(spark, tmp_path):
    """--gopher applies the published rule battery as a hard gate."""
    from aws_logs_to_parquet_converter_spark import cli

    good = ("the quick brown fox jumps over that lazy dog and it runs with "
            "great joy to have a fine day in the sunny park where children "
            "play games of chance and skill while parents watch from benches "
            "under shady trees that line the wide gravel paths of the garden "
            "and birds sing songs of summer in the warm evening air nearby")
    rows = [(1, good), (2, "way too short")]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    dest = str(tmp_path / "shards")
    args = cli.build_corpus_parser().parse_args(
        ["--src", src, "--dest", dest, "--n-shards", "2", "--dedup", "none", "--gopher"]
    )
    assert cli.run_corpus(args) == 0
    assert [r.doc_id for r in spark.read.parquet(dest).collect()] == [1]


def test_cli_corpus_gopher_shard_export_golden_manifest(spark, tmp_path):
    """End-to-end `corpus` run: Gopher gate + exact dedup + shard
    export, checked against a GOLDEN manifest (the md5 hash-range
    layout is a pure function of ids + seed, so the exact bytes are
    reproducible on any cluster shape), re-run to a second dest for
    byte-identity, and an all-rejected corpus exits cleanly with an
    all-zero manifest instead of the pre-round-7 schema-inference
    crash."""
    import json

    from aws_logs_to_parquet_converter_spark import cli

    good = ("the quick brown fox jumps over that lazy dog and it runs with "
            "great joy to have a fine day in the sunny park where children "
            "play games of chance and skill while parents watch from benches "
            "under shady trees that line the wide gravel paths of the garden "
            "and birds sing songs of summer in the warm evening air nearby")
    good2 = good.replace("cat", "fox") + " second variant of the long document body here"
    good3 = good + " third variant with more words of the same fine style in it"
    rows = [
        (1, good),
        (2, good2),
        (3, good3),
        (4, good),            # exact dup of 1 -> dedup drops
        (5, "way too short"), # gopher word-count rule drops
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    def run(dest):
        args = cli.build_corpus_parser().parse_args(
            ["--src", src, "--dest", dest, "--n-shards", "4",
             "--dedup", "exact", "--gopher"]
        )
        assert cli.run_corpus(args) == 0
        with open(f"{dest}/_manifest.json") as fh:
            return fh.read()

    m1 = run(str(tmp_path / "shards1"))
    golden = [
        {"shard": 0, "n_rows": 0},
        {"shard": 1, "n_rows": 1},
        {"shard": 2, "n_rows": 1},
        {"shard": 3, "n_rows": 1},
    ]
    assert json.loads(m1) == golden
    assert run(str(tmp_path / "shards2")) == m1  # byte-identical re-run
    assert sorted(
        r.doc_id for r in spark.read.parquet(str(tmp_path / "shards1")).collect()
    ) == [1, 2, 3]

    # every gate rejects everything -> clean exit, all-zero manifest
    src2 = str(tmp_path / "docs-empty")
    spark.createDataFrame(
        [(9, "tiny"), (10, "also tiny")], "doc_id long, text string"
    ).write.parquet(src2)
    args = cli.build_corpus_parser().parse_args(
        ["--src", src2, "--dest", str(tmp_path / "shards3"), "--n-shards", "4",
         "--dedup", "exact", "--gopher"]
    )
    assert cli.run_corpus(args) == 0
    with open(f"{tmp_path}/shards3/_manifest.json") as fh:
        assert all(m["n_rows"] == 0 for m in json.load(fh))


def test_cli_corpus_c4_gate_rewrites_and_filters(spark, tmp_path):
    """--c4 REWRITES pages to their surviving lines (terminal
    punctuation, >=5 words) and drops pages failing the sentence /
    lorem / brace / bad-word rules."""
    from aws_logs_to_parquet_converter_spark import cli

    line = "this sentence has more than five words in it."
    keepable = "\n".join([line] * 3) + "\nnoise line no punct"
    rows = [
        (1, keepable),                                   # kept, noise line dropped
        (2, "lorem ipsum dolor. " + "\n".join([line] * 3)),  # lorem page dropped
        (3, "too. few. words."),                         # line filter empties it
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    dest = str(tmp_path / "shards")
    args = cli.build_corpus_parser().parse_args(
        ["--src", src, "--dest", dest, "--n-shards", "2", "--dedup", "none", "--c4"]
    )
    assert cli.run_corpus(args) == 0
    out = {r.doc_id: r.text for r in spark.read.parquet(dest).collect()}
    assert list(out) == [1]
    assert out[1] == "\n".join([line] * 3)  # noise line rewritten away


def test_cli_corpus_near_dedup_index_gate_and_update(spark, tmp_path):
    """--near-dedup-index drops documents near-duplicating the indexed
    corpus; --near-dedup-update appends the exported docs so the NEXT
    export near-dedups against this one (the daily-export loop)."""
    from aws_logs_to_parquet_converter_spark import cli
    from aws_logs_to_parquet_converter_spark.operators.dedup import save_minhash_index

    base = (
        "a long established corpus paragraph with plenty of distinctive shingle "
        "content to fingerprint reliably"
    )
    idx = str(tmp_path / "mhidx")
    save_minhash_index(
        spark.createDataFrame([(1, base)], "doc_id long, text string"),
        "doc_id", "text", idx,
    )
    day1 = [
        (10, base.replace("plenty", "loads")),  # near-dup of indexed doc 1
        (11, "novel day-one material that shares no phrasing with the corpus at all today"),
    ]
    src1 = str(tmp_path / "day1")
    spark.createDataFrame(day1, "doc_id long, text string").write.parquet(src1)
    dest1 = str(tmp_path / "out1")
    args = cli.build_corpus_parser().parse_args([
        "--src", src1, "--dest", dest1, "--n-shards", "2", "--dedup", "none",
        "--near-dedup-index", idx, "--near-dedup-update",
    ])
    assert cli.run_corpus(args) == 0
    assert sorted(r.doc_id for r in spark.read.parquet(dest1).collect()) == [11]
    # day 2: a near-dup of day 1's EXPORTED doc must now be dropped too
    day2 = [
        (20, "novel day-one material that shares no phrasing with the corpus at all now"),
        (21, "day two brings its own genuinely fresh text with different words entirely"),
    ]
    src2 = str(tmp_path / "day2")
    spark.createDataFrame(day2, "doc_id long, text string").write.parquet(src2)
    dest2 = str(tmp_path / "out2")
    args2 = cli.build_corpus_parser().parse_args([
        "--src", src2, "--dest", dest2, "--n-shards", "2", "--dedup", "none",
        "--near-dedup-index", idx,
    ])
    assert cli.run_corpus(args2) == 0
    assert sorted(r.doc_id for r in spark.read.parquet(dest2).collect()) == [21]


def test_cli_corpus_ann_index_build_probe_update(spark, tmp_path, capsys):
    """The 100 TB 'index once, probe daily' loop in one command (r9
    verdict item 6): --ann-build persists a PQ index from the first
    export's embeddings; the next export probes it and drops documents
    whose embedding near-matches the indexed corpus; --ann-update then
    appends the survivors so a third export gates against them too."""
    from aws_logs_to_parquet_converter_spark import cli
    from aws_logs_to_parquet_converter_spark.operators.similarity import (
        validate_pq_index,
    )

    def one_hot(j, dim=16):
        return [1.0 if i == j else 0.0 for i in range(dim)]

    rows1 = [(i, f"corpus document number {i} body", one_hot(i)) for i in range(8)]
    schema = "doc_id long, text string, embedding array<double>"
    src1 = str(tmp_path / "docs1")
    spark.createDataFrame(rows1, schema).write.parquet(src1)
    idx = str(tmp_path / "pqidx")
    dest1 = str(tmp_path / "shards1")
    args = cli.build_corpus_parser().parse_args(
        ["--src", src1, "--dest", dest1, "--n-shards", "2", "--dedup", "none",
         "--ann-index", idx, "--ann-build", "--ann-m", "4", "--ann-ks", "8"]
    )
    assert cli.run_corpus(args) == 0
    assert "built PQ index from 8 documents" in capsys.readouterr().out
    assert validate_pq_index(spark, idx)["n_ids"] == 8

    # day 2: doc 100 re-ships doc 3's embedding (semantic dup of the
    # indexed corpus -> gated out); doc 101 is genuinely new BUT lies
    # inside the trained codebook's span (a mix of two indexed
    # directions) — outside the span PQ reconstruction degenerates and
    # no threshold could later recognize it, which is codebook-drift
    # physics, not a gate bug
    import math

    v_new = [0.0] * 16
    v_new[1] = v_new[5] = 1.0 / math.sqrt(2.0)
    rows2 = [(100, "reshipped content", one_hot(3)),
             # SAME id as its indexed copy: the gate must not let the
             # symmetric self-exclusion excuse it (r10 review finding)
             (3, "same id reshipped", one_hot(3)),
             (101, "fresh content", v_new)]
    src2 = str(tmp_path / "docs2")
    spark.createDataFrame(rows2, schema).write.parquet(src2)
    dest2 = str(tmp_path / "shards2")
    args = cli.build_corpus_parser().parse_args(
        ["--src", src2, "--dest", dest2, "--n-shards", "2", "--dedup", "none",
         "--ann-index", idx, "--ann-threshold", "0.8", "--ann-update"]
    )
    assert cli.run_corpus(args) == 0
    assert [r.doc_id for r in spark.read.parquet(dest2).collect()] == [101]
    assert validate_pq_index(spark, idx)["n_ids"] == 9  # survivor appended

    # day 3: doc 101's embedding re-ships -> now gated by the APPENDED
    # history, proving the update fed the gate
    rows3 = [(200, "third day duplicate", v_new)]
    src3 = str(tmp_path / "docs3")
    spark.createDataFrame(rows3, schema).write.parquet(src3)
    dest3 = str(tmp_path / "shards3")
    args = cli.build_corpus_parser().parse_args(
        ["--src", src3, "--dest", dest3, "--n-shards", "2", "--dedup", "none",
         "--ann-index", idx, "--ann-threshold", "0.8"]
    )
    assert cli.run_corpus(args) == 0
    import json

    with open(f"{dest3}/_manifest.json") as fh:
        assert sum(m["n_rows"] for m in json.load(fh)) == 0


def test_cli_maintain_validate_index_both_kinds(spark, tmp_path, capsys):
    """maintain --validate-index health-checks EITHER persisted index
    kind (sniffed from the self-describing params row), exits 0 on a
    healthy index and nonzero once real corruption appears."""
    from aws_logs_to_parquet_converter_spark import cli
    from aws_logs_to_parquet_converter_spark.operators import versioned
    from aws_logs_to_parquet_converter_spark.operators.dedup import (
        save_minhash_index,
    )
    from aws_logs_to_parquet_converter_spark.operators.similarity import save_pq_index

    docs = spark.createDataFrame(
        [(1, "a perfectly ordinary document with words")], "doc_id long, text string"
    )
    mh = str(tmp_path / "mhidx")
    save_minhash_index(docs, "doc_id", "text", mh, num_hashes=32, bands=8)
    vecs = spark.createDataFrame(
        [(i, [float(i == j) for j in range(16)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    pq = str(tmp_path / "pqidx")
    save_pq_index(vecs, pq, m=4, ks=8, sample_n=32, iters=2)

    for idx, kind_key in ((mh, "n_band_rows"), (pq, "n_codes")):
        args = cli.build_maintenance_parser().parse_args(["--validate-index", idx])
        assert cli.run_maintenance(args) == 0
        assert kind_key in capsys.readouterr().out

    # inject minhash corruption (a wrong-length signature) -> exit 1
    vdir = versioned.live_dir(mh, versioned.read_params(spark, mh))
    good = spark.read.parquet(f"{vdir}/signatures").first()
    spark.createDataFrame(
        [(999, list(good.signature)[:5])], "id long, signature array<bigint>"
    ).write.mode("append").parquet(f"{vdir}/signatures")
    args = cli.build_maintenance_parser().parse_args(["--validate-index", mh])
    assert cli.run_maintenance(args) == 1
    assert "INDEX CORRUPT" in capsys.readouterr().err

    # --dest still required for the warehouse paths
    args = cli.build_maintenance_parser().parse_args(["--dry-run"])
    assert cli.run_maintenance(args) == 2
