"""End-to-end ETL CLI + catalog tests: raw log objects on disk ->
compacted dt= parquet -> registered external table -> SQL."""

import os

from aws_logs_to_parquet_converter_spark import cli
from aws_logs_to_parquet_converter_spark.sources import catalog
from aws_logs_to_parquet_converter_spark.testing import generate_log_lines


def _write_raw_days(tmp_path, days, files_per_day=3, lines_per_file=50):
    """Returns (root, non-blank line count per day) — blank lines are
    skipped by the parser, exactly like the reference (compacter.py:164-167)."""
    src = tmp_path / "rawlogs" / "monitored-bucket"
    src.mkdir(parents=True)
    lines = generate_log_lines(len(days) * files_per_day * lines_per_file)
    it = iter(lines)
    per_day = {}
    for d in days:
        n = 0
        for i in range(files_per_day):
            chunk = [next(it) for _ in range(lines_per_file)]
            n += sum(1 for l in chunk if l.strip())
            (src / f"{d}-{i:02d}-00-00-DEADBEEF").write_text("\n".join(chunk) + "\n")
        per_day[d] = n
    return tmp_path / "rawlogs", per_day


def test_cli_daily_loop(spark, tmp_path):
    days = ["2019-03-01", "2019-03-02", "2019-03-03"]
    root, per_day = _write_raw_days(tmp_path, days)
    dest_bucket = str(tmp_path / "warehouse")
    args = cli.build_parser().parse_args(
        [
            "--source-access-log-bucket", str(root),
            "--source-bucket", "monitored-bucket",
            "--destination-log-bucket", dest_bucket,
            "--destination-log-prefix", "logs",
            "--num-output-files", "2",
            "--min-date", "2019-03-01",
            "--max-date", "2019-03-03",  # exclusive: only 2 days
        ]
    )
    assert cli.run(args) == 0

    out = f"{dest_bucket}/logs/monitored-bucket"
    dts = sorted(os.path.basename(p) for p in os.listdir(out) if p.startswith("dt="))
    assert dts == ["dt=2019-03-01", "dt=2019-03-02"]  # max-date exclusive

    df = spark.read.parquet(out)
    # delivery-day partitioning: every line of a day's objects lands in
    # that day's partition, dead letters included
    assert df.count() == per_day["2019-03-01"] + per_day["2019-03-02"]
    assert df.where("error_line IS NOT NULL AND dt = '2019-03-01'").count() >= 0


def test_cli_single_job_and_catalog(spark, tmp_path):
    # a two-day run through the per-day loop, then the catalog over it
    days = ["2019-04-01", "2019-04-02"]
    root, per_day = _write_raw_days(tmp_path, days)
    dest_bucket = str(tmp_path / "wh2")
    args = cli.build_parser().parse_args(
        [
            "--source-access-log-bucket", str(root),
            "--source-bucket", "monitored-bucket",
            "--destination-log-bucket", dest_bucket,
            "--destination-log-prefix", "logs",
            "--min-date", "2019-04-01",
            "--max-date", "2019-04-03",
        ]
    )
    assert cli.run(args) == 0
    out = f"{dest_bucket}/logs/monitored-bucket"

    catalog.create_access_log_table(spark, "access_logs_t", out)
    try:
        # auto-MSCK means the table is immediately queryable
        assert spark.table("access_logs_t").count() == sum(per_day.values())
        n_parts = spark.sql("SHOW PARTITIONS access_logs_t").count()
        assert n_parts == 2
        # partition pruning: dt filter -> only one partition read
        one_day = spark.table("access_logs_t").where("dt = '2019-04-01'")
        assert one_day.count() == per_day["2019-04-01"]
        # the analysis query from the reference runs against the table
        res = spark.sql(
            """
            SELECT operation, count(*) AS n FROM access_logs_t
            WHERE http_status < 300 GROUP BY operation ORDER BY n DESC
            """
        ).collect()
        assert res and res[0].n > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS access_logs_t")


def test_reference_partition_sql_runs_verbatim(spark, tmp_path):
    """The reference's partition-management statements run unchanged:
    load_all_partitions.sql:6 (MSCK REPAIR on the backtick-quoted
    hyphenated name) and load_partition.sql:8-10 (ALTER TABLE ADD
    PARTITION with an explicit LOCATION), against a table of the
    reference's own name.  Only create_table.sql needs adaptation (its
    Hive SerDe/INPUTFORMAT clauses require a Hive metastore; the
    native-DDL equivalent in sources/catalog.py preserves the schema,
    partitioning, and location semantics).  One further divergence: the
    default in-memory catalog rejects hyphens in table names (Hive
    metastores, like Athena's, accept them) — the statements run
    verbatim but for the underscore name."""
    days = ["2019-06-01", "2019-06-02"]
    root, per_day = _write_raw_days(tmp_path, days, files_per_day=1, lines_per_file=20)
    dest_bucket = str(tmp_path / "wh4")
    args = cli.build_parser().parse_args(
        [
            "--source-access-log-bucket", str(root),
            "--source-bucket", "monitored-bucket",
            "--destination-log-bucket", dest_bucket,
            "--destination-log-prefix", "logs",
            "--min-date", "2019-06-01",
            "--max-date", "2019-06-03",
        ]
    )
    assert cli.run(args) == 0
    out = f"{dest_bucket}/logs/monitored-bucket"
    catalog.create_access_log_table(
        spark, "example_s3_access_logs_table", out, repair=False
    )
    try:
        assert spark.table("`example_s3_access_logs_table`").count() == 0
        # load_all_partitions.sql:6, verbatim
        spark.sql("MSCK REPAIR TABLE `example_s3_access_logs_table`")
        assert spark.table("`example_s3_access_logs_table`").count() == sum(per_day.values())
        # load_partition.sql:8-10 shape, verbatim but for the local path
        spark.sql("DROP TABLE IF EXISTS `example_s3_access_logs_table`")
        catalog.create_access_log_table(
            spark, "example_s3_access_logs_table", out, repair=False
        )
        spark.sql(
            f"""
            ALTER TABLE `example_s3_access_logs_table`
                ADD PARTITION (dt='2019-06-01')
                LOCATION '{out}/dt=2019-06-01'
            """
        )
        assert spark.table("`example_s3_access_logs_table`").count() == per_day["2019-06-01"]
    finally:
        spark.sql("DROP TABLE IF EXISTS `example_s3_access_logs_table`")


def test_reference_readme_invocation_parses(tmp_path):
    """The reference README's exact spark-submit flag list (README.md:
    51-61, incl. --aws-config) must parse — drop-in CLI compat."""
    cfg = tmp_path / "something.key"
    cfg.write_text(
        '{"accessKeyId": "AKIATEST", "secretAccessKey": "s3cr3t", "region": "us-west-2"}'
    )
    args = cli.build_parser().parse_args(
        [
            "--aws-config", str(cfg),
            "--min-date", "2019-02-10",
            "--max-date", "2019-02-11",
            "--source-access-log-bucket", "my-access-logs",
            "--source-bucket", "my-bucket",
            "--destination-log-bucket", "my-dest",
            "--destination-log-prefix", "teams/metrics-data/logs",
            "--num-output-files", "15",
        ]
    )
    assert args.aws_config == str(cfg)
    assert args.num_output_files == 15
    conf = cli.aws_config_to_s3a(args.aws_config)
    assert conf["fs.s3a.access.key"] == "AKIATEST"
    assert conf["fs.s3a.secret.key"] == "s3cr3t"
    assert conf["fs.s3a.endpoint.region"] == "us-west-2"
    assert (
        conf["fs.s3a.aws.credentials.provider"]
        == "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
    )


def test_aws_config_omitted_uses_default_chain(tmp_path):
    """No keys in the file -> no explicit provider pinned (default
    chain: instance profile / env / web identity)."""
    cfg = tmp_path / "empty.key"
    cfg.write_text('{"region": "eu-west-1"}')
    conf = cli.aws_config_to_s3a(str(cfg))
    assert "fs.s3a.access.key" not in conf
    assert "fs.s3a.aws.credentials.provider" not in conf
    assert conf["fs.s3a.endpoint.region"] == "eu-west-1"


def test_schema_evolution_merge_and_catalog(spark, tmp_path):
    """Log formats grow columns over time (S3's own access-log format
    has appended fields repeatedly).  The warehouse must absorb that:
    a path read with mergeSchema unions old and new days (old rows
    NULL in the new column), and the catalog table follows after an
    ALTER TABLE ADD COLUMNS — without rewriting any old day."""
    from pyspark.sql import functions as F

    from aws_logs_to_parquet_converter_spark.operators.compact import compact

    dest = str(tmp_path / "wh")
    base = _write_raw_days(tmp_path, ["2019-05-01"])[0]
    d1 = cli._parse_with_delivery_dt(spark, [str(p) for p in (base / "monitored-bucket").glob("2019-05-01*")])
    compact(d1, dest, num_files=1)
    d2 = d1.withColumn("dt", F.lit("2019-05-02")).withColumn(
        "acl_required", F.lit("Yes")  # the real 2022 S3 log-format addition
    )
    compact(d2, dest, num_files=1)

    merged = spark.read.option("mergeSchema", "true").parquet(dest)
    assert "acl_required" in merged.columns
    old = merged.where("dt = '2019-05-01'").select("acl_required").distinct().collect()
    assert [r.acl_required for r in old] == [None]  # old days: NULL, not rewritten
    new = merged.where("dt = '2019-05-02'").select("acl_required").distinct().collect()
    assert [r.acl_required for r in new] == ["Yes"]

    # catalog path: the table schema is fixed at DDL time; evolving it
    # is one metadata-only ALTER, then both days are queryable
    spark.sql(f"CREATE TABLE evo USING PARQUET LOCATION '{dest}'")
    try:
        spark.sql("MSCK REPAIR TABLE evo")
        assert "acl_required" not in spark.table("evo").columns
        spark.sql("ALTER TABLE evo ADD COLUMNS (acl_required STRING)")
        got = {str(r.dt): r.acl_required for r in spark.sql(
            "SELECT DISTINCT dt, acl_required FROM evo").collect()}
        assert got == {"2019-05-01": None, "2019-05-02": "Yes"}
    finally:
        spark.sql("DROP TABLE evo")
