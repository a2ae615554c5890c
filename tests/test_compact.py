"""Write-path tests (SURVEY.md §5.4): dt= layout, file count, snappy
codec, within-file request_time ordering, TIMESTAMP_MILLIS at rest."""

import glob
import os

import pyarrow.parquet as pq

from aws_logs_to_parquet_converter_spark.operators.compact import compact
from aws_logs_to_parquet_converter_spark.sources.parse import parse_lines, with_dt
from aws_logs_to_parquet_converter_spark.testing import generate_log_lines


def test_compact_layout(spark, tmp_path):
    dest = str(tmp_path / "out")
    lines = generate_log_lines(2000)
    df = with_dt(parse_lines(spark.createDataFrame([(l,) for l in lines], "value string")))
    df = df.where(df.dt.isNotNull())  # dead-letter rows have no dt; routed separately in prod
    compact(df, dest, num_files=3)

    part_dirs = sorted(os.path.basename(p) for p in glob.glob(f"{dest}/dt=*"))
    assert part_dirs and all(d.startswith("dt=2019-") for d in part_dirs)

    files = glob.glob(f"{dest}/dt=*/*.parquet")
    assert all(f.endswith(".snappy.parquet") for f in files)
    # ≤ num_files files per partition dir (each of the 3 tasks writes
    # at most one file per dt it holds)
    from collections import Counter

    per_dir = Counter(os.path.dirname(f) for f in files)
    assert max(per_dir.values()) <= 3

    # within-file ordering + INT64-millis timestamps
    f0 = max(files, key=os.path.getsize)
    t = pq.read_table(f0)
    ts_field = t.schema.field("request_time")
    assert str(ts_field.type).startswith("timestamp[ms")  # INT64 millis at rest
    col = t.column("request_time").to_pylist()
    assert col == sorted(col)

    # round-trip row count
    back = spark.read.parquet(dest)
    assert back.count() == df.count()
    assert "dt" in back.columns


def test_compact_idempotent_overwrite(spark, tmp_path):
    dest = str(tmp_path / "out2")
    lines = generate_log_lines(500)
    df = with_dt(parse_lines(spark.createDataFrame([(l,) for l in lines], "value string")))
    df = df.where(df.dt.isNotNull())
    compact(df, dest, num_files=2)
    n1 = spark.read.parquet(dest).count()
    compact(df, dest, num_files=2)  # re-run same days => same result
    assert spark.read.parquet(dest).count() == n1
