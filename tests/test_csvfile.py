"""CSV dead-letter source: routing, typed coercion, roundtrip."""

from pyspark.sql import types as T

from aws_logs_to_parquet_converter_spark.sources.csvfile import read_csv_deadletter
from aws_logs_to_parquet_converter_spark.sources.jsonl import split_corrupt

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def test_read_csv_routes_corrupt_lines(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text(
        "\n".join(
            [
                "1,hello,0.5",
                '2,"unterminated quote,0.7',  # broken quoting -> corrupt
                "not_a_number,world,0.9",  # doc_id type failure -> corrupt
                "3,ok,1.0",
            ]
        )
    )
    df = read_csv_deadletter(spark, str(p), SCHEMA)
    clean, dead = split_corrupt(df)
    assert {(r.doc_id, r.text, r.score) for r in clean.collect()} == {
        (1, "hello", 0.5),
        (3, "ok", 1.0),
    }
    raws = {r.raw_line for r in dead.collect()}
    assert raws == {'2,"unterminated quote,0.7', "not_a_number,world,0.9"}
    # no row vanished
    assert df.count() == 4


def test_read_csv_header_and_short_rows(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("doc_id,text,score\n1,a,0.1\n2,b\n")
    df = read_csv_deadletter(spark, str(p), SCHEMA, header=True)
    rows = {r.doc_id: (r.text, r.score, r._corrupt) for r in df.collect()}
    assert rows[1] == ("a", 0.1, None)
    # short row: leading fields salvaged PERMISSIVE-style AND flagged
    # with the raw line (wrong arity is a dead-letter condition)
    assert rows[2] == ("b", None, "2,b")
    assert len(rows) == 2  # header line dropped


def test_read_csv_rejects_reserved_column(spark, tmp_path):
    import pytest

    bad = T.StructType([T.StructField("_corrupt", T.StringType())])
    with pytest.raises(ValueError, match="_corrupt"):
        read_csv_deadletter(spark, str(tmp_path), bad)


def test_csv_roundtrip_tsv(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "alpha", 0.25), (2, "beta", 0.5)], "doc_id long, text string, score double"
    )
    out = tmp_path / "out"
    df.coalesce(1).write.option("header", True).option("sep", "\t").csv(str(out))
    back = read_csv_deadletter(spark, str(out), SCHEMA, sep="\t", header=True)
    clean, dead = split_corrupt(back)
    assert dead.count() == 0
    assert sorted(map(tuple, clean.collect())) == sorted(map(tuple, df.collect()))


def test_read_csv_header_equal_data_row_is_kept(spark, tmp_path):
    # all-string schema: a data row identical to the rendered header
    # parses cleanly and must NOT be dropped (no-silent-drop discipline,
    # r11 advisor); with a typed schema the real header fails parsing
    # and is dropped as before (covered above).
    s = T.StructType(
        [T.StructField("a", T.StringType()), T.StructField("b", T.StringType())]
    )
    p = tmp_path / "in.csv"
    p.write_text("a,b\nx,y\na,b\n")  # line 3 is DATA equal to the header
    df = read_csv_deadletter(spark, str(p), s, header=True)
    rows = [(r.a, r.b) for r in df.collect()]
    # both header-equal lines parse cleanly under the all-string schema,
    # so both are kept — the documented indistinguishability caveat
    assert sorted(rows) == [("a", "b"), ("a", "b"), ("x", "y")]
