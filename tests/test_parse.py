"""Parser unit tests (SURVEY.md §5.1): golden line, null coercions,
dead-letter, trailing-field tolerance, and a reference-differential
property test (same regex semantics as compacter.py:45-100, modulo the
two documented divergences)."""

import datetime
import re

from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.sources.parse import parse_lines, with_dt
from aws_logs_to_parquet_converter_spark.testing import GOLDEN_LINE, generate_log_lines


def _parse(spark, lines):
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    return parse_lines(df)


def test_golden_line(spark):
    row = _parse(spark, [GOLDEN_LINE]).collect()[0]
    assert row.bucket_owner == "79a59df900b949e55d96a1e698fbacedfd6e09d98eacf8f8d5218e7cd47ef2be"
    assert row.s3_bucket == "awsexamplebucket"
    assert row.request_time == datetime.datetime(2019, 2, 6, 0, 0, 38)
    assert row.remote_ip == "192.0.2.3"
    assert row.request_id == "3E57427F3EXAMPLE"
    assert row.operation == "REST.GET.VERSIONING"
    assert row.key is None  # '-' -> NULL
    assert row.request == '"GET /awsexamplebucket?versioning HTTP/1.1"'
    assert row.http_status == 200
    assert row.error_code is None
    assert row.bytes_sent == 113
    assert row.object_size is None
    assert row.total_time == 7
    assert row.turn_around_time is None
    assert row.referrer is None  # '"-"' -> NULL
    assert row.user_agent == '"S3Console/0.4"'
    assert row.version_id is None
    assert row.error_line is None


def test_request_keeps_literal_dash(spark):
    # SURVEY §1.3.6: `request` is NOT normalized ('"-"' stays), unlike
    # referrer/user_agent.
    line = GOLDEN_LINE.replace('"GET /awsexamplebucket?versioning HTTP/1.1"', '"-"')
    row = _parse(spark, [line]).collect()[0]
    assert row.request == '"-"'


def test_dead_letter(spark):
    rows = _parse(spark, ["complete garbage", GOLDEN_LINE]).collect()
    bad = [r for r in rows if r.error_line is not None]
    assert len(bad) == 1
    assert bad[0].error_line == "complete garbage"
    assert all(bad[0][f] is None for f in bad[0].asDict() if f != "error_line")


def test_blank_lines_skipped(spark):
    assert _parse(spark, ["", "   ", GOLDEN_LINE]).count() == 1


def test_trailing_modern_fields_tolerated(spark):
    line = GOLDEN_LINE + " hostIdExample= SigV4 ECDHE-RSA-AES128-GCM-SHA256 AuthHeader host TLSv1.2"
    row = _parse(spark, [line]).collect()[0]
    assert row.error_line is None
    assert row.http_status == 200


def test_version_id_full_token(spark):
    # Documented fix of the reference's single-char `(?P<version>\S)` bug.
    line = GOLDEN_LINE[:-1] + "3HL4kqtJvjVBH40Nrjfkd"
    row = _parse(spark, [line]).collect()[0]
    assert row.version_id == "3HL4kqtJvjVBH40Nrjfkd"


def test_bad_timestamp_yields_null_not_crash(spark):
    line = GOLDEN_LINE.replace("[06/Feb/2019:00:00:38 +0000]", "[99/Xxx/20AB:zz +0000]")
    row = _parse(spark, [line]).collect()[0]
    assert row.error_line is None  # grammar still matches
    assert row.request_time is None  # NULL instead of task failure


def test_with_dt(spark):
    row = with_dt(_parse(spark, [GOLDEN_LINE])).collect()[0]
    assert row.dt == "2019-02-06"


def test_differential_vs_reference_regex(spark):
    """Property test: our JVM parse == the reference's Python parse on
    the generated mix (reference pattern from compacter.py:21-25, with
    version capture widened per SURVEY §1.3.3)."""
    ref_pattern = re.compile(
        r'(?P<owner>\S+) (?P<bucket>\S+) (?P<time>\[[^]]*\]) (?P<ip>\S+) '
        r'(?P<requester>\S+) (?P<reqid>\S+) (?P<operation>\S+) (?P<key>\S+) '
        r'(?P<request>"[^"]*"|-) (?P<status>\S+) (?P<error>\S+) (?P<bytes>\S+) '
        r'(?P<size>\S+) (?P<totaltime>\S+) (?P<turnaround>\S+) (?P<referrer>"[^"]*"|-) '
        r'(?P<useragent>"[^"]*"|-) (?P<version>\S+)'
    )
    lines = [l for l in generate_log_lines(500) if l.strip()]
    rows = {r.asDict().get("error_line") or r.request_id: r for r in _parse(spark, lines).collect()}

    n_checked = 0
    for line in lines:
        m = ref_pattern.search(line)
        if m is None:
            assert line in rows and rows[line].error_line == line
            continue
        row = rows[m.group("reqid")]
        assert row.bucket_owner == m.group("owner")
        assert row.operation == m.group("operation")
        assert row.key == (None if m.group("key") == "-" else m.group("key"))
        assert row.http_status == (None if m.group("status") == "-" else int(m.group("status")))
        assert row.bytes_sent == (None if m.group("bytes") == "-" else int(m.group("bytes")))
        assert row.referrer == (None if m.group("referrer") == '"-"' else m.group("referrer"))
        assert row.user_agent == (None if m.group("useragent") == '"-"' else m.group("useragent"))
        assert row.version_id == (None if m.group("version") == "-" else m.group("version"))
        assert row.request == m.group("request")
        n_checked += 1
    assert n_checked > 300


def test_repeat_parse_is_cheap_and_plan_ignores_escaped_literals(spark):
    """The parser's expressions are built once per JVM: a repeat call
    may make at most 100 py4j commands (a fresh build makes ~1,500).
    Its optimized plan does not depend on
    ``spark.sql.parser.escapedStringLiterals``, which a session may
    set."""
    df = spark.createDataFrame([(l,) for l in generate_log_lines(20)], "value string")
    parse_lines(df)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(*args, **kwargs):
        sent.append(1)
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        parse_lines(df)
    finally:
        client.send_command = send
    assert len(sent) <= 100

    def plan(escaped):
        spark.conf.set("spark.sql.parser.escapedStringLiterals", escaped)
        text = with_dt(parse_lines(df))._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?", "#", text)

    prev = spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    try:
        assert plan("false") == plan("true")
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", prev)
