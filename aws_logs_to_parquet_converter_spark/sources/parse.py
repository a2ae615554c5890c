"""Native-expression S3 access-log parser.

Replaces the reference's per-line Python path (boto3 ``get_object`` +
``parse_apache_log_line`` inside an RDD flatMap,
oss_s3_server_side_logging_compacter.py:154-218) with a pure Catalyst
plan: ``spark.read.text`` -> ONE regex pass per line -> typed columns.

Scale rationale: the reference crosses the JVM<->Python boundary per
row and runs ~18 named-group extractions in CPython.  Here the line is
matched once in the JVM (wholestage codegen), the 18 groups are
splatted to a delimited string via backreferences, split once, and
coerced with native ``nullif``/``try_cast``/``try_to_timestamp``.  No
Python workers, no pickling, and Parquet pushdown/pruning stay intact
downstream.

Dead-letter semantics preserved from the reference (compacter.py:47-69):
a line the grammar can't match becomes an all-NULL row carrying the raw
text in ``error_line`` — parse errors are queryable, never dropped.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.schema import (
    DASH_NULL_FIELDS,
    INT_FIELDS,
    LONG_FIELDS,
    N_FIELDS,
    QUOTED_DASH_NULL_FIELDS,
    RAW_FIELDS,
    S3_ACCESS_LOG_PATTERN,
    S3_ACCESS_LOG_SCHEMA,
)

# Unit separator — cannot occur in a printable log line.
_SEP = ""
# Lazy prefix + greedy suffix emulate the reference's re.search
# semantics (compacter.py:47): junk before the grammar and trailing
# post-2019 fields (host id, TLS version, ...) are ignored.
_LINE_REWRITE_PATTERN = "^.*?" + S3_ACCESS_LOG_PATTERN + ".*$"
_LINE_REWRITE_REPLACEMENT = _SEP.join(f"${i}" for i in range(1, N_FIELDS + 1))


def _coerce(name: str, raw: Column) -> Column:
    """Apply the reference's per-field NULL/type semantics (compacter.py:79-98)."""
    if name in QUOTED_DASH_NULL_FIELDS:
        raw = F.nullif(raw, F.lit('"-"'))
    elif name in DASH_NULL_FIELDS:
        raw = F.nullif(raw, F.lit("-"))
    if name in INT_FIELDS:
        # Divergence (documented): a matching-but-non-numeric token
        # becomes NULL; the reference's int() would fail the task.
        return raw.try_cast("int")
    if name in LONG_FIELDS:
        return raw.try_cast("long")
    if name == "request_time_raw":
        # '[06/Feb/2019:00:00:38 +0000]' -> ts.  The reference drops
        # the offset and keeps wall time (always +0000 => UTC;
        # compacter.py:37-42).  Here the offset REALLY parses ('Z'
        # token — the old form captured only up to the space and
        # interpreted wall time in the session zone, which silently
        # shifted instants on any non-UTC session despite a comment
        # claiming otherwise; round-7 review finding), with a
        # no-offset fallback for nonstandard producers.  NULL-safe
        # (try_to_timestamp instead of the reference's latent
        # None.isoformat() crash, SURVEY §1.3.5).
        full = F.regexp_extract(raw, r"\[([^\]]+)\]", 1)
        inner = F.regexp_extract(raw, r"\[([^ \]]+)", 1)
        return F.coalesce(
            F.try_to_timestamp(full, F.lit("dd/MMM/yyyy:HH:mm:ss Z")),
            F.try_to_timestamp(inner, F.lit("dd/MMM/yyyy:HH:mm:ss")),
        )
    return raw


@functools.lru_cache(maxsize=8)
def _parser_columns(gateway) -> tuple:
    """The parser's Column objects over the ``value`` column, built once
    per JVM.

    Building them costs ~1,500-2,000 py4j round trips (each ``F.*``
    call, each ``cast`` of a Python DataType); applying prebuilt ones
    costs ~50.  Columns are unresolved expressions, so one set serves
    every DataFrame of the JVM; ``gateway`` is in the key so a relaunched
    JVM gets fresh ones.  Built as Column API calls, never SQL text: a
    session may set ``spark.sql.parser.escapedStringLiterals``, under
    which SQL string literals parse differently.
    """
    line = F.col("value")
    keep = F.trim(line) != ""

    # ONE regex execution: rewrite the line into SEP-delimited captured
    # groups.  A non-matching line passes through unchanged and fails
    # the arity check below (a real line cannot contain \x01).
    fields = F.split(
        F.regexp_replace(line, _LINE_REWRITE_PATTERN, _LINE_REWRITE_REPLACEMENT),
        _SEP,
        -1,
    )
    ok = F.size("_fields") == N_FIELDS

    cols = []
    for i, name in enumerate(RAW_FIELDS, start=1):
        value = _coerce(name, F.element_at("_fields", i))
        out_name = "request_time" if name == "request_time_raw" else name
        cols.append(F.when(ok, value).alias(out_name))
    cols.append(F.when(~ok, line).alias("error_line"))

    # Enforce exact at-rest types (all parse paths already produce
    # them; these are no-op casts that pin the contract).
    casts = [F.col(f.name).cast(f.dataType).alias(f.name) for f in S3_ACCESS_LOG_SCHEMA.fields]
    return keep, fields, tuple(cols), tuple(casts)


def parse_lines(df_text: DataFrame) -> DataFrame:
    """Parse raw log lines into the 19-column typed schema.

    Input: a DataFrame with one string column ``value`` of raw lines
    (shape of ``spark.read.text``).  Output columns/types ==
    ``schema.S3_ACCESS_LOG_SCHEMA``; blank lines are skipped (the
    reference skips them at read time, compacter.py:164-167).
    """
    keep, fields, cols, casts = _parser_columns(df_text.sparkSession.sparkContext._gateway)
    return df_text.where(keep).withColumn("_fields", fields).select(*cols).select(*casts)


def with_dt(df: DataFrame) -> DataFrame:
    """Add the Hive-style string partition column ``dt`` (YYYY-MM-DD) of
    ``request_time``.

    The reference encodes dt into the destination *path* per-day
    (compacter.py:246-251); deriving it as a real column lets one job
    ingest many days and still get partition pruning.
    """
    return df.withColumn("dt", F.date_format(F.col("request_time"), "yyyy-MM-dd"))


def read_raw_logs(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Raw log source: streamed, splittable text scan.

    Replaces the reference's whole-file boto3 reads in executor Python
    (compacter.py:154-171) — no per-executor credential plumbing, no
    whole-object buffering, and Spark's file index sizes the splits
    (spark.sql.files.maxPartitionBytes).
    """
    return spark.read.text(paths)
