"""JSONL (newline-delimited JSON) document source.

The lingua-franca interchange format for LLM training corpora.  Same
dead-letter discipline as the access-log parser (sources/parse.py):
no row is ever silently dropped — lines that fail to parse against the
declared schema surface in a ``_corrupt`` column for routing to a
quarantine sink, mirroring the parser's ``error_line``.

Scale notes: ``spark.read.json`` with an EXPLICIT schema is a single
streamed pass (no inference job over 100 TB); Spark splits multi-GB
JSONL files on line boundaries, so parallelism follows
``maxPartitionBytes`` exactly like the text scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# documents-table shape (TESTDATA.md) + the corrupt-record channel.
DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOCUMENT_SCHEMA,
) -> DataFrame:
    """Read JSONL with an explicit schema; unparseable lines land in
    ``_corrupt`` instead of vanishing or failing the job.

    Implementation is text-scan + ``from_json`` — the same
    one-expression-pass discipline as the access-log parser — rather
    than ``spark.read.json``'s PERMISSIVE corrupt-record column, whose
    internal-column restriction (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    forbids exactly the count/filter queries a dead-letter pipeline
    runs.  Semantics: ``_corrupt`` = line is not a JSON OBJECT — either
    unparseable, or valid JSON of the wrong kind (``42``, ``"x"``,
    ``true``, ``[..]``, ``null``), which from_json would quietly turn
    into an all-NULL row (round-2 advisor finding); a parseable object
    with a type-mismatched field yields that field as NULL (from_json's
    try semantics), matching the log parser's per-field null
    coercions."""
    raw = spark.read.text(path)
    # from_json yields an all-null ROW (not a null struct) on corrupt
    # input, so validity is probed separately: json_object_keys is NULL
    # exactly when the line is not parseable JSON *or* parses to a
    # non-object (it returns a — possibly empty — key array only for
    # objects), which is precisely the dead-letter condition.
    parsed = raw.select(
        "value",
        F.from_json("value", schema).alias("_s"),
        F.json_object_keys("value").isNull().alias("_bad"),
    )
    return parsed.select(
        "_s.*",
        F.when(F.col("_bad"), F.col("value")).alias("_corrupt"),
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, dead_letter): clean rows lose the ``_corrupt`` column;
    dead-letter rows keep the raw line PLUS any fields PERMISSIVE mode
    salvaged — more useful for quarantine repair, and required anyway:
    Spark disallows queries whose pruned schema is only the internal
    corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN)."""
    clean = df.where(F.col("_corrupt").isNull()).drop("_corrupt")
    dead = df.where(F.col("_corrupt").isNotNull()).withColumnRenamed("_corrupt", "raw_line")
    return clean, dead
