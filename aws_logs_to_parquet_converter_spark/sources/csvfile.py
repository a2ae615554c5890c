"""CSV/TSV source with the repo's dead-letter discipline — the third
interchange format next to JSONL and WARC.  No row is ever silently
dropped: lines that fail the declared schema surface in ``_corrupt``
(the jsonl/parse.py convention), routable with ``jsonl.split_corrupt``.

Implementation is text-scan + ``from_csv``, NOT ``spark.read.csv``
PERMISSIVE mode, for the same reason as jsonl: Spark's internal
corrupt-record column forbids the count/filter queries a dead-letter
pipeline runs (QUERY_ONLY_CORRUPT_RECORD_COLUMN).  One expression
pass, splittable text scan, explicit schema (no inference job over
100 TB of CSV).

Corruption semantics: ``from_csv`` flags rows whose quoting/structure
breaks, whose typed fields fail to parse, AND rows with the wrong
column count (short rows still salvage their leading fields PERMISSIVE-
style — the raw line rides along in ``_corrupt`` for quarantine
repair, the jsonl convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv_deadletter(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    sep: str = ",",
    header: bool = False,
) -> DataFrame:
    """Read delimiter-separated text with an explicit schema;
    unparseable lines land in ``_corrupt``.  ``header=True`` drops
    lines that EQUAL the schema's header row (per-file headers in a
    distributed text scan have no "first line" — matching the exact
    rendered header is the deterministic equivalent) AND that fail
    typed parsing — so a legitimate data row that happens to render
    identically to the header (possible only with an all-string
    schema, where it parses cleanly) is KEPT, upholding the module's
    no-silent-drop discipline (r11 advisor).  Caveats that remain by
    construction: with an all-string schema the real header line is
    indistinguishable from data and therefore also kept (filter it
    downstream if that matters), and a header rendered differently
    than ``sep.join(fieldNames)`` (quoted names, reordered columns,
    trailing spaces) is not recognized — it surfaces in ``_corrupt``
    rather than vanishing."""
    if "_corrupt" in schema.fieldNames():
        raise ValueError("schema must not declare _corrupt; it is added")
    raw = spark.read.text(path)
    # from_csv needs the corrupt column IN the parse schema
    parse_schema = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt", T.StringType())]
    )
    parsed = raw.select(
        "value",
        F.from_csv(
            "value",
            parse_schema.simpleString(),
            {
                "sep": sep,
                "mode": "PERMISSIVE",
                "columnNameOfCorruptRecord": "_corrupt",
            },
        ).alias("_s"),
    )
    if header:
        header_line = sep.join(schema.fieldNames())
        parsed = parsed.where(
            (F.col("value") != header_line) | F.col("_s._corrupt").isNull()
        )
    return parsed.select("_s.*")
