"""Catalog surface: external-table DDL + partition registration.

Mirrors the reference's Athena-side setup (SURVEY §2.1 S8/S9):
``example_queries/create_table.sql`` (external Parquet table with a
``dt`` string partition), ``load_all_partitions.sql`` (MSCK REPAIR) and
``load_partition.sql`` (ALTER TABLE ADD PARTITION).  All three
statements are native Spark SQL (the last runs verbatim, see
tests/test_cli_catalog.py); the helper's one improvement is
auto-repair — a location-based partitioned table silently reads zero
rows until its partitions are registered, which the reference handles
with a separate manual step.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from aws_logs_to_parquet_converter_spark.schema import S3_ACCESS_LOG_SCHEMA


def create_access_log_table(
    spark: SparkSession,
    name: str,
    location: str,
    repair: bool = True,
) -> None:
    """CREATE (if absent) the 19-column access-log table over an
    existing Parquet ``location``, partitioned by ``dt``, and register
    its partitions (create_table.sql:13-42 + load_all_partitions.sql:6
    in one call)."""
    cols = ",\n      ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in S3_ACCESS_LOG_SCHEMA.fields
    )
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS `{name}` (
          {cols},
          `dt` string
        )
        USING PARQUET
        PARTITIONED BY (dt)
        LOCATION '{location}'
        """
    )
    if repair:
        repair_table(spark, name)


def repair_table(spark: SparkSession, name: str) -> None:
    """MSCK REPAIR TABLE — discover and register every dt= directory
    (load_all_partitions.sql:6)."""
    spark.sql(f"MSCK REPAIR TABLE `{name}`")
