"""Bucketed tables: pre-shuffled storage for co-located joins/aggs.

The 100 TB lever SURVEY §4 calls out ("bucketing for co-located
joins"): pay the shuffle ONCE at write time — ``bucketBy(n, key)``
hash-partitions files on disk — and every subsequent equi-join or
aggregation on that key runs shuffle-free (SortMergeJoin with no
Exchange).  For a fact table joined daily against another fact on the
same key (orders x lineitem, access-logs x object-inventory), this
converts the dominant per-query cost into a one-time ingest cost.

Bucketed layout requires the session catalog (`saveAsTable`) — bucket
metadata lives in the metastore, not the parquet files — so
``write_bucketed_external`` writes through a throwaway catalog name and
``attach_bucketed`` re-declares the bucket spec over the files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_bucketed_external(
    df: DataFrame,
    path: str,
    bucket_key: str | list[str],
    num_buckets: int = 32,
    sort_key: str | list[str] | None = None,
) -> None:
    """Bucketed write to an EXPLICIT path (external table files): Spark
    only writes bucketed layout through ``saveAsTable``, so this
    registers a throwaway catalog name for the write and drops it
    immediately — the files (with bucket ids encoded in their names)
    survive, ready for :func:`attach_bucketed` in any later session."""
    import uuid

    spark = df.sparkSession
    tmp = f"_bkt_stage_{uuid.uuid4().hex[:12]}"
    keys = [bucket_key] if isinstance(bucket_key, str) else list(bucket_key)
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *keys)
    if sort_key:
        sk = [sort_key] if isinstance(sort_key, str) else list(sort_key)
        writer = writer.sortBy(*sk)
    try:
        writer.format("parquet").option("path", path).saveAsTable(tmp)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")


def attach_bucketed(
    spark: SparkSession,
    table: str,
    schema_ddl: str,
    path: str,
    bucket_key: str | list[str],
    num_buckets: int,
    sort_key: str | list[str] | None = None,
) -> None:
    """(Re-)register an external bucketed table over files previously
    written by :func:`write_bucketed_external` — the cross-session half
    of the bucketing lifecycle (the in-memory catalog forgets bucket
    specs when the session ends; the files don't).  ``schema_ddl`` is
    the column list, e.g. ``"k BIGINT, v STRING"``; the declared
    CLUSTERED BY spec must match how the files were written or
    bucket-pruned joins would read wrong buckets — Spark trusts the
    DDL, so the caller owns that contract (exactly as with Hive).

    Idempotent ONLY against an identical prior attach: if ``table``
    already exists, its location, bucket columns, and bucket count are
    compared to the arguments and a mismatch raises (r13 advisory — a
    stale or colliding catalog entry must not be silently reused; it
    would read wrong buckets with no error)."""
    keys = [bucket_key] if isinstance(bucket_key, str) else list(bucket_key)
    sks = (
        ([sort_key] if isinstance(sort_key, str) else list(sort_key))
        if sort_key
        else []
    )
    if spark.catalog.tableExists(table):
        rows = spark.sql(f"DESCRIBE FORMATTED {table}").collect()
        desc = {
            r["col_name"].strip(): (r["data_type"] or "").strip() for r in rows
        }
        # the leading rows (before the first '# ' section marker) are the
        # declared columns — a stale entry with the same layout but a
        # different schema would silently read wrong types
        declared = []
        for r in rows:
            name = (r["col_name"] or "").strip()
            if name.startswith("#") or not name:
                break
            declared.append((name.lower(), (r["data_type"] or "").strip().lower()))

        def _norm_path(p: str) -> str:
            return p.removeprefix("file:").rstrip("/")

        # parse the DDL properly rather than splitting on "," — a naive
        # split mangles parameterized types (decimal(10,2), map<string,int>)
        # and raised a spurious mismatch on a legitimate identical
        # re-attach (r15 advisory).  simpleString() matches DESCRIBE's
        # data_type rendering (bigint, decimal(10,2), map<string,int>).
        requested_schema = [
            (f.name.lower(), f.dataType.simpleString().lower())
            for f in T.StructType.fromDDL(schema_ddl).fields
        ]
        existing = {
            "location": _norm_path(desc.get("Location", "")),
            "num_buckets": desc.get("Num Buckets", ""),
            "bucket_cols": desc.get("Bucket Columns", ""),
            "sort_cols": desc.get("Sort Columns", "[]"),
            "schema": declared,
        }
        requested = {
            "location": _norm_path(path),
            "num_buckets": str(num_buckets),
            "bucket_cols": "[" + ", ".join(f"`{k}`" for k in keys) + "]",
            "sort_cols": "[" + ", ".join(f"`{k}`" for k in sks) + "]",
            "schema": requested_schema,
        }
        if existing != requested:
            raise ValueError(
                f"attach_bucketed: table {table!r} already exists with a "
                f"different spec — existing {existing} vs requested "
                f"{requested}; drop it or use a different name"
            )
        return
    sort = ""
    if sort_key:
        sk = [sort_key] if isinstance(sort_key, str) else list(sort_key)
        sort = f" SORTED BY ({', '.join(sk)})"
    spark.sql(
        f"CREATE TABLE {table} ({schema_ddl}) USING PARQUET "
        f"CLUSTERED BY ({', '.join(keys)}){sort} INTO {num_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )
