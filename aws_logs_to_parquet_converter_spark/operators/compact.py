"""Write discipline: compact many small inputs into few sorted Parquet files.

Mirrors the reference's "Hotfix: Sorting issue" layout
(oss_s3_server_side_logging_compacter.py:244-262):

  * ``repartition(n)`` — exactly-N output files per day partition
    (compaction of >1M KB-sized raw objects, slides p.20/p.33);
  * ``sortWithinPartitions(request_time)`` — rows time-ordered within
    each file so Parquet row-group min/max stats give time-range data
    skipping.  Deliberately NOT a global sort (no range-exchange);
  * snappy Parquet.

Divergence (upgrade): a real ``partitionBy('dt')`` partition column
instead of string-formatted destination paths (compacter.py:246-251),
plus dynamic partition overwrite so re-running a day is idempotent
(the reference gets this by overwriting one day's directory per job).

``write_sorted`` is the sort-and-write half on its own; the streaming
ingest appends each micro-batch through it after a narrow
``coalesce`` instead of ``compact``'s exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators.cache import release_checkpoint


def compact(
    df: DataFrame,
    dest: str,
    num_files: int = 10,
    sort_keys: tuple[str, ...] = ("request_time",),
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as ``dest/dt=YYYY-MM-DD/part-*.snappy.parquet``.

    ``num_files`` bounds files *per task wave*: each of the N tasks
    writes at most one file per dt it holds, so a single-day input
    yields exactly N files (reference ``--num-output-files`` contract,
    compacter.py:337-342).
    """
    write_sorted(df.repartition(num_files), dest, sort_keys, mode)


def write_sorted(
    df: DataFrame,
    dest: str,
    sort_keys: tuple[str, ...] = ("request_time",),
    mode: str = "overwrite",
) -> None:
    """The write half of ``compact``, for callers that size the tasks
    themselves: each task of ``df`` writes one snappy file per ``dt`` it
    holds, rows sorted by (``dt``, ``sort_keys``)."""
    # Replace only the partitions present in df (idempotent day
    # re-run).  Writer-scoped option, NOT spark.conf.set: a session-
    # level set would leak dynamic-overwrite semantics into every
    # later write in the session — an unrelated full-table overwrite
    # would then silently keep stale partitions (round-7 review
    # finding).
    # Sort by (dt, sort keys): the dynamic-partition writer requires a
    # task-local sort on the partition column; providing it ourselves
    # (prefixed) keeps rows time-ordered within each file — otherwise
    # the writer's own sort on dt alone would scramble them.
    (
        df.sortWithinPartitions("dt", *sort_keys)
        .write.option("compression", "snappy")
        .option("partitionOverwriteMode", "dynamic")
        .mode(mode)
        .partitionBy("dt")
        .parquet(dest)
    )


def recompact_partition(
    spark,
    dest: str,
    dt: str,
    num_files: int = 10,
) -> int:
    """Maintenance: rewrite ONE day partition into ``num_files`` sorted
    files (streaming appends and late-data re-runs accrete small files;
    this is the background merge the reference achieves by re-running a
    whole day).  Returns the rewritten row count.  Only the target
    dt directory is read or replaced — partition pruning in, dynamic
    overwrite out."""
    # materialize before writing: the destination partition is both the
    # source and the overwrite target (localCheckpoint breaks the
    # read-your-writes dependency without a driver collect)
    part = spark.read.parquet(dest).where(F.col("dt") == dt).localCheckpoint(eager=True)
    try:
        n = part.count()
        if n:
            compact(part, dest, num_files=num_files)
    finally:
        release_checkpoint(part)  # the day's copy is garbage once written
    return n


def _dt_partitions(spark, dest: str):
    """Yield ``(fs, dt, path)`` for each ``dt=`` directory directly
    under ``dest``; nothing when ``dest`` does not exist.  Listing runs
    through Spark's Hadoop FileSystem API (driver-side metadata only, no
    data read), so it works on any supported filesystem — local, HDFS,
    s3a — exactly like the write path."""
    root = spark._jvm.org.apache.hadoop.fs.Path(dest)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("dt="):
            yield fs, name[len("dt="):], st.getPath()


def find_fragmented_partitions(
    spark,
    dest: str,
    max_files: int = 10,
    min_file_bytes: int = 16 * 1024 * 1024,
) -> list[dict]:
    """Discovery half of partition maintenance: which ``dt=`` partitions
    have accreted too many (or too small) files and deserve a
    ``recompact_partition`` pass.  Returns
    ``[{"dt", "n_files", "total_bytes", "avg_bytes"}, ...]`` for every
    partition exceeding ``max_files`` OR averaging under
    ``min_file_bytes`` (both symptoms of streaming append drift).
    Metadata only (``_dt_partitions``)."""
    out = []
    for fs, dt, part in _dt_partitions(spark, dest):
        files = [
            f
            for f in fs.listStatus(part)
            if f.isFile() and f.getPath().getName().endswith(".parquet")
        ]
        if not files:
            continue
        n = len(files)
        total = sum(f.getLen() for f in files)
        # a single-file partition cannot be made less fragmented —
        # flagging it for small average would re-flag (and re-rewrite)
        # a genuinely small day on every maintain pass, forever
        if n > max_files or (n > 1 and total / n < min_file_bytes):
            out.append(
                {
                    "dt": dt,
                    "n_files": n,
                    "total_bytes": total,
                    "avg_bytes": total // n,
                }
            )
    return sorted(out, key=lambda d: d["dt"])


def expire_partitions(
    spark,
    dest: str,
    before_dt: str,
    dry_run: bool = False,
) -> list[str]:
    """Retention half of partition maintenance: drop every ``dt=``
    partition strictly OLDER than ``before_dt`` (lexicographic compare
    — ``dt`` is zero-padded ISO by the write path's contract, so
    string order IS date order).  Returns the affected dt values;
    ``dry_run=True`` lists without deleting (the ``maintain``
    convention).  Metadata-only via the Hadoop FileSystem API, same as
    the fragmentation scanner; catalog partitions are dropped by the
    caller's MSCK/ALTER pass (``sources/catalog.py``) where a table
    exists.

    The cutoff must look like a ``dt`` value (``YYYY-MM-DD``): a typo
    like '2024-1-5' would silently compare wrong lexicographically, so
    malformed cutoffs raise.  Partition dirs whose dt value fails the
    same gate are SKIPPED (never deleted, never reported expired) —
    foreign layouts are not this operator's to destroy."""
    import re

    if not re.fullmatch(r"\d{4}-\d{2}-\d{2}", before_dt):
        raise ValueError(
            f"expire_partitions: before_dt must be YYYY-MM-DD, got {before_dt!r}"
        )
    expired = []
    for fs, dt, part in _dt_partitions(spark, dest):
        # the same YYYY-MM-DD gate as the cutoff: a nonconforming dir
        # (dt=2024-1-5, dt=20240105) compares lexicographically wrong
        # and could be wrongly deleted — skip it, never delete it
        # (r11 advisor; delete is recursive and destructive)
        if not re.fullmatch(r"\d{4}-\d{2}-\d{2}", dt):
            continue
        if dt < before_dt:
            expired.append(dt)
            if not dry_run:
                fs.delete(part, True)
    return sorted(expired)
