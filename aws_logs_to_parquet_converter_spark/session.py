"""SparkSession construction with a 100TB-minded default config.

The reference hand-tunes a handful of session confs
(oss_s3_server_side_logging_compacter.py:184-208: speculation off for
committer-v2 safety, INT64-millis parquet timestamps for Presto
compat).  We keep those, pin UTC, and turn on the modern scale knobs:
AQE (runtime re-planning, skew-join splitting, partition coalescing)
and parquet pushdown.  Everything is a plain conf so a real cluster
deploy can override per-job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are *semantic* (affect results) — always applied, and
# re-assertable at runtime on a foreign session via `ensure_semantics`.
SEMANTIC_CONF = {
    # All reference data is UTC (S3 logs are always +0000); DuckDB and
    # parquet naive timestamps agree only under UTC.
    "spark.sql.session.timeZone": "UTC",
    # Reference stores INT64-millis timestamps for Presto compat
    # (compacter.py:193-194).  Modern conf name:
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MILLIS",
}

# Confs that are *performance* — defaults sized for local[32] test runs
# but expressed the way a 1000-executor deploy would set them.
PERF_CONF = {
    # AQE: runtime shuffle-partition coalescing, skew-join splitting,
    # broadcast-join demotion/promotion from real stats.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE size the partitioning of CACHED plans too (default false).
    # Several operators persist a bounded intermediate (minhash
    # signatures, bloom bitmap, semantic-dedup cell assignments); with
    # the default, the cache materializes at the RAW pre-AQE shuffle
    # fan-out and every downstream stage over the cache pays that task
    # count forever — 32 near-empty cached partitions at bench scale,
    # and on a cluster whatever spark.sql.shuffle.partitions was, even
    # when the cached relation is KB-sized.  With it on, the cache gets
    # the same advisory-size coalescing every other exchange gets —
    # scale-adaptive by construction (r15 opt: headline cache-bearing
    # queries measured 1.2-1.6x faster, task counts 258→~40).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Pre-AQE shuffle fan-out; AQE coalesces down from here.  On a real
    # cluster this would be ~2-3x total cores.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # Split large files into ~128MB tasks (default, made explicit).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Columnar scan + pushdown (defaults, made explicit because the
    # whole engine depends on them).
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Arrow for any pandas_udf path (similarity / multimodal).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # JVM-wide cache of compiled codegen classes (static: build time
    # only).  One pass of exact / MinHash / semantic / BM25 dedup uses
    # 136 distinct generated classes; the default cache holds 100, and
    # an LRU read in a cycle longer than itself never hits, so every
    # call recompiled its whole class set (~1.2 s of Janino per pass).
    # At 1000 a repeat call runs already-compiled, JIT-warm code; plans,
    # jobs and shuffles are unchanged.  Each executor JVM keeps its own.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Committer-v2 era safety kept from the reference (compacter.py:189-192).
    "spark.speculation": "false",
    # local-mode JVM heap (the 1g default starves 32 concurrent task
    # threads); on a real cluster this is the deploy's executor memory.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
}


def get_spark(
    app_name: str = "aws_logs_to_parquet_converter_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    all cores) so bench/test runs saturate the box; on a cluster pass
    ``master=None`` with an external spark-submit master.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    for k, v in {**SEMANTIC_CONF, **PERF_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_semantics(spark)
    return spark


def s3a_hadoop_conf(
    access_key: str | None = None,
    secret_key: str | None = None,
    session_token: str | None = None,
    endpoint: str | None = None,
    region: str | None = None,
    committer: str = "magic",
) -> dict[str, str]:
    """Hadoop configuration for reading/writing s3a:// paths, mirroring
    the reference's session setup (oss_s3_server_side_logging_compacter
    .py:197-208: fileoutputcommitter v2 + fs.s3a access/secret keys)
    with the modern replacements:

      * explicit keys configure the SimpleAWSCredentialsProvider chain
        exactly like the reference; with NO keys the default provider
        chain is used (instance profile / env / web identity) — the
        right posture on EMR/EKS where embedding keys in confs leaks
        them into logs and UIs;
      * ``committer='magic'`` selects the S3A magic committer — the
        v2 file-output-committer the reference pinned is not safe on
        S3's non-atomic rename; magic commits via multipart upload
        completion and needs no rename at all.  Pass ``committer='v2'``
        to reproduce the reference's literal behavior on HDFS-backed
        stores.

    Pure construction — no boto3, no network; apply with
    ``apply_s3a_conf``.  Unit-testable without S3 (test_session_s3a).
    """
    conf: dict[str, str] = {}
    if committer == "magic":
        conf["fs.s3a.committer.magic.enabled"] = "true"
        conf["fs.s3a.committer.name"] = "magic"
        conf[
            "spark.sql.sources.commitProtocolClass"
        ] = "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        conf[
            "spark.sql.parquet.output.committer.class"
        ] = "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
    elif committer == "v2":
        conf["mapreduce.fileoutputcommitter.algorithm.version"] = "2"
    else:
        raise ValueError(f"unknown committer: {committer!r}")
    if access_key and secret_key:
        conf["fs.s3a.access.key"] = access_key
        conf["fs.s3a.secret.key"] = secret_key
        if session_token:
            conf["fs.s3a.session.token"] = session_token
            conf[
                "fs.s3a.aws.credentials.provider"
            ] = "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider"
        else:
            conf[
                "fs.s3a.aws.credentials.provider"
            ] = "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
    if endpoint:
        conf["fs.s3a.endpoint"] = endpoint
    if region:
        conf["fs.s3a.endpoint.region"] = region
    return conf


def apply_s3a_conf(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """Apply an ``s3a_hadoop_conf`` dict to a live session: hadoop keys
    go to the JVM hadoopConfiguration (reference's _jsc pattern), spark
    keys through spark.conf."""
    hc = spark._jsc.hadoopConfiguration()  # noqa: SLF001 — same seam the reference uses
    for k, v in conf.items():
        if k.startswith("spark."):
            try:
                spark.conf.set(k, v)
            except Exception:
                pass  # static conf on a running session; set at build time instead
        else:
            hc.set(k, v)
    return spark


def ensure_semantics(spark: SparkSession) -> SparkSession:
    """Assert semantic confs on an externally-built session.

    Query builders call this so results are correct even when the
    harness hands us a session we didn't configure (only
    runtime-settable SQL confs are touched).
    """
    for k, v in SEMANTIC_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — accept session default
    return spark
