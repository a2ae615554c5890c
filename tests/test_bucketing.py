"""Bucketed-join tests: the join of two tables bucketed on the join key
must plan WITHOUT a shuffle exchange, and results must match the
unbucketed join."""

import pytest
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators.bucketing import (
    attach_bucketed,
    write_bucketed_external,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    """orders_b / lineitem_b through the path q_bucket_join uses:
    bucketed files at an explicit location, then attached by DDL."""
    wh = tmp_path_factory.mktemp("bucketed")
    o = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_orderstatus")
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    write_bucketed_external(o, str(wh / "o"), "o_orderkey", 8, "o_orderkey")
    write_bucketed_external(li, str(wh / "l"), "l_orderkey", 8, "l_orderkey")
    attach_bucketed(
        spark, "orders_b", "o_orderkey BIGINT, o_orderstatus STRING",
        str(wh / "o"), "o_orderkey", 8, "o_orderkey",
    )
    attach_bucketed(
        spark, "lineitem_b", "l_orderkey BIGINT, l_quantity DOUBLE",
        str(wh / "l"), "l_orderkey", 8, "l_orderkey",
    )
    yield
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def _explain(df):
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    return df._jdf.queryExecution().explainString(jmode)


def test_bucketed_join_has_no_shuffle(spark, bucketed):
    # disable broadcast so the join-strategy choice is SMJ (tiny test
    # tables would otherwise broadcast; at real scale both sides are
    # facts and SMJ is what the bucketing pays for)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        j = (
            spark.table("lineitem_b")
            .join(spark.table("orders_b"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        plan = _explain(j)
        assert "SortMergeJoin" in plan
        # the join inputs must come straight from the bucketed scans —
        # no Exchange between scan and join
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "SelectedBucketsCount" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe)


def test_bucketed_join_matches_unbucketed(spark, bucketed):
    b = (
        spark.table("lineitem_b")
        .join(spark.table("orders_b"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )
    o = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    u = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )
    assert sorted(map(tuple, b.collect())) == sorted(map(tuple, u.collect()))


def test_external_write_attach_roundtrip_no_shuffle(spark, tmp_path):
    """The cross-session half: write bucketed files to an explicit
    path, drop every catalog trace, re-attach by DDL — the join must
    still plan SMJ with no Exchange, and rows must survive exactly."""
    from aws_logs_to_parquet_converter_spark.operators.bucketing import (
        attach_bucketed,
        write_bucketed_external,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_orderstatus")
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    write_bucketed_external(o, str(tmp_path / "o"), "o_orderkey", 4, "o_orderkey")
    write_bucketed_external(li, str(tmp_path / "l"), "l_orderkey", 4, "l_orderkey")
    # no staging table may survive the write
    assert not [t for t in spark.catalog.listTables() if t.name.startswith("_bkt_stage_")]
    attach_bucketed(
        spark, "ext_o", "o_orderkey BIGINT, o_orderstatus STRING",
        str(tmp_path / "o"), "o_orderkey", 4, "o_orderkey",
    )
    attach_bucketed(
        spark, "ext_l", "l_orderkey BIGINT, l_quantity DOUBLE",
        str(tmp_path / "l"), "l_orderkey", 4, "l_orderkey",
    )
    # attach is idempotent
    attach_bucketed(
        spark, "ext_o", "o_orderkey BIGINT, o_orderstatus STRING",
        str(tmp_path / "o"), "o_orderkey", 4, "o_orderkey",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        j = (
            spark.table("ext_l")
            .join(spark.table("ext_o"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        plan = _explain(j)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        got = {(r["o_orderstatus"], r["n"]) for r in j.collect()}
        want = {
            (r["o_orderstatus"], r["n"])
            for r in li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe)
        spark.sql("DROP TABLE IF EXISTS ext_o")
        spark.sql("DROP TABLE IF EXISTS ext_l")


def test_attach_bucketed_mismatch_raises(spark, tmp_path):
    """r13 advisory: re-attaching over an existing table with a
    different location/bucket spec must raise, not silently reuse the
    stale catalog entry (which would read wrong buckets)."""
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.bucketing import (
        attach_bucketed,
        write_bucketed_external,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey").limit(10)
    write_bucketed_external(o, str(tmp_path / "a"), "o_orderkey", 4)
    write_bucketed_external(o, str(tmp_path / "b"), "o_orderkey", 4)
    try:
        attach_bucketed(
            spark, "ext_mm", "o_orderkey BIGINT",
            str(tmp_path / "a"), "o_orderkey", 4,
        )
        with pytest.raises(ValueError, match="different spec"):
            attach_bucketed(  # different path
                spark, "ext_mm", "o_orderkey BIGINT",
                str(tmp_path / "b"), "o_orderkey", 4,
            )
        with pytest.raises(ValueError, match="different spec"):
            attach_bucketed(  # different bucket count
                spark, "ext_mm", "o_orderkey BIGINT",
                str(tmp_path / "a"), "o_orderkey", 8,
            )
        # identical spec stays idempotent
        attach_bucketed(
            spark, "ext_mm", "o_orderkey BIGINT",
            str(tmp_path / "a"), "o_orderkey", 4,
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS ext_mm")


def test_attach_bucketed_schema_and_sort_mismatch_raise(spark, tmp_path):
    """r14 review: the guard must also catch schema and SORTED BY
    drift, not just location/bucket-count."""
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.bucketing import (
        attach_bucketed,
        write_bucketed_external,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_orderstatus"
    ).limit(10)
    write_bucketed_external(o, str(tmp_path / "s"), "o_orderkey", 4, "o_orderkey")
    ddl = "o_orderkey BIGINT, o_orderstatus STRING"
    try:
        attach_bucketed(
            spark, "ext_sm", ddl, str(tmp_path / "s"), "o_orderkey", 4, "o_orderkey"
        )
        with pytest.raises(ValueError, match="different spec"):
            attach_bucketed(  # schema drift: type changed
                spark, "ext_sm", "o_orderkey BIGINT, o_orderstatus BIGINT",
                str(tmp_path / "s"), "o_orderkey", 4, "o_orderkey",
            )
        with pytest.raises(ValueError, match="different spec"):
            attach_bucketed(  # sort spec dropped
                spark, "ext_sm", ddl, str(tmp_path / "s"), "o_orderkey", 4
            )
        # identical spec (incl. sort) stays idempotent
        attach_bucketed(
            spark, "ext_sm", ddl, str(tmp_path / "s"), "o_orderkey", 4, "o_orderkey"
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS ext_sm")


def test_attach_bucketed_parameterized_types_idempotent(spark, tmp_path):
    """r15 advisory: a comma inside a parameterized type
    (decimal(10,2), map<string,int>) must not break the idempotency
    check — an identical re-attach of such a table is legitimate."""
    import pytest
    from pyspark.sql import functions as F

    from aws_logs_to_parquet_converter_spark.operators.bucketing import (
        attach_bucketed,
        write_bucketed_external,
    )

    o = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select(
            "o_orderkey",
            F.col("o_totalprice").cast("decimal(10,2)").alias("price"),
            F.create_map(F.lit("s"), F.col("o_custkey").cast("int")).alias("m"),
        )
        .limit(10)
    )
    write_bucketed_external(o, str(tmp_path / "p"), "o_orderkey", 4)
    ddl = "o_orderkey BIGINT, price DECIMAL(10,2), m MAP<STRING,INT>"
    try:
        attach_bucketed(spark, "ext_pt", ddl, str(tmp_path / "p"), "o_orderkey", 4)
        # identical re-attach must be a no-op, not a spurious mismatch
        attach_bucketed(spark, "ext_pt", ddl, str(tmp_path / "p"), "o_orderkey", 4)
        with pytest.raises(ValueError, match="different spec"):
            attach_bucketed(  # genuinely different decimal scale
                spark, "ext_pt",
                "o_orderkey BIGINT, price DECIMAL(10,3), m MAP<STRING,INT>",
                str(tmp_path / "p"), "o_orderkey", 4,
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS ext_pt")
