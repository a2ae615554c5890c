"""UDAF extension point (functions/udx.py)."""

import math

from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.functions.udx import gini_udaf
from aws_logs_to_parquet_converter_spark.plans.registry import t


def test_gini_udaf_matches_closed_form(spark):
    # group a: perfectly equal -> gini 0; group b: one holder -> (n-1)/n
    rows = [("a", 5.0)] * 4 + [("b", 0.0), ("b", 0.0), ("b", 0.0), ("b", 12.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {r.k: r.g for r in df.groupBy("k").agg(gini_udaf("v").alias("g")).collect()}
    assert math.isclose(got["a"], 0.0, abs_tol=1e-12)
    assert math.isclose(got["b"], 0.75, abs_tol=1e-12)


def test_gini_udaf_on_log_domain_shape(spark):
    """The real use: bytes-per-requester inequality over access logs —
    plans as an Arrow aggregation, values in [0, 1)."""
    e = t(spark, "/root/testdata/sf0.001", "events")  # nanos-ts-safe reader
    out = e.groupBy("event_type").agg(gini_udaf("value").alias("gini")).collect()
    assert out and all(0.0 <= r.gini < 1.0 for r in out)
