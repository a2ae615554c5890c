"""Data-quality validation operator tests."""

import pytest
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators import validate


@pytest.fixture(scope="module")
def table(spark):
    rows = [
        (1, 10, "a", "2019-01-01", "2019-01-03"),
        (2, -5, "b", "2019-01-02", "2019-01-01"),   # neg qty + dates inverted
        (3, 20, None, "2019-01-05", "2019-01-06"),  # null category
        (4, 999, "c", "2019-01-01", "2019-01-01"),  # qty over cap
    ]
    return spark.createDataFrame(rows, "id long, qty long, cat string, ship string, receipt string")


def _rules():
    # built lazily: Column construction needs an active SparkContext
    return {
        "qty_positive": F.col("qty") > 0,
        "qty_capped": F.col("qty") <= 100,
        "cat_present": F.col("cat").isNotNull(),
        "dates_ordered": F.col("ship") <= F.col("receipt"),
    }


def test_validation_report_counts(spark, table):
    rep = {r.rule: r for r in validate.validation_report(table, _rules()).collect()}
    assert set(rep) == set(_rules())
    assert all(r.n_rows == 4 for r in rep.values())
    assert rep["qty_positive"].n_violations == 1
    assert rep["qty_capped"].n_violations == 1
    assert rep["cat_present"].n_violations == 1
    assert rep["dates_ordered"].n_violations == 1
    assert rep["qty_positive"].violation_rate == 0.25


def test_null_rule_result_is_violation(spark):
    df = spark.createDataFrame([(1, None)], "id long, v long")
    rep = validate.validation_report(df, {"v_pos": F.col("v") > 0}).collect()[0]
    assert rep.n_violations == 1  # NULL comparison did not pass

    with pytest.raises(ValueError):
        validate.validation_report(df, {})


def test_rule_names_are_display_strings_not_identifiers(spark, table):
    """Rule names containing identifier-hostile characters (dots,
    backticks, spaces) are legal: intermediate aliases are positional,
    so nothing re-parses the name as a column reference."""
    rules = {
        "qty.positive": F.col("qty") > 0,
        "cat `present` ok": F.col("cat").isNotNull(),
    }
    rep = {r.rule: r.n_violations for r in validate.validation_report(table, rules).collect()}
    assert rep == {"qty.positive": 1, "cat `present` ok": 1}
