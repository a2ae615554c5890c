"""The driver's t2 gate in pytest form: every registered query with an
oracle must hash-match DuckDB at the test scale factor (SURVEY §5.2)."""

import os

import pytest

from aws_logs_to_parquet_converter_spark.plans import REGISTRY
from aws_logs_to_parquet_converter_spark.testing import compare_frame, duckdb_connection
from tests.test_plans import explain_str

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck():
    con = duckdb_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_parity(spark, duck, registry_plans, name):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    sdf = REGISTRY[name].builder(spark, SF_DIR)
    # captured before the collect, so it is the plan a fresh build shows
    registry_plans[(SF_DIR, name)] = explain_str(sdf, "simple")
    status, detail = compare_frame(duck, name, sdf)
    # the whole-query harness rule of operators/cache.py: a finished
    # entry's caches go with clearCache; only local checkpoints, which
    # no cache call can release, may outlive it
    spark.catalog.clearCache()
    left = jsc.getPersistentRDDs()
    cached = [
        k for k in left
        if k not in before and not left[k].rdd().isLocallyCheckpointed()
    ]
    assert status != "fail", detail
    if REGISTRY[name].oracle is not None:
        assert status == "ok"
    assert not cached, f"{name} left cached RDDs {cached} after clearCache"


def test_no_oracle_emits_wide_integer_types():
    """No oracle's FINAL projection may emit HUGEINT/DECIMAL: DuckDB's
    SUM(BIGINT) returns int128, which serializes differently from
    Spark's int64 through arrow/pandas fetch paths — the r9/r10
    q_stream_profile driver-red root cause (its total_bytes was the
    registry's only uncast integer SUM; fetchall-based comparisons
    hide the leak because Python ints compare equal).  The registry
    convention is an outer CAST(... AS BIGINT) on every integer
    aggregate in the final SELECT."""
    duck = duckdb_connection(os.environ.get("SPARK_GRAFT_TEST_SF_DIR",
                                            "/root/testdata/sf0.001"))
    leaks = {}
    for name, q in REGISTRY.items():
        if q.oracle is None:
            continue
        types = {c: t for c, t, *_ in duck.sql(f"DESCRIBE {q.oracle}").fetchall()}
        wide = {c: t for c, t in types.items()
                if t in ("HUGEINT", "INT128", "UHUGEINT") or t.startswith("DECIMAL")}
        if wide:
            leaks[name] = wide
    assert not leaks, leaks
