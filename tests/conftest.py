import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from aws_logs_to_parquet_converter_spark.session import get_spark

    spark = get_spark(
        app_name="tests",
        extra_conf={
            "spark.ui.enabled": "false",
            # keep catalog tables (bucketing tests) out of the repo tree
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-wh-"),
        },
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def registry_plans():
    """(sf_dir, registry name) -> explain_str(df, "simple") of the freshly
    built plan.  test_oracle_parity fills it as it builds each entry; the
    plan sweep in test_plans builds only the entries missing here, so a
    full run builds each registry plan once."""
    return {}
