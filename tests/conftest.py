from __future__ import annotations

import os
import uuid

import pytest

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; return (its result, the
    number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from clickhouse_datafusion_spark.session import get_spark

    s = get_spark(app_name="tests")
    yield s


@pytest.fixture(scope="session")
def engine(spark):
    from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine

    eng = ClickHouseSparkEngine(spark)
    eng.catalog.register_parquet_dir(SF_SMOKE, db="main")
    return eng


@pytest.fixture(scope="session")
def views(spark):
    """Bare-name temp views over the smoke-scale testdata."""
    from clickhouse_datafusion_spark.catalog import register_testdata_views

    register_testdata_views(spark, SF_SMOKE)
    return spark
