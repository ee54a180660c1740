from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from elastic_surv_spark.session import get_spark

    spark = get_spark("elastic-surv-spark-tests")
    yield spark
    spark.stop()
