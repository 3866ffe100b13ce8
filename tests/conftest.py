import os

import pytest

from aws_csp_datapipeline_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    # Small local session for test speed; prod tuning lives in get_spark.
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark(app_name="tests")
    yield s


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE
