import os

import pytest

from fabrix_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # master from $FABRIX_MASTER / $SPARK_GRAFT_CPUS, as everywhere else
    s = get_spark("fabrix_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
