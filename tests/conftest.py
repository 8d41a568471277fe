import os

import pytest

from dmds_spark.session import get_spark

SF_DIR_SMALL = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running streaming test (still part of the default run)"
    )


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="dmds_spark_tests", shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "8g"})
    yield s
