from __future__ import annotations

import pytest

from shacl_validator_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="shacl_validator_spark_tests", master="local[4]",
                  shuffle_partitions=4)
    yield s


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "oracle_coverage: oracle-checks queries unsampled by the driver's "
        "latest CORRECTNESS file (tools/check_oracles.py at sf0.01)",
    )
