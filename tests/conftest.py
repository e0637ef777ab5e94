from __future__ import annotations

import pytest

from tods_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # cores from $SPARK_GRAFT_CPUS (all CPUs when unset)
    s = get_spark(app_name="tods_spark_tests", shuffle_partitions=8)
    yield s
