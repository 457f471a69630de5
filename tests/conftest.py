import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sketch_spark import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # master defaults to local[$SPARK_GRAFT_CPUS], else local[nproc]
    s = get_spark("sketch-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
