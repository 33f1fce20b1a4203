import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the benchmark's modules
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # the engine

from pocket_etl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    s = get_spark("perfbench_tests", cores=2, shuffle_partitions=2)
    yield s
    s.stop()
