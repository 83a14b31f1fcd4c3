import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cis455crawler_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # the benchmark harness's heap (crawlbench/harness.py); test inputs are
    # KB- to MB-sized, so get_spark's 8g default only grows the JVM's RSS.
    # An explicit SPARK_DRIVER_MEMORY still wins.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    s = get_spark(cores=int(os.environ.get("SPARK_TEST_CPUS", "4")), app_name="tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
