import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import pytest  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    """A small local session (the package's own factory and defaults)."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from solarboat_data_pipeline_spark import get_spark

    s = get_spark(app_name="perfbench-tests")
    yield s
    s.stop()
