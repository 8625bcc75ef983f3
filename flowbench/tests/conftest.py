import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(BENCH.parent), str(BENCH)]


@pytest.fixture(scope="session")
def spark():
    from trial_submission_studio_spark import get_spark

    s = get_spark(app_name="flowbench-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()
