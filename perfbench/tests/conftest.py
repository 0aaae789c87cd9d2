import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

# The in-process tests run the workloads on the repository's small
# checked-in lake; the benchmark itself runs on perfbench/data/sf0.1.
SMALL_DATA = os.path.join(ROOT, "testdata", "sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ["TZ"] = "UTC"
    from jorvik_spark.session import get_session

    s = get_session("perfbench_tests")
    yield s
    s.stop()
