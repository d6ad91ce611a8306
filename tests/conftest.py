import sys
from pathlib import Path

import pytest

# this checkout's root, so a run from any copy of the repo tests that copy
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from llmxmapreduce_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


SF_SMOKE = "/root/testdata/sf0.001"
