import os

import pytest

from osm_wikipedia_tag_validator_spark.session import get_spark

# The session's default max heap (32g) is sized for full-scale runs. Under
# it the suite's JVM grew past 15 GB and was OOM-killed on a 16 GB host; the
# suite's small inputs fit a bounded heap.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=8, shuffle_partitions=8, app_name="tests")
    yield s
