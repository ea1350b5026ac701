import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.1"


@pytest.fixture(scope="session")
def spark():
    from hope_graph_builder_spark.session import get_spark

    s = get_spark(app="tests", cpus=8)
    yield s
