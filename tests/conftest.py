from __future__ import annotations

import os
import sys

import pytest

# the tree this conftest belongs to, ahead of any installed or other copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from usearch_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s
