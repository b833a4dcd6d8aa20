from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rust_cdc_spark.operators import ranks
from rust_cdc_spark.session import get_spark

SF_SMOKE = os.environ.get("RCS_TEST_SF", "/root/testdata/sf0.001")
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rust_cdc_spark_tests", cpus=8)
    yield s


@pytest.fixture(autouse=True)
def _release_pinned_after_test():
    """Free the checkpoints a test pinned, as the correctness sweep does
    after each query."""
    yield
    ranks.release_pinned()
