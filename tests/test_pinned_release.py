"""Pinned checkpoints are freed per query, both by the correctness sweep
and by the autouse fixture in ``conftest.py``, so a long single-session
run does not accumulate executor storage."""

from __future__ import annotations

import importlib.util
import os
import sys

from rust_cdc_spark.operators import ranks
from rust_cdc_spark.queries import load_all
from tests.conftest import SF_SMOKE

# builds its result through with_global_rank, which pins a checkpoint
PINNING_QUERY = "customer_revenue_gini"


def test_query_pins_are_released(spark):
    """The autouse fixture left nothing pinned by earlier tests; a query
    that pins leaves nothing behind once ``release_pinned`` runs, as it
    does after each test and each swept query."""
    assert ranks._PINNED == []
    load_all()[PINNING_QUERY].spark_fn(spark, SF_SMOKE).collect()
    assert ranks._PINNED
    ranks.release_pinned()
    assert ranks._PINNED == []


def test_check_correctness_releases_per_query(spark, monkeypatch):
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "check_correctness.py",
    )
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    monkeypatch.setattr(sys, "argv", ["check_correctness", SF_SMOKE, PINNING_QUERY])
    assert tool.main() == 0
    assert ranks._PINNED == []
