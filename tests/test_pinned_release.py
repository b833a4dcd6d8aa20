"""Nothing a query materializes outlives it. Every checkpoint goes
through ``ranks.pin`` / ``with_global_rank``, ``release_pinned`` frees
the checkpoint RDDs' blocks, and no module-level name keeps DataFrames
across queries, so a long single-session run does not accumulate
executor storage."""

from __future__ import annotations

import ast
import glob
import importlib.util
import os
import sys

import pytest

from rust_cdc_spark.operators import ranks
from rust_cdc_spark.queries import load_all
from tests.conftest import SF_SMOKE

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "rust_cdc_spark"
)

# builds its result through with_global_rank, which pins a checkpoint
PINNING_QUERY = "customer_revenue_gini"

# Queries that materialize intermediates: a global rank, loop-carried
# checkpoints (BFS, label model, connected components) and the
# cluster / IVF / PQ index builds.
PROBED = [
    "customer_revenue_gini",
    "host_graph_bfs_hops",
    "quality_label_model_vote",
    "dedup_clusters",
    "dedup_fuzzy_apply",
    "dedup_cluster_purity",
    "corpus_curation_pipeline",
    "similarity_ivf_topk",
    "similarity_pq_rerank_topk",
    "similarity_ivfpq_topk",
]


def _stored_rdd_ids(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


@pytest.mark.parametrize("name", PROBED)
def test_query_pins_are_released(spark, name):
    """The autouse fixture left nothing pinned by earlier tests; the
    query pins while its result is live, and none of its stored RDDs
    survive ``release_pinned``, which the sweeps and the autouse fixture
    run after each query."""
    assert ranks._PINNED == []
    before = _stored_rdd_ids(spark)
    df = load_all()[name].spark_fn(spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    assert ranks._PINNED
    ranks.release_pinned(blocking=True)
    assert ranks._PINNED == []
    assert _stored_rdd_ids(spark) - before == set()


def test_local_checkpoint_only_in_ranks():
    """``localCheckpoint(`` is called only inside ``operators/ranks.py``
    (``pin`` and ``with_global_rank``), so every checkpoint is in the
    ledger that ``release_pinned`` frees."""
    hits = [
        os.path.relpath(f, PKG)
        for f in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
        if "localCheckpoint(" in open(f).read()
    ]
    assert hits == [os.path.join("operators", "ranks.py")]


def test_no_module_level_frame_holders():
    """The only module-level containers that package functions write
    into are the pinned ledger and the query registry: no cross-query
    DataFrame or index cache."""
    written = set()
    for f in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        tree = ast.parse(open(f).read())
        containers = {
            t.id
            for n in tree.body
            if isinstance(n, (ast.Assign, ast.AnnAssign))
            and isinstance(n.value, (ast.Dict, ast.List, ast.Set, ast.Call))
            for t in (n.targets if isinstance(n, ast.Assign) else [n.target])
            if isinstance(t, ast.Name)
        }
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for n in ast.walk(fn):
                if (isinstance(n, ast.Subscript) and isinstance(n.ctx, ast.Store)
                        and isinstance(n.value, ast.Name)):
                    target = n.value.id
                elif (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                        and isinstance(n.func.value, ast.Name)
                        and n.func.attr in ("append", "add", "extend", "insert",
                                            "setdefault", "update")):
                    target = n.func.value.id
                else:
                    continue
                if target in containers:
                    written.add(f"{os.path.relpath(f, PKG)}:{target}")
    assert written == {
        os.path.join("operators", "ranks.py") + ":_PINNED",
        os.path.join("queries", "__init__.py") + ":REGISTRY",
    }


def test_check_correctness_releases_per_query(spark, monkeypatch):
    path = os.path.join(os.path.dirname(PKG), "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    monkeypatch.setattr(sys, "argv", ["check_correctness", SF_SMOKE, PINNING_QUERY])
    assert tool.main() == 0
    assert ranks._PINNED == []
