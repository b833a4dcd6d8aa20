"""``host_graph_bfs_hops``: the single-plan min-hop relaxation against a
pure-Python breadth-first search on small graphs, including one deeper
than the hop cap."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest

from rust_cdc_spark.queries import load_all
from rust_cdc_spark.queries.curation import _BFS_MAX_HOP, bfs_hop_histogram
from tests.conftest import SF_SMOKE


def _reference(edges):
    und = {(min(s, d), max(s, d)) for s, d in edges if s != d}
    if not und:
        return {}
    adj = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    src = min(a for a, _ in und)
    dist, frontier = {src: 0}, {src}
    for hop in range(1, _BFS_MAX_HOP + 1):
        frontier = {t for h in frontier for t in adj[h] if t not in dist}
        dist.update((t, hop) for t in frontier)
    return dict(Counter(dist.values()))


@pytest.mark.parametrize(
    "edges",
    [
        pytest.param([], id="empty"),
        pytest.param([(3, 5)], id="single-edge"),
        pytest.param([(i, i + 1) for i in range(10)], id="chain-10"),
        pytest.param(
            [(0, 1), (1, 2), (10, 11), (11, 12), (12, 10)], id="two-components"
        ),
        pytest.param(
            [(i, (i + 1) % 12) for i in range(12)] + [(4, 4), (1, 0)],
            id="ring-self-loop-reversed",
        ),
    ],
)
def test_histogram_matches_python_bfs(spark, edges):
    raw = spark.createDataFrame(edges, "src long, dst long")
    got = {r.hop: r.n_hosts for r in bfs_hop_histogram(raw).collect()}
    assert got == _reference(edges)


def test_build_runs_only_the_checkpoint(spark):
    """Building the query plan runs the ``und`` checkpoint and nothing
    per hop (the frontier loop it replaced ran ~50 jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup("bfs-build", "bfs-build")
    try:
        load_all()["host_graph_bfs_hops"].spark_fn(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("bfs-build")) <= 3
