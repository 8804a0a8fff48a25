"""Edge-side layout guard for the scalar gathers: once the vertex state
outgrows the broadcast threshold, the per-superstep join is a
SortMergeJoin, and the cached edge side must already satisfy both its
partitioning and its ordering. A Sort or Exchange between the gather's
join and the edge cache's InMemoryTableScan means every superstep
re-sorts (or re-shuffles) the full edge table.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graph_data_science_spark.algorithms.labelprop import label_propagation  # noqa: E402
from graph_data_science_spark.algorithms.wcc import wcc  # noqa: E402
from graph_data_science_spark.graph.build import LinkGraph  # noqa: E402
from graph_data_science_spark.pregel.superstep import SuperstepLoop  # noqa: E402


def _children(node) -> list:
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _edge_side_paths(plan) -> list[list[str]]:
    """For every InMemoryTableScan below a join, the operator names
    strictly between the nearest join and the scan. Only plan children
    are walked, so scans inside expression subqueries (runtime filters)
    are not counted."""
    paths = []

    def walk(node, since_join):
        name = node.nodeName()
        if name == "InMemoryTableScan" and since_join is not None:
            paths.append(since_join)
        if "Join" in name:
            below = []
        elif since_join is None or name.startswith("WholeStageCodegen") or name == "InputAdapter":
            below = since_join
        else:
            below = since_join + [name]
        for c in _children(node):
            walk(c, below)

    walk(plan, None)
    return paths


@pytest.fixture
def no_broadcast(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture
def superstep1_plans(monkeypatch):
    plans = []
    orig = SuperstepLoop.commit

    def commit(self, df, superstep, *args, **kwargs):
        if superstep == 1:
            plans.append(df._jdf.queryExecution().executedPlan())
        return orig(self, df, superstep, *args, **kwargs)

    monkeypatch.setattr(SuperstepLoop, "commit", commit)
    return plans


def _graph(spark):
    # Two short chains joined by one bridge edge: a few rounds, no skew.
    edges = [(i, i + 1, 1.0) for i in range(8)] + [(i, i + 1, 1.0) for i in range(20, 28)]
    edges.append((4, 24, 1.0))
    return LinkGraph(edges=spark.createDataFrame(edges, "src long, dst long, weight double"))


def _assert_edge_side_clean(plans):
    assert len(plans) == 1
    paths = _edge_side_paths(plans[0])
    assert paths, plans[0].toString()
    bad = [" ".join(p) for p in paths if {"Sort", "Exchange"} & set(p)]
    assert not bad, bad


def test_wcc_gather_reads_edge_cache_without_sort_or_exchange(
    spark, no_broadcast, superstep1_plans
):
    res = wcc(_graph(spark))
    assert res.components.select("component").distinct().count() == 1
    _assert_edge_side_clean(superstep1_plans)


def test_label_propagation_gather_reads_edge_cache_without_sort_or_exchange(
    spark, no_broadcast, superstep1_plans
):
    res = label_propagation(_graph(spark), max_iterations=2)
    assert res.labels.count() == 18
    _assert_edge_side_clean(superstep1_plans)
