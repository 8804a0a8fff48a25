"""PageRank fixture tests (FIXTURES.md F1/F2, from the reference's own
PageRankTest.java golden values)."""

import pytest

from graph_data_science_spark.algorithms.pagerank import pagerank
from graph_data_science_spark.graph.build import from_edge_list

# F1: Wikipedia example graph, nodes a..k = 0..10.
F1_EDGES = [
    (1, 2), (2, 1), (3, 0), (3, 1), (4, 1), (4, 3), (4, 5), (5, 1), (5, 4),
    (6, 1), (6, 4), (7, 1), (7, 4), (8, 1), (8, 4), (9, 4), (10, 4),
]
F1_EXPECTED = [
    0.3040965, 3.5604297, 3.1757906, 0.3625935, 0.7503465, 0.3625935,
    0.15, 0.15, 0.15, 0.15, 0.15,
]
F1_PERSONALIZED_AE = [  # source nodes {a, e} = {0, 4}
    0.17053529152163158, 0.3216114449911402, 0.27329311398643763,
    0.048318333106500536, 0.17053529152163158, 0.048318333106500536,
    0.0, 0.0, 0.0, 0.0, 0.0,
]
F1_PERSONALIZED_KB = [  # source nodes {k, b} = {10, 1}
    0.017454997930076894, 0.813246950528992, 0.690991752640184,
    0.041070583050331164, 0.1449550029964717, 0.041070583050331164,
    0.0, 0.0, 0.0, 0.0, 0.15000000000000002,
]

# F2: weighted variant (PageRankTest.java:274-304).
F2_EDGES = [
    (1, 2, 1.0), (2, 1, 1.0), (3, 0, 0.2), (3, 1, 0.8), (4, 1, 0.10),
    (4, 3, 0.70), (4, 5, 0.20), (5, 1, 0.7), (5, 4, 0.3), (6, 1, 0.01),
    (6, 4, 0.99), (7, 1, 0.5), (7, 4, 0.5), (8, 1, 0.5), (8, 4, 0.5),
    (9, 4, 1.0), (10, 4, 1.0),
]
F2_EXPECTED = [0.24919, 3.69822, 3.29307, 0.58349, 0.72855, 0.27385,
               0.15, 0.15, 0.15, 0.15, 0.15]


def scores_list(result, n):
    rows = {r["node_id"]: r["score"] for r in result.scores.collect()}
    return [rows[i] for i in range(n)]


def test_pagerank_unweighted_golden(spark):
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    res = pagerank(g, damping=0.85, tolerance=0.0, max_iterations=41)
    got = scores_list(res, 11)
    for i, (a, e) in enumerate(zip(got, F1_EXPECTED)):
        assert a == pytest.approx(e, abs=1e-5), f"node {i}: {a} != {e}"


def test_pagerank_personalized_ae(spark):
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    res = pagerank(g, damping=0.85, tolerance=0.0, max_iterations=41, source_nodes=[0, 4])
    got = scores_list(res, 11)
    for i, (a, e) in enumerate(zip(got, F1_PERSONALIZED_AE)):
        assert a == pytest.approx(e, abs=1e-5), f"node {i}: {a} != {e}"


def test_pagerank_personalized_kb(spark):
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    res = pagerank(g, damping=0.85, tolerance=0.0, max_iterations=41, source_nodes=[10, 1])
    got = scores_list(res, 11)
    for i, (a, e) in enumerate(zip(got, F1_PERSONALIZED_KB)):
        assert a == pytest.approx(e, abs=1e-5), f"node {i}: {a} != {e}"


def test_pagerank_weighted_golden(spark):
    g = from_edge_list(spark, F2_EDGES, node_count=11)
    res = pagerank(g, damping=0.85, tolerance=0.0, max_iterations=41, weighted=True)
    got = scores_list(res, 11)
    for i, (a, e) in enumerate(zip(got, F2_EXPECTED)):
        assert a == pytest.approx(e, abs=1e-5), f"node {i}: {a} != {e}"


def test_pagerank_weighted_scale_invariance(spark):
    # unnormalizedWeight = 10 × weight must give identical ranks.
    scaled = [(s, d, w * 10.0) for (s, d, w) in F2_EDGES]
    g = from_edge_list(spark, scaled, node_count=11)
    res = pagerank(g, damping=0.85, tolerance=0.0, max_iterations=41, weighted=True)
    got = scores_list(res, 11)
    for i, (a, e) in enumerate(zip(got, F2_EXPECTED)):
        assert a == pytest.approx(e, abs=1e-5), f"node {i}: {a} != {e}"


def test_pagerank_zero_weights(spark):
    # All weights 0 → every rank = 1 - d = 0.15 (PageRankTest.java:306-324).
    zero = [(s, d, 0.0) for (s, d, _w) in F2_EDGES]
    g = from_edge_list(spark, zero, node_count=11)
    res = pagerank(g, damping=0.85, tolerance=0.0, max_iterations=10, weighted=True)
    got = scores_list(res, 11)
    assert all(a == pytest.approx(0.15, abs=1e-12) for a in got)


def test_pagerank_tolerance_converges_early(spark):
    # PageRankTest.java:126-141: tolerance 0.5 → 2 iterations; 0.1 → 13.
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    res_loose = pagerank(g, tolerance=0.5, max_iterations=40)
    assert res_loose.did_converge and res_loose.ran_iterations <= 3
    res_tight = pagerank(g, tolerance=0.1, max_iterations=40)
    assert res_tight.did_converge
    assert res_loose.ran_iterations < res_tight.ran_iterations
