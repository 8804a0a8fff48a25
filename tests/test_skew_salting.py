"""SQL-message-path skew salting: a mega-hub source's out-edges are split
across salt sub-groups so no superstep task gathers more than
~hot_degree_threshold edges (the SQL analog of the Arrow path's DEGREE
salting; reference ``core/.../partition/PartitionUtils.java:126-204``).

Correctness contract: salting is a pure partitioning change — scores must
be identical (to float association noise) with salting forced on vs off.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graph_data_science_spark.algorithms.pagerank import eigenvector, pagerank  # noqa: E402
from graph_data_science_spark.graph.build import LinkGraph  # noqa: E402
from graph_data_science_spark.pregel.spmv import (  # noqa: E402
    build_blocks,
    cache_edges,
    spmv_messages_sql,
)


def _skewed_graph(spark):
    # Hub 0 -> 1..200 (out-degree 200) over a 0->1->...->200->0 ring so
    # every node has rank mass and the hub dominates one join partition.
    hub = [(0, i, 1.0) for i in range(1, 201)]
    ring = [(i, (i + 1) % 201, 1.0) for i in range(201)]
    return LinkGraph(
        edges=spark.createDataFrame(hub + ring, "src long, dst long, weight double")
    )


def test_cache_edges_detects_hot_keys(spark):
    g = _skewed_graph(spark)
    norm = g.edges.select("src", "dst", F.lit(1.0).alias("norm_w"))
    salted, hot = cache_edges(norm, hot_degree_threshold=50)
    rows = {r["src"]: r["nsalt"] for r in hot.collect()}
    assert rows == {0: 5}  # ceil(201/50): 200 hub edges + 1 ring edge
    assert "salt" in salted.columns
    salted.unpersist()
    plain, no_hot = cache_edges(norm, hot_degree_threshold=1000)
    assert no_hot is None and "salt" not in plain.columns
    plain.unpersist()


def test_salted_messages_match_unsalted(spark):
    g = _skewed_graph(spark)
    norm = g.edges.select("src", "dst", (F.lit(1.0) / F.lit(201.0)).alias("norm_w"))
    state = spark.range(201).select(
        F.col("id").alias("node"), (F.col("id") + 1.0).alias("msg_val")
    )
    # An unskewed threshold builds the plain cache: no hot map, no salt.
    plain, no_hot = cache_edges(norm, hot_degree_threshold=1000)
    assert no_hot is None and "salt" not in plain.columns

    want = {r["dst"]: r["msg"] for r in spmv_messages_sql(plain, None, state).collect()}
    salted, hot = cache_edges(norm, hot_degree_threshold=50)
    assert "salt" in salted.columns
    got = {r["dst"]: r["msg"] for r in spmv_messages_sql(salted, hot, state).collect()}
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=1e-12)
    plain.unpersist()
    salted.unpersist()


@pytest.mark.parametrize("threshold", [0, -1])
def test_hot_degree_threshold_below_one_is_rejected(spark, threshold):
    # 0 would divide by zero inside a task, -1 would give every key a
    # negative salt count; both must fail up front, before any cache.
    from graph_data_science_spark.algorithms.wcc import wcc

    g = _skewed_graph(spark)
    with pytest.raises(ValueError, match="hot_degree_threshold"):
        pagerank(g, hot_degree_threshold=threshold)
    with pytest.raises(ValueError, match="hot_degree_threshold"):
        wcc(g, hot_degree_threshold=threshold)
    with pytest.raises(ValueError, match="hot_degree_threshold"):
        build_blocks(
            g.edges.select("src", "dst", F.lit(1.0).alias("norm_w")),
            201,
            hot_degree_threshold=threshold,
        )


def test_pagerank_scores_invariant_under_salting(spark):
    g = _skewed_graph(spark)
    cold = pagerank(g, tolerance=1e-7, max_iterations=150)  # threshold 2M: unsalted
    hotp = pagerank(g, tolerance=1e-7, max_iterations=150, hot_degree_threshold=50)
    a = {r["node_id"]: r["score"] for r in cold.scores.collect()}
    b = {r["node_id"]: r["score"] for r in hotp.scores.collect()}
    assert set(a) == set(b)
    for n in a:
        assert b[n] == pytest.approx(a[n], abs=1e-9)
    assert hotp.did_converge and cold.did_converge
    assert hotp.ran_iterations == cold.ran_iterations


def test_eigenvector_scores_invariant_under_salting(spark):
    g = _skewed_graph(spark)
    cold = eigenvector(g, tolerance=1e-8, max_iterations=60)
    hotp = eigenvector(g, tolerance=1e-8, max_iterations=60, hot_degree_threshold=50)
    a = {r["node_id"]: r["score"] for r in cold.scores.collect()}
    b = {r["node_id"]: r["score"] for r in hotp.scores.collect()}
    for n in a:
        assert b[n] == pytest.approx(a[n], abs=1e-9)


def test_wcc_components_invariant_under_salting(spark):
    from graph_data_science_spark.algorithms.wcc import wcc

    g = _skewed_graph(spark)
    plain = wcc(g)
    salted = wcc(g, hot_degree_threshold=50)
    a = {r["node_id"]: r["component"] for r in plain.components.collect()}
    b = {r["node_id"]: r["component"] for r in salted.components.collect()}
    assert a == b
    assert set(a.values()) == {0}  # ring + hub is one component rooted at 0


def test_serialized_state_commit_equal_scores(spark, monkeypatch):
    # Large-V runs checkpoint state SERIALIZED (superstep.state_storage_level);
    # forcing it on a small graph must not change any score.
    from graph_data_science_spark.pregel import superstep as ss

    from pyspark.storagelevel import StorageLevel

    g = _skewed_graph(spark)
    base = pagerank(g, tolerance=1e-7, max_iterations=150)
    with monkeypatch.context() as m:
        m.setattr(ss, "_STATE_SER_MIN_ROWS", 0)
        ser = pagerank(g, tolerance=1e-7, max_iterations=150)
    assert base.loop.state_level is None
    assert ser.loop.state_level == StorageLevel.MEMORY_AND_DISK
    a = {r["node_id"]: r["score"] for r in base.scores.collect()}
    b = {r["node_id"]: r["score"] for r in ser.scores.collect()}
    assert a == b  # same partitioning, same plan: bit-identical

    assert ss.state_storage_level(None) is None
    assert ss.state_storage_level(10_000) is None
    assert ss.state_storage_level(60_000_000) == StorageLevel.MEMORY_AND_DISK


def test_label_propagation_invariant_under_salting(spark):
    # LPA's vote gather joins on DST, so the hot node must be a hot
    # in-degree hub: reverse the skewed graph (node 0 in-degree 201).
    from graph_data_science_spark.algorithms.labelprop import label_propagation

    fwd = _skewed_graph(spark)
    rev = LinkGraph(
        edges=fwd.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )
    cached, hot = cache_edges(rev.edges, 50, key="dst", spread="src")
    assert {r["src"]: r["nsalt"] for r in hot.collect()} == {0: 5}
    cached.unpersist()
    plain = label_propagation(rev, max_iterations=5)
    salted = label_propagation(rev, max_iterations=5, hot_degree_threshold=50)
    a = {r["node_id"]: r["label"] for r in plain.labels.collect()}
    b = {r["node_id"]: r["label"] for r in salted.labels.collect()}
    assert a == b


def test_hits_invariant_under_salting(spark):
    from graph_data_science_spark.algorithms.hits import hits

    g = _skewed_graph(spark)
    plain = hits(g, hits_iterations=5)
    salted = hits(g, hits_iterations=5, hot_degree_threshold=50)
    a = {r["node_id"]: (r["auth"], r["hub"]) for r in plain.scores.collect()}
    b = {r["node_id"]: (r["auth"], r["hub"]) for r in salted.scores.collect()}
    assert set(a) == set(b)
    for n in a:
        assert b[n][0] == pytest.approx(a[n][0], abs=1e-12)
        assert b[n][1] == pytest.approx(a[n][1], abs=1e-12)


def test_user_pregel_invariant_under_salting(spark):
    from graph_data_science_spark.pregel.api import PregelComputation, run_pregel

    comp_kwargs = dict(
        name="pr_user",
        schema={"rank": lambda c: F.lit(1.0 - 0.85)},
        message=lambda c: c["rank"] / c["degree"],
        update=lambda c, msg: {"rank": c["rank"] + 0.85 * F.coalesce(msg, F.lit(0.0))},
        reducer="sum",
    )
    g = _skewed_graph(spark)
    plain = run_pregel(g, PregelComputation(**comp_kwargs), max_iterations=6)
    salted = run_pregel(
        g, PregelComputation(**comp_kwargs), max_iterations=6, hot_degree_threshold=50
    )
    a = {r["node_id"]: r["rank"] for r in plain.state.collect()}
    b = {r["node_id"]: r["rank"] for r in salted.state.collect()}
    assert set(a) == set(b)
    for nd in a:
        assert b[nd] == pytest.approx(a[nd], abs=1e-12)


def test_delta_stepping_invariant_under_salting(spark):
    # Min-relaxation gather (paths.py): hub 0's out-edges are salted, the
    # per-destination min recombines exactly across salt groups.
    from graph_data_science_spark.algorithms.paths import delta_stepping

    hub = [(0, i, 1.0 + i % 5) for i in range(1, 201)]
    ring = [(i, (i + 1) % 201, 0.5) for i in range(201)]
    g = LinkGraph(edges=spark.createDataFrame(hub + ring, "src long, dst long, weight double"))
    plain = delta_stepping(g, source=0, delta=1.0)
    salted = delta_stepping(g, source=0, delta=1.0, hot_degree_threshold=50)
    a = {r["node_id"]: r["distance"] for r in plain.distances.collect()}
    b = {r["node_id"]: r["distance"] for r in salted.distances.collect()}
    assert len(a) == 201
    assert a == b
    assert plain.did_converge and salted.did_converge
    assert plain.ran_iterations == salted.ran_iterations


def test_dag_longest_path_invariant_under_salting(spark):
    # Max-relaxation gather (dag.py) over a three-layer DAG whose root 0
    # fans out to 200 nodes; longest paths AND their parents must match.
    from graph_data_science_spark.algorithms.dag import dag_longest_path

    fan = [(0, i, float(1 + i % 7)) for i in range(1, 201)]
    mid = [(i, 201 + i % 10, float(1 + (13 * i) % 11)) for i in range(1, 201)]
    sink = [(201 + j, 211, float(j + 1)) for j in range(10)]
    g = LinkGraph(
        edges=spark.createDataFrame(fan + mid + sink, "src long, dst long, weight double")
    )
    cached, hot = cache_edges(g.edges, 50)
    assert hot is not None
    cached.unpersist()
    plain = dag_longest_path(g)
    salted = dag_longest_path(g, hot_degree_threshold=50)

    def paths(res):
        return {r["target_node"]: (r["total_cost"], r["node_ids"]) for r in res.paths.collect()}

    a, b = paths(plain), paths(salted)
    assert len(a) == 212
    assert a == b
    assert a[211][0] == max(
        (1 + i % 7) + (1 + (13 * i) % 11) + (1 + i % 10) for i in range(1, 201)
    )
