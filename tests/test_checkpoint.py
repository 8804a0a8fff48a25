"""Checkpoint/resume kill-test (SURVEY.md §7.1 M2; north rule: a killed job
resumes from the last completed superstep with lineage+metrics rows, one per
committed data file)."""

import json
import os

from pyspark.sql import functions as F

from graph_data_science_spark.algorithms.pagerank import pagerank
from graph_data_science_spark.algorithms.wcc import wcc
from graph_data_science_spark.graph.build import from_edge_list
from graph_data_science_spark.transcripts import derive_link_graph, synthesize_transcripts

F1_EDGES = [
    (1, 2), (2, 1), (3, 0), (3, 1), (4, 1), (4, 3), (4, 5), (5, 1), (5, 4),
    (6, 1), (6, 4), (7, 1), (7, 4), (8, 1), (8, 4), (9, 4), (10, 4),
]


def test_pagerank_resume_equals_uninterrupted(spark, tmp_path):
    ck = str(tmp_path / "ck")
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    # "Kill" after a few supersteps by capping max_iterations…
    partial = pagerank(g, tolerance=1e-6, max_iterations=4, checkpoint_dir=ck)
    assert not partial.did_converge
    # …then resume from the same checkpoint dir to convergence.
    resumed = pagerank(g, tolerance=1e-6, max_iterations=41, checkpoint_dir=ck)
    full = pagerank(g, tolerance=1e-6, max_iterations=41)
    diff = (
        resumed.scores.withColumnRenamed("score", "s1")
        .join(full.scores, "node_id")
        .agg(F.max(F.abs(F.col("s1") - F.col("score"))).alias("m"))
        .collect()[0]["m"]
    )
    # Resume refolds committed deltas in a different grouping than the
    # uninterrupted run's periodic folds, so float sum order differs by a
    # few ULP — the contract is allclose (north rule: 1e-6), not bit-equal.
    assert diff < 1e-12


def test_committed_markers_and_metrics(spark, tmp_path):
    ck = str(tmp_path / "ck2")
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    res = pagerank(g, tolerance=1e-6, max_iterations=6, checkpoint_dir=ck)
    state_dirs = sorted(d for d in os.listdir(os.path.join(ck, "pagerank")) if d.startswith("state_"))
    assert len(state_dirs) >= 2
    for d in state_dirs:
        marker = os.path.join(ck, "pagerank", d, "_COMMITTED")
        assert os.path.exists(marker)
        payload = json.loads(open(marker).read())
        assert "superstep" in payload and "lineage" in payload
    m = res.loop.metrics()
    assert m.count() > 0
    cols = set(m.columns)
    assert {"algo", "superstep", "partition", "rows", "wall_ms", "lineage", "counters"} <= cols
    # superstep 0 commits the init delta for every vertex; later supersteps
    # commit only the (shrinking) message-receiver set
    per_step = {r["superstep"]: r["n"] for r in m.groupBy("superstep").agg(F.sum("rows").alias("n")).collect()}
    assert per_step[0] == 11
    assert all(0 < n <= 11 for n in per_step.values())


def test_resume_rejects_stale_lineage(spark, tmp_path):
    # A checkpoint dir committed for one graph must not be silently adopted
    # by a run over a different graph. Both graphs are inline frames with
    # the same params, so only the durable content hash tells them apart.
    import pytest

    from graph_data_science_spark.pregel.superstep import SuperstepLoop

    ck = str(tmp_path / "ck_stale")
    params = {"algo": "algo"}
    schema = "src long, dst long, weight double"
    edges_a = spark.createDataFrame([(0, 1, 1.0), (1, 2, 1.0)], schema)
    edges_b = spark.createDataFrame([(0, 1, 1.0), (1, 3, 1.0)], schema)
    loop_a = SuperstepLoop(spark, "algo", ck, edges=edges_a, params=params)
    assert loop_a.lineage.startswith("inline:h=")
    st = spark.createDataFrame([(0, 1.0)], "node long, delta double")
    loop_a.commit(st, 0, {})
    loop_b = SuperstepLoop(spark, "algo", ck, edges=edges_b, params=params)
    with pytest.raises(ValueError, match="different input"):
        loop_b.resume()
    # Matching lineage still resumes.
    state, step = SuperstepLoop(spark, "algo", ck, edges=edges_a, params=params).resume()
    assert step == 0 and state.count() == 1


def test_wcc_resume(spark, tmp_path):
    ck = str(tmp_path / "ck3")
    t = synthesize_transcripts(spark, 30, seed=5)
    g = derive_link_graph(t).graph
    partial = wcc(g, max_iterations=1, checkpoint_dir=ck)
    resumed = wcc(g, max_iterations=50, checkpoint_dir=ck)
    fresh = wcc(g, max_iterations=50)
    a = {(r["node_id"], r["component"]) for r in resumed.components.collect()}
    b = {(r["node_id"], r["component"]) for r in fresh.components.collect()}
    assert a == b


def test_delta_stepping_resume(spark, tmp_path):
    """r4: bucketed delta-stepping resumes mid-bin-schedule; the resumed
    run's distances must equal an uninterrupted run's."""
    from graph_data_science_spark.algorithms.paths import delta_stepping

    import random

    rng = random.Random(4)
    rows = [(rng.randrange(80), rng.randrange(80), float(1 + rng.randrange(9))) for _ in range(300)]
    from graph_data_science_spark.graph.build import LinkGraph

    g = LinkGraph(edges=spark.createDataFrame(rows, "src long, dst long, weight double"))
    ck = str(tmp_path / "ck_delta")
    partial = delta_stepping(g, source=0, delta=3.0, max_iterations=2, checkpoint_dir=ck)
    assert not partial.did_converge
    resumed = delta_stepping(g, source=0, delta=3.0, checkpoint_dir=ck)
    fresh = delta_stepping(g, source=0, delta=3.0)
    a = {(r["node_id"], round(r["distance"], 9)) for r in resumed.distances.collect()}
    b = {(r["node_id"], round(r["distance"], 9)) for r in fresh.distances.collect()}
    assert resumed.did_converge and a == b


def test_wcc_star_resume_after_one_action_rework(spark, tmp_path):
    """r4: wcc_star rounds are now a single commit action with the
    convergence diff observed in-plan; resume must still reload the last
    committed pair set and reach the same fixpoint."""
    from graph_data_science_spark.algorithms.wcc import wcc_star

    t = synthesize_transcripts(spark, 30, seed=6)
    g = derive_link_graph(t).graph
    ck = str(tmp_path / "ck_star")
    wcc_star(g, max_iterations=1, checkpoint_dir=ck)
    resumed = wcc_star(g, checkpoint_dir=ck)
    fresh = wcc_star(g)
    a = {(r["node_id"], r["component"]) for r in resumed.components.collect()}
    b = {(r["node_id"], r["component"]) for r in fresh.components.collect()}
    assert a == b


def test_estimate_report_within_documented_factor(spark, tmp_path):
    """predict()'s pre-run state model vs the observed committed state
    (r5): the durable metrics now carry observed_state_rows +
    observed_state_parquet_mb per superstep, and estimate_report compares
    the in-memory prediction to the on-disk peak within the documented
    [0.5, 32] compression factor."""
    from graph_data_science_spark.pregel.superstep import (
        ESTIMATE_RATIO_MAX,
        ESTIMATE_RATIO_MIN,
        estimate_report,
    )
    from graph_data_science_spark.transcripts import closed_form_link_graph

    g = closed_form_link_graph(spark, 1500, cycle=True)
    n = g.with_node_count()
    ck = str(tmp_path / "ck_est")
    res = pagerank(g, tolerance=0.0, max_iterations=4, checkpoint_dir=ck)
    rep = estimate_report(res.loop.metrics())
    assert len(rep) == 1
    r = rep[0]
    # superstep 0 commits the full init delta: the peak is exactly |V|
    assert r["peak_observed_state_rows"] == n
    assert r["supersteps_observed"] >= 3
    assert r["predicted_state_mb"] == round(n * 32 / 1e6, 2)
    assert r["peak_observed_state_parquet_mb"] > 0
    assert ESTIMATE_RATIO_MIN <= r["state_mb_ratio"] <= ESTIMATE_RATIO_MAX
    assert r["within_documented_factor"] is True


def test_metrics_table_reads_spark_written_files(spark, tmp_path):
    """A checkpoint dir whose metrics table already holds a Spark-written
    file (the layout of commits made before the driver-side metrics write)
    plus a leftover hidden temp file: new commits append beside them, the
    table reads back with METRICS_SCHEMA's types, the temp file is ignored,
    and resume starts from the last committed superstep."""
    from graph_data_science_spark.pregel.superstep import (
        METRICS_SCHEMA,
        SuperstepLoop,
        estimate_report,
    )

    ck = str(tmp_path / "ck_compat")
    edges = spark.createDataFrame([(0, 1, 1.0), (1, 2, 1.0)], "src long, dst long, weight double")
    n = 40
    loop = SuperstepLoop(spark, "algo", ck, edges=edges, params={})

    # Superstep 0 as an earlier commit wrote it: state parquet, metrics rows
    # appended through a Spark job (part-*.snappy.parquet), then the marker.
    st0 = spark.range(n).selectExpr("id as node", "0.0 as delta")
    st0.write.parquet(os.path.join(ck, "algo", "state_00000"))
    counters = json.dumps({"observed_state_rows": n, "observed_state_parquet_mb": 0.001}, sort_keys=True)
    old_rows = [("algo", 0, p, n // 4, 1.0, loop.lineage, counters) for p in range(4)]
    metrics_dir = os.path.join(ck, "algo", "metrics")
    spark.createDataFrame(old_rows, METRICS_SCHEMA).coalesce(1).write.mode("append").parquet(metrics_dir)
    assert any(f.startswith("part-") and f.endswith(".snappy.parquet") for f in os.listdir(metrics_dir))
    with open(os.path.join(ck, "algo", "state_00000", "_COMMITTED"), "w") as fh:
        fh.write(json.dumps({"superstep": 0, "lineage": loop.lineage}))
    # A metrics write cut off before its rename leaves a hidden partial file.
    with open(os.path.join(metrics_dir, ".part-00001-0123456789abcdef.parquet"), "wb") as fh:
        fh.write(b"PAR1 partial")

    state, step = loop.resume()
    assert step == 0
    for i in (1, 2):
        state = loop.commit(state.where(f"node % {i + 1} = 0"), i, {})
    marker = os.path.join(ck, "algo", "state_00002", "_COMMITTED")
    with open(marker) as fh:
        assert fh.read() == json.dumps({"superstep": 2, "lineage": loop.lineage})

    m = loop.metrics()
    assert m.dtypes == [
        ("algo", "string"), ("superstep", "int"), ("partition", "int"), ("rows", "bigint"),
        ("wall_ms", "double"), ("lineage", "string"), ("counters", "string"),
    ]
    per_step = {r["superstep"]: r["n"] for r in m.groupBy("superstep").agg(F.sum("rows").alias("n")).collect()}
    assert per_step == {0: n, 1: n // 2, 2: n // 6 + 1}
    rep = estimate_report(m)
    assert len(rep) == 1 and rep[0]["peak_observed_state_rows"] == n
    assert rep[0]["supersteps_observed"] == 3

    state, step = SuperstepLoop(spark, "algo", ck, edges=edges, params={}).resume()
    assert step == 2 and state.count() == n // 6 + 1
