"""Spark job counts of the superstep commit paths: a durable commit runs
exactly one job of its own (the state write) — its metrics rows, row counts
and read-back run on the driver — and a parquet round-trip runs one job."""

import os
import uuid

from graph_data_science_spark.pregel.superstep import (
    SuperstepLoop,
    materialize_roundtrip,
    roundtrip_mark,
    roundtrip_release,
)


def _count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    tag = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(tag, "job-count guard")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # The status tracker is fed by the listener bus; drain it before asking.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))


def _state(spark):
    return spark.range(100).selectExpr("id as node", "id as comp")


def test_durable_commit_runs_one_job(spark, tmp_path):
    state = _state(spark)
    loop = SuperstepLoop(spark, "jobs", str(tmp_path / "ck"), edges=state, params={})
    out, jobs = _count_jobs(spark, lambda: loop.commit(state, 0, {}))
    assert jobs == 1
    assert out.dtypes == state.dtypes and out.count() == 100

    # One metrics row per committed data file; the rows add up to the state.
    state_dir = str(tmp_path / "ck" / "jobs" / "state_00000")
    files = [f for f in sorted(os.listdir(state_dir)) if not f.startswith(("_", "."))]
    rows = sorted((r["superstep"], r["partition"], r["rows"]) for r in loop.metrics().collect())
    assert [(s, p) for s, p, _ in rows] == [(0, i) for i in range(len(files))]
    assert sum(n for _, _, n in rows) == 100


def test_roundtrip_runs_one_job(spark):
    state = _state(spark)
    mark = roundtrip_mark()
    try:
        out, jobs = _count_jobs(spark, lambda: materialize_roundtrip(state, tag="job_count"))
        assert jobs == 1
        assert out.dtypes == state.dtypes and out.count() == 100
    finally:
        roundtrip_release(mark)
