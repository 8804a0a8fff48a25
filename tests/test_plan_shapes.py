"""Physical-plan regression guards: the scale properties the engine's
design depends on, asserted on `.explain` output so a refactor can't
silently reintroduce an exchange or lose pushdown.
"""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graph_data_science_spark.algorithms.pagerank import _normalized_edges  # noqa: E402
from graph_data_science_spark.graph.build import LinkGraph  # noqa: E402
from graph_data_science_spark.pregel.spmv import cache_edges  # noqa: E402


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_rank_graph_build_is_single_shuffle(spark):
    edges = spark.createDataFrame(
        [(i, (i * 7) % 100, 1.0 + (i % 3)) for i in range(1000)],
        "src long, dst long, weight double",
    )
    norm = _normalized_edges(LinkGraph(edges=edges), weighted=True)
    prepped, hot = cache_edges(norm, hot_degree_threshold=2_000_000)
    assert hot is None
    plan = _physical(prepped)
    # The cached edge plan must contain exactly ONE Exchange (the
    # hash-partition by src that the window normalization, the cache and
    # the per-superstep join all reuse: Spark drops the cache's own
    # repartition). AQE prints the final plan plus an "Initial Plan"
    # copy — count only the final section.
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, final
    prepped.unpersist()


def test_parquet_filter_pushdown(spark, tmp_path):
    p = str(tmp_path / "docs")
    spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("bucket")
    ).write.parquet(p)
    df = spark.read.parquet(p).filter(F.col("bucket") == 3).select("doc_id")
    plan = _physical(df)
    # Catalyst must push the predicate into the scan and prune columns.
    assert "PushedFilters" in plan and "bucket" in plan.split("PushedFilters")[1][:200], plan


def test_small_dim_join_is_broadcast(spark):
    big = spark.range(10000).select(F.col("id").alias("k"), (F.col("id") % 25).alias("dim_id"))
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(25)], "dim_id long, name string")
    joined = big.join(dim, "dim_id")
    plan = _physical(joined)
    assert "BroadcastHashJoin" in plan, plan
