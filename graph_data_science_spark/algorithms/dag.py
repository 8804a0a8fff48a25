"""DAG longest path (reference ``algo/.../dag/longestPath/DagLongestPath.java:58``).

Reference semantics: every node starts at distance 0 being its own parent
(``DagLongestPath.java:131`` — ``parentsAndDistances.set(nodeId, nodeId, 0)``);
workers traverse from the zero-in-degree sources relaxing
``dist(w) = max(dist(v) + weight)``; the result is a ``PathFindingResult``
streaming, for EVERY node, the heaviest incoming path from some source.

Spark execution: bulk-synchronous max-relaxation — the max-reducer twin of
the ``shortest_paths`` frontier loop (one co-partitioned join + max
aggregate + outer merge per round, improvement count as an Observation on
the commit job). On a DAG the fixpoint arrives after (longest path
hop-length) rounds; exceeding |V| rounds means a positive-gain cycle ⇒ the
input was not a DAG and we raise, mirroring the reference's topological
precondition. Path reconstruction is the same parent-pointer backtracking
join as ``dijkstra`` — each walk stops at its own root (parent null).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from graph_data_science_spark.graph.build import LinkGraph
from graph_data_science_spark.pregel.spmv import cache_edges, salted_gather_join
from graph_data_science_spark.pregel.superstep import (
    materialize_roundtrip,
    roundtrip_mark,
    roundtrip_release,
)


@dataclass
class LongestPathResult:
    # (index, source_node, target_node, total_cost, node_ids, costs) —
    # the reference PathFindingResult row shape; source_node = walk root.
    paths: DataFrame
    distances: DataFrame  # (node_id, distance, parent)
    ran_iterations: int


def dag_longest_path(
    graph: LinkGraph,
    weighted: bool = True,
    targets: list[int] | None = None,
    hot_degree_threshold: int = 2_000_000,
) -> LongestPathResult:
    spark = graph.edges.sparkSession
    n = graph.with_node_count()
    e = graph.edges if weighted else graph.edges.select("src", "dst", F.lit(1.0).alias("weight"))
    prepped, _hot = cache_edges(
        e.select("src", "dst", F.col("weight").cast("double").alias("norm_w")), hot_degree_threshold
    )
    mark = roundtrip_mark()

    dist = graph.node_ids().select(
        F.col("node_id").alias("node"),
        F.lit(0.0).alias("dist"),
        F.lit(None).cast("long").alias("parent"),
    )
    dist = materialize_roundtrip(dist, tag="dagl", keep_last=2)
    frontier = dist.select("node", "dist")
    it = 0
    converged = False
    for it in range(1, n + 2):
        cand = (
            salted_gather_join(prepped, _hot, frontier)
            .groupBy("dst")
            .agg(
                F.max_by(
                    F.struct(
                        (F.col("dist") + F.col("norm_w")).alias("cand"),
                        F.col("src").alias("via"),
                    ),
                    F.struct((F.col("dist") + F.col("norm_w")).alias("c"), F.col("src").alias("s")),
                ).alias("best")
            )
            .select("dst", F.col("best.cand").alias("cand"), F.col("best.via").alias("via"))
        )
        obs = Observation()
        merged = (
            dist.join(cand, dist["node"] == cand["dst"], "full_outer")
            .select(
                F.coalesce(F.col("node"), F.col("dst")).alias("node"),
                F.greatest(F.col("dist"), F.col("cand")).alias("dist"),
                F.when(
                    F.col("cand").isNotNull() & (F.col("cand") > F.coalesce(F.col("dist"), F.lit(0.0))),
                    F.col("via"),
                )
                .otherwise(F.col("parent"))
                .alias("parent"),
                (F.col("cand").isNotNull() & (F.col("cand") > F.coalesce(F.col("dist"), F.lit(0.0)))).alias(
                    "_improved"
                ),
            )
            .observe(obs, F.sum(F.when(F.col("_improved"), 1).otherwise(0)).alias("improved"))
        )
        new_dist = materialize_roundtrip(merged, tag="dagl", keep_last=2)
        improved = int(obs.get.get("improved") or 0)
        frontier = new_dist.filter(F.col("_improved")).select("node", "dist")
        dist = new_dist.select("node", "dist", "parent")
        if improved == 0:
            converged = True
            break
    prepped.unpersist()
    if not converged:
        roundtrip_release(mark)
        raise ValueError(
            f"dag_longest_path: still relaxing after {it} rounds over {n} nodes — "
            "the graph has a cycle (the reference requires a DAG)"
        )

    # ---- backtracking: identical to dijkstra's, per-walk root stop ----
    pm = dist.select(F.col("node").alias("pnode"), F.col("parent").alias("pparent")).join(
        dist.select(F.col("node").alias("pparent"), F.col("dist").alias("pdist")),
        "pparent",
        "left",
    )
    reached = dist if targets is None else dist.filter(F.col("node").isin([int(t) for t in targets]))
    walk = reached.select(
        F.col("node").alias("target_node"),
        F.col("dist").alias("total_cost"),
        F.col("node").alias("cur"),
        F.col("parent").alias("cur_parent"),
        F.array(F.col("node")).alias("node_ids"),
        F.array(F.col("dist")).alias("costs"),
    )
    walk = materialize_roundtrip(walk, tag="dagl_walk", keep_last=2)
    for _ in range(it + 1):
        obs = Observation()
        pending = F.col("cur_parent").isNotNull()
        stepped = (
            walk.join(pm, walk["cur"] == pm["pnode"], "left")
            .join(
                dist.select(F.col("node").alias("pparent2"), F.col("parent").alias("gparent")),
                F.col("pparent") == F.col("pparent2"),
                "left",
            )
            .select(
                "target_node",
                "total_cost",
                F.when(pending, F.col("pparent")).otherwise(F.col("cur")).alias("cur"),
                F.when(pending, F.col("gparent")).otherwise(F.lit(None).cast("long")).alias("cur_parent"),
                F.when(pending, F.concat(F.array(F.col("pparent")), F.col("node_ids")))
                .otherwise(F.col("node_ids"))
                .alias("node_ids"),
                F.when(pending, F.concat(F.array(F.col("pdist")), F.col("costs")))
                .otherwise(F.col("costs"))
                .alias("costs"),
            )
            .observe(
                obs,
                F.sum(F.when(F.col("cur_parent").isNotNull(), 1).otherwise(0)).alias("pending"),
            )
        )
        walk = materialize_roundtrip(stepped, tag="dagl_walk", keep_last=2)
        if not int(obs.get.get("pending") or 0):
            break

    from graph_data_science_spark.graph.ranks import ordered_rank

    # result index over O(V) target rows: bucketed rank, no global window
    indexed = ordered_rank(walk, ["target_node"], rank_col="_idx", n_buckets=None)
    paths = materialize_roundtrip(
        indexed.select(
            F.col("_idx").cast("long").alias("index"),
            F.element_at(F.col("node_ids"), 1).alias("source_node"),
            "target_node",
            "total_cost",
            "node_ids",
            "costs",
        ),
        tag="dagl_out",
    )
    dist_out = materialize_roundtrip(
        dist.select(F.col("node").alias("node_id"), F.col("dist").alias("distance"), "parent"),
        tag="dagl_out",
    )
    roundtrip_release(mark, keep=[paths, dist_out])
    return LongestPathResult(paths=paths, distances=dist_out, ran_iterations=it)
