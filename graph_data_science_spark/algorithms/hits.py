"""HITS hubs & authorities (reference ``algo/.../hits/HitsComputation.java``).

GDS semantics, verified against the reference's own ``PseudoCodeHits``
oracle in ``HitsTest.java``: per iteration

1. ``auth(v) = Σ_{(u,v)∈E} hub(u)``, then L2-normalize all auths;
2. ``hub(u)  = Σ_{(u,v)∈E} auth(v)``, then L2-normalize all hubs;

starting from ``hub ≡ 1`` (the first auth pass therefore sums raw ones —
the in-degree — exactly like the reference's INIT superstep). Runs exactly
``hits_iterations`` rounds (``HitsConfig.java:hitsIterations`` default 20,
masterCompute never converges early). Unweighted, like the reference.

Spark execution: two JVM-side SpMV halves per iteration — one over the
forward edge table for auths, one over the pre-reversed table for hubs
(the ``indexInverse`` analog: both orientations are hash-partitioned by
their join key once and cached). The L2 norm of each half rides its commit
job as an Observation and is applied lazily as a literal in the *next*
half's messages, so each half-iteration is exactly one Spark action and no
full-vector normalization pass ever materializes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graph_data_science_spark.graph.build import LinkGraph
from graph_data_science_spark.pregel.spmv import sql_message_path
from graph_data_science_spark.pregel.superstep import SuperstepLoop


@dataclass
class HitsResult:
    scores: DataFrame  # (node_id long, auth double, hub double)
    ran_iterations: int
    loop: SuperstepLoop


def hits(
    graph: LinkGraph,
    hits_iterations: int = 20,
    checkpoint_dir: str | None = None,
    hot_degree_threshold: int = 2_000_000,
) -> HitsResult:
    spark = graph.edges.sparkSession
    # Both directions get the hot-source-salted message path: a hub's
    # in-degree is the forward pass's straggler, its out-degree the
    # reverse pass's (see spmv.sql_message_path).
    fwd, fwd_msg = sql_message_path(
        graph.edges.select("src", "dst", F.lit(1.0).alias("norm_w")), hot_degree_threshold
    )
    rev, rev_msg = sql_message_path(
        graph.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(1.0).alias("norm_w")
        ),
        hot_degree_threshold,
    )
    loop = SuperstepLoop(
        spark,
        "hits",
        checkpoint_dir,
        edges=graph.edges,
        params={"algo": "hits"},
    )

    nodes = graph.node_ids().select(F.col("node_id").alias("node"))
    state = nodes.select("node", F.lit(0.0).alias("auth"), F.lit(1.0).alias("hub"))
    state = loop.commit(state, 0, {})
    l2_auth, l2_hub = 1.0, 1.0  # raw values are divided lazily by these

    it = 0
    for it in range(1, hits_iterations + 1):
        # auth(v) = Σ hub(u)/‖hub‖ over in-edges of v.
        msgs = fwd_msg(
            state.select("node", (F.col("hub") / F.lit(l2_hub)).alias("msg_val"))
        )
        obs_a = Observation()
        new = (
            state.join(msgs, state["node"] == msgs["dst"], "left")
            .select("node", F.coalesce(F.col("msg"), F.lit(0.0)).alias("auth"), "hub")
            .observe(obs_a, F.sum(F.col("auth") * F.col("auth")).alias("l2sq"))
        )
        state = loop.commit(new, 2 * it - 1, {}, observation=obs_a)
        l2_auth = float(obs_a.get.get("l2sq") or 0.0) ** 0.5 or 1.0

        # hub(u) = Σ auth(v)/‖auth‖ over out-edges of u.
        msgs = rev_msg(
            state.select("node", (F.col("auth") / F.lit(l2_auth)).alias("msg_val"))
        )
        obs_h = Observation()
        new = (
            state.join(msgs, state["node"] == msgs["dst"], "left")
            .select("node", "auth", F.coalesce(F.col("msg"), F.lit(0.0)).alias("hub"))
            .observe(obs_h, F.sum(F.col("hub") * F.col("hub")).alias("l2sq"))
        )
        state = loop.commit(new, 2 * it, {}, observation=obs_h)
        l2_hub = float(obs_h.get.get("l2sq") or 0.0) ** 0.5 or 1.0

    fwd.unpersist()
    rev.unpersist()
    scores = state.select(
        F.col("node").alias("node_id"),
        (F.col("auth") / F.lit(l2_auth)).alias("auth"),
        (F.col("hub") / F.lit(l2_hub)).alias("hub"),
    )
    return HitsResult(scores=scores, ran_iterations=it, loop=loop)
