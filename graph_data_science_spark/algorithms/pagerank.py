"""PageRank / ArticleRank / Eigenvector as CSR-block SpMV supersteps.

Semantics match GDS's delta-push Pregel PageRank exactly (reference
``algo/.../pagerank/PageRankComputation.java``):

- init (``:66-75``): every node's value starts at ``1 - d`` (personalized:
  source nodes ``1 - d``, everything else ``0``) and the initial delta is
  sent in superstep 0;
- compute (``:78-99``): ``delta = d * Σ messages``; ``value += delta``;
  if ``delta > tolerance`` send ``delta / degree`` to out-neighbors
  (weighted: ``delta * w / Σ_out w``, positive weights only — degree rule
  of ``DegreeCentrality.java:131-136``), else vote to halt;
- convergence (``PartitionedComputer.java:88-93``): no messages in flight
  and every node halted — here: no node has ``delta > tolerance``.
- defaults d=0.85, tolerance=1e-7, maxIterations=20
  (``PageRankConfig.java:27``, ``RankConfig.java:39,45``).

Scores are GDS-style: NOT normalized to sum 1; dangling mass is not
redistributed.

ArticleRank (``ArticleRankComputation.java``) is the same loop with message
denominator ``degree + avgDegree``. Eigenvector
(``EigenvectorComputation.java``) is power iteration with a per-superstep
global L2 normalization (the masterCompute analog is a driver-side agg).

Each loop hands its edge frame and parameters to ``SuperstepLoop``, which
owns the input fingerprint (lineage) and the checkpoint layout; the rank
loop commits exactly one message round per Spark job, and its resume reads
the committed deltas back through ``SuperstepLoop.committed_states``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graph_data_science_spark.graph.build import LinkGraph
from graph_data_science_spark.pregel.spmv import sql_message_path
from graph_data_science_spark.pregel.superstep import (
    SuperstepLoop,
    free_checkpointed,
)


@dataclass
class RankResult:
    scores: DataFrame  # (node_id long, score double)
    ran_iterations: int
    did_converge: bool
    loop: SuperstepLoop
    loop_wall_sec: float = 0.0  # superstep loop only (excludes graph/CSR build)
    updates_run: int = 0  # message rounds actually executed
    superstep_walls: list | None = None  # per-update wall seconds


def _normalized_edges(
    graph: LinkGraph,
    weighted: bool,
    extra_denominator: float = 0.0,
) -> DataFrame:
    """edges + norm_w = w / (Σ_out w [+ extra]); unweighted w ≡ 1.

    Single-shuffle plan: the edges are hash-partitioned by ``src`` ONCE
    (into ``spark.sql.shuffle.partitions``) and the out-degree (Σ
    strictly-positive weights, GDS ``DegreeFunctions.java:39-56``) is a
    window sum over that partitioning — no groupBy + edge-side re-join
    round trip (which cost two extra full-edge exchanges at every graph
    build). The output is already partitioned and sorted by ``src`` the
    way ``spmv.cache_edges`` lays out its cache, so Spark drops the
    cache's own repartition and the whole build is one exchange + one
    sort."""
    from pyspark.sql import Window

    parts = int(graph.edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    e = graph.edges
    if not weighted:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    pos = F.when(F.col("weight") > 0, F.col("weight")).otherwise(F.lit(0.0))
    deg = F.sum(pos).over(Window.partitionBy("src"))
    return (
        e.select("src", "dst", "weight")
        .repartition(parts, "src")
        .select(
            "src",
            "dst",
            F.when(
                deg > 0, pos / (deg + F.lit(float(extra_denominator)))
            ).otherwise(F.lit(0.0)).alias("norm_w"),
        )
        .filter(F.col("norm_w") != 0)
    )


def _rank_loop(
    graph: LinkGraph,
    norm_edges: DataFrame,
    damping: float,
    tolerance: float,
    max_iterations: int,
    source_nodes: list[int] | None,
    checkpoint_dir: str | None,
    name: str,
    hot_degree_threshold: int,
    initial_scores: DataFrame | None = None,
) -> RankResult:
    """Delta-push rank loop shared by pagerank and article_rank; each
    superstep's messages come from ``spmv.sql_message_path``."""
    spark = norm_edges.sparkSession
    n = graph.with_node_count()
    prepped, msg_fn = sql_message_path(norm_edges, hot_degree_threshold)
    # auto_free_prev=False: committed delta frames are retained in `pending`
    # until the next fold — _fold() frees them once summed.
    loop = SuperstepLoop(
        spark,
        name,
        checkpoint_dir,
        edges=graph.edges,
        params={
            "algo": name,
            "damping": damping,
            "tolerance": tolerance,
            "source_nodes": source_nodes,
            "warm": initial_scores is not None,
        },
        auto_free_prev=False,
    )
    # Pre-loop memory prediction (reference DefaultMemoryGuard analog):
    # delta state is one (node, delta) row per active vertex, 16B data +
    # row overhead.
    loop.predict(node_count=n, state_row_bytes=32)

    # Delta-only superstep loop. The classical formulation keeps a full
    # (node, rank, delta) state and outer-joins messages into it every
    # superstep; that materializes |V| rows per superstep even when the
    # active set has shrunk to a handful of vertices. Since
    #     rank(v) = Σ_t delta_t(v)   (delta_0 = the init value),
    # the loop only ever needs the *delta* frame — which is exactly the
    # active set — and ranks are a single fold at the end. Deltas are folded
    # into a running partial sum every ``fold_every`` supersteps so retained
    # state stays bounded. Measured 3× faster per superstep at 15M edges.
    # fold_every=4 (was 8): at 10-20M active rows the retained
    # localCheckpoint frames start evicting/competing with shuffle memory
    # around 5 pending frames — per-superstep walls climbed 2-3× by
    # superstep 6-8 with fold_every=8 and stay flat at 4 (A/B, 10M-edge
    # cycle graph, local[8]; see BENCH r3 notes).
    alpha = 1.0 - damping
    fold_every = 4

    def _fold(running: DataFrame | None, frames: list[DataFrame]) -> DataFrame:
        parts = ([running] if running is not None else []) + frames
        out = parts[0].select("node", "delta")
        for p in parts[1:]:
            out = out.union(p.select("node", "delta"))
        out = out.groupBy("node").agg(F.sum("delta").alias("delta"))
        out = out.localCheckpoint(eager=True, storageLevel=loop.state_level)
        for p in parts:  # folded frames are no longer needed — free the cache
            free_checkpointed(p)
        return out

    resumed = loop.resume()
    if resumed is not None:
        # Committed states are per-superstep deltas; refold them.
        last = resumed[1]
        frames = loop.committed_states()
        if initial_scores is not None:
            # Warm-start runs fold the previous solution in as delta_(-1)
            # (see below); committed states are residual deltas only, so
            # the resume refold must re-seed it too. The lineage params
            # record warm=True, so a cold checkpoint can never be resumed
            # into a warm run or vice versa.
            frames.insert(
                0,
                initial_scores.select(
                    F.col("node_id").alias("node"), F.col("score").cast("double").alias("delta")
                ),
            )
        running = _fold(None, frames)
        delta = frames[-1]
        start = last + 1
        pending_init: list[DataFrame] = []  # all committed deltas already folded
    else:
        nodes = graph.node_ids().select(F.col("node_id").alias("node"))
        if source_nodes is not None:
            init = F.when(
                F.col("node").isin([int(s) for s in source_nodes]), F.lit(alpha)
            ).otherwise(F.lit(0.0))
        else:
            init = F.lit(alpha)
        if initial_scores is not None:
            # Warm start (incremental refresh): since rank = Σ deltas, a
            # previous solution folds in as the zeroth "delta" and the
            # loop pushes only the RESIDUAL r0 = b + d·M·prev − prev
            # (b = the init vector above). On an unchanged converged
            # graph r0 ≤ tol everywhere ⇒ zero message rounds; on a
            # grown graph the work is proportional to how far prev is
            # from the new fixpoint, not to |V|. Residuals are signed
            # (scores can DROP when a node's in-neighbor gains
            # out-degree), which is why every tolerance gate below is on
            # |delta| — equivalent for the all-positive cold start.
            prev = initial_scores.select(
                F.col("node_id").alias("node"), F.col("score").cast("double").alias("prev")
            )
            contrib = msg_fn(prev.select("node", F.col("prev").alias("msg_val"))).select(
                F.col("dst").alias("node"), (F.lit(damping) * F.col("msg")).alias("c")
            )
            delta = (
                nodes.join(prev, "node", "left")
                .join(contrib, "node", "left")
                .select(
                    "node",
                    (
                        init
                        + F.coalesce(F.col("c"), F.lit(0.0))
                        - F.coalesce(F.col("prev"), F.lit(0.0))
                    ).alias("delta"),
                )
                .filter(F.col("delta") != 0.0)
            )
            running = prev.select("node", F.col("prev").alias("delta"))
        else:
            delta = nodes.select("node", init.alias("delta")).filter(F.col("delta") != 0.0)
            running = None
        delta = loop.commit(delta, 0, {"active": -1})
        start = 1
        pending_init = [delta]

    # GDS superstep accounting (Pregel.java:204-242): superstep 0 is
    # init+send, supersteps 1..maxIterations-1 are update rounds — so
    # maxIterations=41 means 40 delta updates after the initial push.
    import time as _time

    loop_t0 = _time.monotonic()
    updates = 0
    walls: list[float] = []
    pending: list[DataFrame] = pending_init
    converged = False
    it = start - 1
    while it + 1 < max_iterations:
        it_t0 = _time.monotonic()
        # One message round per Spark job. The tolerance gate governs
        # SENDING, exactly like vote-to-halt; the active-vertex count for
        # the convergence check rides the commit job as an Observation.
        cur = delta.filter(F.abs("delta") > tolerance).select("node", "delta")
        msgs = msg_fn(cur.select("node", F.col("delta").alias("msg_val")))
        nd = msgs.select(
            F.col("dst").alias("node"), (F.lit(damping) * F.col("msg")).alias("delta")
        )
        obs = Observation()
        nd = nd.observe(
            obs, F.sum(F.when(F.abs("delta") > tolerance, 1).otherwise(0)).alias("active")
        )
        it += 1
        delta = loop.commit(nd, it, {}, observation=obs)
        pending.append(delta)
        updates += 1
        walls.append(_time.monotonic() - it_t0)
        if len(pending) >= fold_every:
            # Keep the newest frame out of the fold: _fold frees what it
            # sums, and that frame is `delta`, the next round's input.
            running = _fold(running, pending[:-1])
            pending = [pending[-1]]
        if not (obs.get.get("active") or 0):
            converged = True
            break

    ranks = _fold(running, pending) if pending else running
    loop_wall = _time.monotonic() - loop_t0
    prepped.unpersist()

    # delta_0 carries the init mass, so any node absent from the fold has
    # rank 0 (only possible for non-source nodes in personalized mode).
    nodes = graph.node_ids().select(F.col("node_id").alias("node"))
    scores = nodes.join(ranks, "node", "left").select(
        F.col("node").alias("node_id"),
        F.coalesce(F.col("delta"), F.lit(0.0)).alias("score"),
    )
    return RankResult(
        scores=scores,
        ran_iterations=it + 1,  # supersteps incl. the init superstep, GDS-style
        did_converge=converged,
        loop=loop,
        loop_wall_sec=loop_wall,
        updates_run=updates,
        superstep_walls=walls,
    )


def pagerank(
    graph: LinkGraph,
    damping: float = 0.85,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
    weighted: bool = False,
    source_nodes: list[int] | None = None,
    checkpoint_dir: str | None = None,
    hot_degree_threshold: int = 2_000_000,
    initial_scores: DataFrame | None = None,
) -> RankResult:
    """``initial_scores``: optional (node_id, score) frame — warm-start
    the iteration from a previous solution (incremental refresh): the loop
    pushes only the residual vs the supplied scores, so an unchanged
    converged graph costs zero message rounds and a slightly-grown graph
    costs work proportional to the drift. Scores converge to the same
    fixpoint as a cold run (power iteration is start-independent)."""
    norm = _normalized_edges(graph, weighted)
    return _rank_loop(
        graph, norm, damping, tolerance, max_iterations, source_nodes,
        checkpoint_dir, "pagerank", hot_degree_threshold,
        initial_scores=initial_scores,
    )


def article_rank(
    graph: LinkGraph,
    damping: float = 0.85,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
    weighted: bool = False,
    source_nodes: list[int] | None = None,
    checkpoint_dir: str | None = None,
) -> RankResult:
    """PageRank variant: message denominator degree + avgDegree
    (reference ArticleRankComputation.java; avg degree =
    unweighted relationship count / total node count per
    DegreeFunctions.java:82-91 — dangling nodes count in the denominator,
    and the average ignores weights even in weighted mode)."""
    # GDS nodeCount = actual node count, not the id-space bound; resolve
    # via node_ids() (the vertex table when one exists).
    n = graph.node_ids().count()
    avg_deg = (graph.edges.count() / n) if n else 0.0
    norm = _normalized_edges(graph, weighted, extra_denominator=float(avg_deg))
    return _rank_loop(
        graph, norm, damping, tolerance, max_iterations, source_nodes,
        checkpoint_dir, "article_rank", 2_000_000,
    )


def eigenvector(
    graph: LinkGraph,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
    weighted: bool = False,
    source_nodes: list[int] | None = None,
    checkpoint_dir: str | None = None,
    hot_degree_threshold: int = 2_000_000,
) -> RankResult:
    """Eigenvector centrality, exact GDS semantics
    (reference EigenvectorComputation.java):

    - A + I power iteration: ``nextRank = rank + Σ messages`` (:96-113);
    - init ``1/|V|`` (personalized: sources ``1/|S|``, rest 0) (:64-70);
    - messages carry the *pre-normalization* nextRank, divided by the
      weighted out-degree when weighted, 1 when not
      (DegreeFunctions.eigenvectorDegreeFunction);
    - masterCompute L2-normalizes and converges when no node's normalized
      rank moved more than ``tolerance`` — never on superstep 0 (:116-170).

    Execution: one Spark action per superstep. State holds the RAW
    nextRank vector; the L2 scale is applied lazily as a literal once the
    norm is known (the norm rides the commit job as an Observation, as do
    the sufficient statistics for the L2 norm of the *change*). The exact
    max-change convergence test needs the new norm first, so it is gated:
    ``max_change ≤ l2_change`` always, and ``max_change ≥ l2_change/√n``,
    so an extra tiny scan of the committed state runs only when the bounds
    straddle the tolerance — i.e. only in the final supersteps.
    """
    spark = graph.edges.sparkSession
    # nodeCount for the 1/|V| init is the actual node count (vertex table
    # when present), not the id-space bound.
    n = graph.node_ids().count()
    if weighted:
        norm = _normalized_edges(graph, True)  # w / Σ_out w, positive weights
    else:
        norm = graph.edges.select("src", "dst", F.lit(1.0).alias("norm_w"))
    prepped, msg_fn = sql_message_path(norm, hot_degree_threshold)
    loop = SuperstepLoop(
        spark,
        "eigenvector",
        checkpoint_dir,
        edges=graph.edges,
        params={
            "algo": "eigenvector",
            "tolerance": tolerance,
            "weighted": weighted,
            "source_nodes": source_nodes,
        },
    )
    loop.predict(node_count=n, state_row_bytes=40)  # (node, y, x_prev)

    nodes = graph.node_ids().select(F.col("node_id").alias("node"))
    if source_nodes:
        init = F.when(
            F.col("node").isin([int(s) for s in source_nodes]),
            F.lit(1.0 / len(source_nodes)),
        ).otherwise(F.lit(0.0))
    else:
        init = F.lit(1.0 / n) if n else F.lit(0.0)
    obs0 = Observation()
    y = nodes.select("node", init.alias("y"), F.lit(0.0).alias("x_prev")).observe(
        obs0, F.sum(F.col("y") * F.col("y")).alias("l2sq")
    )
    y = loop.commit(y, 0, {}, observation=obs0)
    l2_prev = float(obs0.get.get("l2sq") or 0.0) ** 0.5

    converged, it = False, 0
    for it in range(1, max_iterations):
        if l2_prev == 0.0:
            converged = True  # zero vector is a fixed point; nothing to send
            break
        msgs = msg_fn(y.select("node", F.col("y").alias("msg_val")))
        obs = Observation()
        new = (
            y.join(msgs, y["node"] == msgs["dst"], "left")
            .select(
                "node",
                ((F.col("y") / F.lit(l2_prev)) + F.coalesce(F.col("msg"), F.lit(0.0))).alias("y"),
                (F.col("y") / F.lit(l2_prev)).alias("x_prev"),
            )
            .observe(
                obs,
                F.sum(F.col("y") * F.col("y")).alias("l2sq"),
                F.sum(F.col("y") * F.col("x_prev")).alias("dot"),
                F.sum(F.col("x_prev") * F.col("x_prev")).alias("prevsq"),
            )
        )
        y = loop.commit(new, it, {}, observation=obs)
        vals = obs.get
        l2 = float(vals.get("l2sq") or 0.0) ** 0.5
        if l2 == 0.0:
            l2_prev = 0.0
            converged = True
            break
        dot = float(vals.get("dot") or 0.0)
        prevsq = float(vals.get("prevsq") or 0.0)
        l2_change = max(0.0, 1.0 - 2.0 * dot / l2 + prevsq) ** 0.5
        l2_prev = l2
        if l2_change <= tolerance:
            converged = True
            break
        if l2_change <= tolerance * (n ** 0.5):
            # Bounds straddle the tolerance — run the exact per-node check.
            max_change = (
                y.agg(F.max(F.abs(F.col("y") / F.lit(l2) - F.col("x_prev"))).alias("m"))
                .collect()[0]["m"]
            )
            if max_change is not None and max_change <= tolerance:
                converged = True
                break

    prepped.unpersist()
    scale = 1.0 / l2_prev if l2_prev else 1.0
    return RankResult(
        scores=y.select(
            F.col("node").alias("node_id"), (F.col("y") * F.lit(scale)).alias("score")
        ),
        ran_iterations=it + 1,
        did_converge=converged,
        loop=loop,
    )
