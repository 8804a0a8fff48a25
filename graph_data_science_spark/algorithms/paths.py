"""Shortest paths / BFS as min-reducer supersteps.

Reference semantics:
- ``algo/.../paths/delta/DeltaStepping.java:52`` and
  ``paths/bellmanford/BellmanFord.java:48`` — single-source shortest
  distances over (optionally) weighted directed edges; unreachable nodes
  are absent from the result stream; Bellman-Ford additionally detects
  negative cycles.
- ``algo/.../paths/traverse/BFS.java:62`` — breadth-first traversal;
  re-expressed here as per-node hop depth (the traversal *order* of a
  shared-memory cursor walk has no stable meaning under distributed
  execution; depth is the invariant the fixtures check).

Spark execution — frontier Bellman-Ford, the scale-correct shape for both
delta-stepping and Bellman-Ford on a shuffle engine:

- the edge table is hash-partitioned and sorted by ``src`` once and
  cached (``spmv.cache_edges``, which also salts mega-hub sources); every
  relaxation round co-locates on the cached side, only the (shrinking)
  frontier shuffles;
- a round relaxes ONLY the frontier (nodes improved last round):
  ``candidate(v) = min_{(u,v)} dist(u) + w(u,v)`` — one join + one
  min-aggregate, all whole-stage codegen (this is Pregel's
  ``Reducer.Min`` message combiner as a hash aggregate);
- new distances = outer-merge of candidates into the distance frame,
  keeping the min; the improved-count rides the commit job as an
  Observation (no extra action); converged when 0 improved.
- delta-stepping's bucket ordering is a *work-scheduling* optimization
  for shared memory — on Spark the rounds are already bulk-synchronous,
  so plain frontier relaxation does the same work per shuffle with no
  priority queue. Negative-cycle detection: more than |V| rounds without
  convergence ⇒ flagged, matching Bellman-Ford.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from graph_data_science_spark.graph.build import LinkGraph
from graph_data_science_spark.pregel.spmv import cache_edges, salted_gather_join
from graph_data_science_spark.pregel.superstep import SuperstepLoop


@dataclass
class PathResult:
    distances: DataFrame  # (node_id long, distance double) — reachable nodes only
    ran_iterations: int
    did_converge: bool
    negative_cycle: bool
    loop: SuperstepLoop


def shortest_paths(
    graph: LinkGraph,
    source: int,
    weighted: bool = True,
    max_iterations: int | None = None,
    checkpoint_dir: str | None = None,
    hot_degree_threshold: int = 2_000_000,
) -> PathResult:
    """Single-source shortest distances. ``weighted=False`` treats every
    edge as weight 1 (= BFS hop counts). Unreachable nodes are omitted,
    matching the reference's stream shape."""
    spark = graph.edges.sparkSession
    n = graph.with_node_count()
    if max_iterations is None:
        max_iterations = n + 1
    e = graph.edges if weighted else graph.edges.select("src", "dst", F.lit(1.0).alias("weight"))
    prepped, _hot = cache_edges(
        e.select("src", "dst", F.col("weight").cast("double").alias("norm_w")),
        hot_degree_threshold,
    )

    loop = SuperstepLoop(
        spark,
        "sssp",
        checkpoint_dir,
        edges=graph.edges,
        params={"algo": "sssp", "source": source, "weighted": weighted},
    )
    loop.predict(node_count=n, state_row_bytes=32)  # (node, dist)
    dist = spark.createDataFrame([(int(source), 0.0)], "node long, dist double")
    dist = loop.commit(dist, 0, {"frontier": 1})
    frontier = dist

    converged = False
    it = 0
    for it in range(1, max_iterations + 1):
        cand = (
            salted_gather_join(prepped, _hot, frontier)
            .groupBy("dst")
            .agg(F.min(F.col("dist") + F.col("norm_w")).alias("cand"))
        )
        merged = (
            dist.join(cand, dist["node"] == cand["dst"], "full_outer")
            .select(
                F.coalesce(F.col("node"), F.col("dst")).alias("node"),
                F.least(F.col("dist"), F.col("cand")).alias("dist"),
                (
                    F.col("dist").isNull()
                    | (F.col("cand").isNotNull() & (F.col("cand") < F.col("dist")))
                ).alias("_improved"),
            )
        )
        obs = Observation()
        merged = merged.observe(
            obs, F.sum(F.when(F.col("_improved"), 1).otherwise(0)).alias("improved")
        )
        new_dist = loop.commit(merged, it, {}, observation=obs)
        improved = int(obs.get.get("improved") or 0)
        frontier = new_dist.filter(F.col("_improved")).select("node", "dist")
        dist = new_dist.select("node", "dist")
        if improved == 0:
            converged = True
            break

    prepped.unpersist()
    negative_cycle = not converged and it >= n
    return PathResult(
        distances=dist.select(F.col("node").alias("node_id"), F.col("dist").alias("distance")),
        ran_iterations=it,
        did_converge=converged,
        negative_cycle=negative_cycle,
        loop=loop,
    )


def delta_stepping(
    graph: LinkGraph,
    source: int,
    delta: float = 2.0,
    weighted: bool = True,
    max_iterations: int | None = None,
    checkpoint_dir: str | None = None,
    hot_degree_threshold: int = 2_000_000,
) -> PathResult:
    """Single-source shortest distances with REAL delta-stepping bucket
    discipline (reference ``paths/delta/DeltaStepping.java:52-164``,
    Meyer & Sanders Δ-stepping as GDS implements it: no light/heavy edge
    split — each RELAX phase relaxes every out-edge of the nodes in the
    current bin, then the sync barrier picks the globally smallest
    non-empty bin, default ``delta`` 2.0 per
    ``AllShortestPathsDeltaBaseConfig``).

    BSP expression: state is (node, dist, pending) where pending marks
    nodes improved since they were last relaxed (= sitting in some bin).
    Each round processes ``bin = min ⌊dist/Δ⌋ over pending`` — the
    frontier is pending ∩ that bin; its out-edges relax in one join +
    min-aggregate; the merge settles the frontier (pending←false) unless
    re-improved, marks improved nodes pending, and the NEXT round's bin
    and the improved count both ride the commit action as Observation
    aggregates. A relaxation from bin i can never produce a distance
    below i·Δ (weights ≥ 0), so processing the minimum bin to exhaustion
    before moving on reproduces the reference's processing order exactly;
    termination = no pending nodes.

    vs plain frontier Bellman-Ford (``shortest_paths``): identical
    results (both converge to the true distances); the bucket discipline
    bounds the number of times a high-diameter weighted graph re-relaxes
    long-range edges — a node is only processed once its distance is
    within Δ of final (bins below the current one are settled), where
    eager relaxation may cascade corrections. The A/B on the bench
    fixtures is recorded in SURVEY §2.B; weights must be ≥ 0 (the
    reference shares this precondition; negative weights route to
    ``shortest_paths``'s Bellman-Ford cycle detection).
    """
    if delta <= 0:
        raise ValueError("delta must be > 0")
    spark = graph.edges.sparkSession
    n = graph.with_node_count()
    if max_iterations is None:
        max_iterations = 4 * (n + 1)
    e = graph.edges if weighted else graph.edges.select("src", "dst", F.lit(1.0).alias("weight"))
    prepped, _hot = cache_edges(
        e.select("src", "dst", F.col("weight").cast("double").alias("norm_w")),
        hot_degree_threshold,
    )

    loop = SuperstepLoop(
        spark,
        "delta_stepping",
        checkpoint_dir,
        edges=graph.edges,
        params={"algo": "delta", "source": source, "delta": delta, "weighted": weighted},
    )
    loop.predict(node_count=n, state_row_bytes=33)  # (node, dist, pending)
    resumed = loop.resume()
    if resumed is not None:
        # the bin schedule is a pure function of the committed state:
        # current bin = min ⌊dist/Δ⌋ over pending nodes
        dist, start = resumed[0], resumed[1] + 1
        row = dist.filter(F.col("pending")).agg(
            F.min(F.floor(F.col("dist") / F.lit(float(delta)))).alias("b")
        ).collect()[0]
        if row["b"] is None:
            prepped.unpersist()
            return PathResult(
                distances=dist.select(
                    F.col("node").alias("node_id"), F.col("dist").alias("distance")
                ),
                ran_iterations=resumed[1],
                did_converge=True,
                negative_cycle=False,
                loop=loop,
            )
        current_bin = int(row["b"])
    else:
        dist = spark.createDataFrame(
            [(int(source), 0.0, True)], "node long, dist double, pending boolean"
        )
        dist = loop.commit(dist, 0, {"frontier": 1})
        start = 1
        current_bin = 0

    converged = False
    it = start - 1
    for it in range(start, max_iterations + 1):
        bin_col = F.floor(F.col("dist") / F.lit(float(delta)))
        frontier = dist.filter(F.col("pending") & (bin_col == F.lit(int(current_bin)))).select(
            "node", "dist"
        )
        cand = (
            salted_gather_join(prepped, _hot, frontier)
            .groupBy("dst")
            .agg(F.min(F.col("dist") + F.col("norm_w")).alias("cand"))
        )
        in_frontier = F.col("pending") & (bin_col == F.lit(int(current_bin)))
        merged = (
            dist.join(cand, dist["node"] == cand["dst"], "full_outer")
            .select(
                F.coalesce(F.col("node"), F.col("dst")).alias("node"),
                F.least(F.col("dist"), F.col("cand")).alias("dist"),
                F.when(
                    F.col("dist").isNull()
                    | (F.col("cand").isNotNull() & (F.col("cand") < F.col("dist"))),
                    F.lit(True),  # newly reached or improved → (re)enter its bin
                )
                .when(in_frontier, F.lit(False))  # relaxed this round, not improved → settled
                .otherwise(F.coalesce(F.col("pending"), F.lit(False)))
                .alias("pending"),
            )
        )
        obs = Observation()
        merged = merged.observe(
            obs,
            F.min(
                F.when(F.col("pending"), F.floor(F.col("dist") / F.lit(float(delta))))
            ).alias("next_bin"),
        )
        dist = loop.commit(merged, it, {}, observation=obs)
        next_bin = obs.get.get("next_bin")
        if next_bin is None:
            converged = True
            break
        current_bin = int(next_bin)

    prepped.unpersist()
    return PathResult(
        distances=dist.select(F.col("node").alias("node_id"), F.col("dist").alias("distance")),
        ran_iterations=it,
        did_converge=converged,
        negative_cycle=False,
        loop=loop,
    )


@dataclass
class AllShortestPathsResult:
    distances: DataFrame  # (source_node long, target_node long, distance double)
    ran_iterations: int
    did_converge: bool
    sampled: bool


def all_shortest_paths(
    graph: LinkGraph,
    sources=None,
    weighted: bool = True,
    max_iterations: int | None = None,
    exact_source_limit: int | None = None,
    checkpoint_dir: str | None = None,
    hot_degree_threshold: int = 2_000_000,
) -> AllShortestPathsResult:
    """All-pairs shortest distances, streamed as (source, target, distance)
    rows for reachable pairs (reference
    ``algo/.../allshortestpaths/WeightedAllShortestPaths.java`` — a Dijkstra
    per source — and ``MSBFSAllShortestPaths.java`` for ``weighted=False``).

    Spark shape: ALL sources relax together in one (source, node)-keyed
    frontier — the reference runs |V| sequential Dijkstras over a shared
    CSR; here every relaxation round is ONE join of the pair frontier
    against the cached, src-partitioned edge table plus one min-aggregate,
    so the whole computation costs O(longest-path-hops) shuffles no matter
    how many sources run (the MSBFS batching idea generalized past 64
    lanes). State is O(|sources| * reachable) pair rows — exact all-pairs
    is quadratic OUTPUT, so above ``exact_source_limit`` nodes the engine
    auto-samples sources with a logged cap rather than melt down
    (``guard_all_sources``); pass explicit ``sources`` to control it.
    """
    from graph_data_science_spark.algorithms.centrality_extra import (
        DEFAULT_EXACT_SOURCE_LIMIT,
        guard_all_sources,
    )

    spark = graph.edges.sparkSession
    n = graph.with_node_count()
    if max_iterations is None:
        max_iterations = n + 1

    if isinstance(sources, (list, tuple)):
        sources = spark.createDataFrame(
            [(int(s),) for s in sources], "node_id long"
        )
    src_frame, sampled = guard_all_sources(
        graph,
        sources,
        "all_shortest_paths",
        exact_source_limit=exact_source_limit or DEFAULT_EXACT_SOURCE_LIMIT,
    )
    if src_frame is None:
        src_frame = graph.node_ids()

    e = graph.edges if weighted else graph.edges.select("src", "dst", F.lit(1.0).alias("weight"))
    prepped, _hot = cache_edges(
        e.select("src", "dst", F.col("weight").cast("double").alias("norm_w")),
        hot_degree_threshold,
    )

    loop = SuperstepLoop(
        spark,
        "asp",
        checkpoint_dir,
        edges=graph.edges,
        params={"algo": "asp", "weighted": weighted},
    )
    n_sources = src_frame.count()
    # State is (source, node, dist) pairs — worst case every source reaches
    # every node, so predict the quadratic bound (the honest number the
    # auto-sample guard exists to keep small).
    loop.predict(node_count=n_sources * n, state_row_bytes=40)

    dist = src_frame.select(
        F.col("node_id").alias("source"),
        F.col("node_id").alias("node"),
        F.lit(0.0).alias("dist"),
    )
    dist = loop.commit(dist, 0, {"frontier": n_sources})
    frontier = dist

    converged = False
    it = 0
    for it in range(1, max_iterations + 1):
        # The aliases break the shared lineage between dist and cand (both
        # descend from the same committed frame) — without them Spark's
        # ambiguous-self-join check rejects the merge condition.
        cand = (
            salted_gather_join(prepped, _hot, frontier)
            .groupBy("source", "dst")
            .agg(F.min(F.col("dist") + F.col("norm_w")).alias("cand"))
            .select(
                F.col("source").alias("_csrc"),
                F.col("dst").alias("_cdst"),
                "cand",
            )
        )
        merged = (
            dist.join(
                cand,
                (dist["source"] == cand["_csrc"]) & (dist["node"] == cand["_cdst"]),
                "full_outer",
            )
            .select(
                F.coalesce(F.col("source"), F.col("_csrc")).alias("source"),
                F.coalesce(F.col("node"), F.col("_cdst")).alias("node"),
                F.least(F.col("dist"), F.col("cand")).alias("dist"),
                (
                    F.col("dist").isNull()
                    | (F.col("cand").isNotNull() & (F.col("cand") < F.col("dist")))
                ).alias("_improved"),
            )
        )
        obs = Observation()
        merged = merged.observe(
            obs, F.sum(F.when(F.col("_improved"), 1).otherwise(0)).alias("improved")
        )
        new_dist = loop.commit(merged, it, {}, observation=obs)
        improved = int(obs.get.get("improved") or 0)
        frontier = new_dist.filter(F.col("_improved")).select("source", "node", "dist")
        dist = new_dist.select("source", "node", "dist")
        if improved == 0:
            converged = True
            break

    prepped.unpersist()
    return AllShortestPathsResult(
        distances=dist.select(
            F.col("source").alias("source_node"),
            F.col("node").alias("target_node"),
            F.col("dist").alias("distance"),
        ),
        ran_iterations=it,
        did_converge=converged,
        sampled=sampled,
    )


@dataclass
class DijkstraResult:
    # (index long, source_node long, target_node long, total_cost double,
    #  node_ids array<long>, costs array<double>) — the reference's
    # PathFindingResult row shape.
    paths: DataFrame
    distances: DataFrame  # (node_id long, distance double, parent long)
    ran_iterations: int
    did_converge: bool


def dijkstra(
    graph: LinkGraph,
    source: int,
    targets: list[int] | None = None,
    weighted: bool = True,
    max_iterations: int | None = None,
    heuristic: DataFrame | None = None,
    hot_degree_threshold: int = 2_000_000,
) -> DijkstraResult:
    """Weighted single-source shortest paths WITH path reconstruction
    (reference ``algo/.../paths/dijkstra/Dijkstra.java:45``; result shape
    ``PathFindingResult`` — index, sourceNode, targetNode, totalCost,
    nodeIds, costs). ``targets=None`` streams every reachable node
    (single-source mode); a target list restricts the output (source-target
    mode). The source itself is emitted with totalCost 0 and path
    ``[source]``.

    Spark shape — two pure-Catalyst loops:

    1. distance pass: the same frontier relaxation as ``shortest_paths``
       with a parent column; the per-target min-reduce takes the
       ``(cost, parent)`` STRUCT minimum, so ties break deterministically
       to the smaller parent id (the reference's heap pops an arbitrary
       equal-cost predecessor; a distributed engine needs the
       deterministic choice);
    2. backtracking pass: O(max path length) rounds, each one join of the
       unfinished walks against the (node, parent, dist) map, prepending
       the parent to the node/cost arrays. The cost array is the running
       cumulative cost per hop, exactly the reference's ``costs()``.

    Dijkstra's priority queue is a work-*ordering* optimization for shared
    memory; bulk-synchronous relaxation does the same relaxations per
    shuffle round and converges to the identical fixpoint on non-negative
    weights (it also tolerates negative edges, Bellman-Ford style).

    ``heuristic``: optional (node_id, h double) frame of an ADMISSIBLE
    lower bound on the remaining cost to the (single) target — the A*
    hook (reference ``Dijkstra.java`` ``Optional<HeuristicFunction>``,
    used by ``AStar.java:37``). Requires ``targets == [t]``. Each round
    the frontier drops nodes with ``dist + h > best known target dist``
    (observed in the commit job, no extra action); admissibility
    guarantees no optimal-path relaxation is ever pruned, so the target
    row is exact. With pruning active, the ``distances`` frame for
    NON-target nodes is search-internal (correct upper bounds, possibly
    unsettled) — only the target's path row is a result.
    """
    from graph_data_science_spark.pregel.superstep import (
        materialize_roundtrip,
        roundtrip_mark,
        roundtrip_release,
    )

    spark = graph.edges.sparkSession
    n = graph.with_node_count()
    if max_iterations is None:
        max_iterations = n + 1
    e = graph.edges if weighted else graph.edges.select("src", "dst", F.lit(1.0).alias("weight"))
    prepped, _hot = cache_edges(
        e.select("src", "dst", F.col("weight").cast("double").alias("norm_w")),
        hot_degree_threshold,
    )
    _mark = roundtrip_mark()

    prune_target: int | None = None
    hdf = None
    if heuristic is not None:
        if not targets or len(targets) != 1:
            raise ValueError("heuristic pruning requires exactly one target (A* is source-target)")
        prune_target = int(targets[0])
        hdf = heuristic.select(
            F.col("node_id").alias("node"), F.col("h").cast("double").alias("h")
        )
    ub = float("inf")

    dist = spark.createDataFrame(
        [(int(source), 0.0, None)], "node long, dist double, parent long"
    )
    dist = materialize_roundtrip(dist, tag="dij", keep_last=2)
    frontier = dist
    converged = False
    it = 0
    for it in range(1, max_iterations + 1):
        cand = (
            salted_gather_join(prepped, _hot, frontier)
            .groupBy("dst")
            .agg(
                F.min(
                    F.struct(
                        (F.col("dist") + F.col("norm_w")).alias("cand"),
                        F.col("src").alias("parent"),
                    )
                ).alias("m")
            )
            .select("dst", F.col("m.cand").alias("cand"), F.col("m.parent").alias("cand_parent"))
        )
        obs = Observation()
        merged = (
            dist.join(cand, dist["node"] == cand["dst"], "full_outer")
            .select(
                F.coalesce(F.col("node"), F.col("dst")).alias("node"),
                F.least(F.col("dist"), F.col("cand")).alias("ndist"),
                (
                    F.col("dist").isNull()
                    | (F.col("cand").isNotNull() & (F.col("cand") < F.col("dist")))
                ).alias("_improved"),
                F.col("parent"),
                F.col("cand_parent"),
            )
            .select(
                "node",
                F.col("ndist").alias("dist"),
                F.when(F.col("_improved"), F.col("cand_parent"))
                .otherwise(F.col("parent"))
                .alias("parent"),
                "_improved",
            )
            .observe(
                obs,
                F.sum(F.when(F.col("_improved"), 1).otherwise(0)).alias("improved"),
                F.min(
                    F.when(F.col("node") == F.lit(prune_target), F.col("dist"))
                    if prune_target is not None
                    else F.lit(None).cast("double")
                ).alias("target_dist"),
            )
        )
        new_dist = materialize_roundtrip(merged, tag="dij", keep_last=2)
        improved = int(obs.get.get("improved") or 0)
        frontier = new_dist.filter(F.col("_improved")).select("node", "dist")
        if hdf is not None:
            td = obs.get.get("target_dist")
            if td is not None:
                ub = min(ub, float(td))
            if ub != float("inf"):
                frontier = (
                    frontier.join(hdf, "node", "left")
                    .filter(F.col("dist") + F.coalesce(F.col("h"), F.lit(0.0)) <= F.lit(ub))
                    .select("node", "dist")
                )
        dist = new_dist.select("node", "dist", "parent")
        if improved == 0:
            converged = True
            break
    prepped.unpersist()

    # ---- backtracking: prepend parents until every walk reaches source ----
    # pm carries the PARENT's cumulative distance (pdist) — the value the
    # costs array needs at the prepended position.
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
        F.array(F.col("node")).alias("node_ids"),
        F.array(F.col("dist")).alias("costs"),
    )
    walk = materialize_roundtrip(walk, tag="dij_walk", keep_last=2)
    src_lit = F.lit(int(source))
    for _ in range(max_iterations + 1):
        obs = Observation()
        pending = F.col("cur") != src_lit
        stepped = (
            walk.join(pm, walk["cur"] == pm["pnode"], "left")
            .select(
                "target_node",
                "total_cost",
                F.when(pending, F.col("pparent")).otherwise(F.col("cur")).alias("cur"),
                F.when(pending, F.concat(F.array(F.col("pparent")), F.col("node_ids")))
                .otherwise(F.col("node_ids"))
                .alias("node_ids"),
                F.when(pending, F.concat(F.array(F.col("pdist")), F.col("costs")))
                .otherwise(F.col("costs"))
                .alias("costs"),
            )
            .observe(
                obs,
                F.sum(F.when(F.col("cur") != src_lit, 1).otherwise(0)).alias("pending"),
            )
        )
        walk = materialize_roundtrip(stepped, tag="dij_walk", keep_last=2)
        if not int(obs.get.get("pending") or 0):
            break

    # PathFindingResult index: bucketed order-preserving rank — one path
    # row per reachable target can be O(V), so no partition-less window.
    from graph_data_science_spark.graph.ranks import ordered_rank

    indexed = ordered_rank(
        walk, ["total_cost", "target_node"], rank_col="index", n_buckets=None
    )
    paths = materialize_roundtrip(
        indexed.select(
            F.col("index").cast("long").alias("index"),
            F.lit(int(source)).alias("source_node"),
            "target_node",
            "total_cost",
            "node_ids",
            "costs",
        ),
        tag="dij_out",
    )
    dist_out = materialize_roundtrip(
        dist.select(F.col("node").alias("node_id"), F.col("dist").alias("distance"), "parent"),
        tag="dij_out",
    )
    roundtrip_release(_mark, keep=[paths, dist_out])
    return DijkstraResult(
        paths=paths,
        distances=dist_out,
        ran_iterations=it,
        did_converge=converged,
    )


def bfs_levels(
    graph: LinkGraph,
    source: int,
    max_depth: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node_id, level): minimum hop count from ``source`` along edge
    direction; unreachable nodes omitted (reference BFS.java:62 — depth is
    the distributed-stable invariant of the traversal)."""
    res = shortest_paths(
        graph,
        source,
        weighted=False,
        max_iterations=max_depth,
        checkpoint_dir=checkpoint_dir,
    )
    return res.distances.select("node_id", F.col("distance").cast("long").alias("level"))


EARTH_RADIUS_NM = 6371 * 0.539957  # reference AStar.java: EARTH_RADIUS_IN_NM


def haversine_nm(lat1, lon1, lat2, lon2):
    """Great-circle distance in nautical miles as a Column expression —
    bit-for-bit the reference's ``AStar.HaversineHeuristic.distance``
    (rosettacode haversine over EARTH_RADIUS_IN_NM = 6371 km · 0.539957)."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.pow(F.sin(dlon / 2), 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_NM) * F.asin(F.sqrt(a))


def astar(
    graph: LinkGraph,
    source: int,
    target: int,
    coords: DataFrame,
    weighted: bool = True,
    max_iterations: int | None = None,
) -> DijkstraResult:
    """A* source-target shortest path (reference ``paths/astar/AStar.java:37``):
    Dijkstra with the haversine heuristic over node ``coords``
    (node_id, latitude, longitude). The heuristic is admissible when edge
    weights are great-circle nautical-mile distances (the reference's
    documented contract); the result equals Dijkstra's (A* is exact), the
    heuristic only prunes the frontier. On Spark the priority-queue
    ordering aspect of A* has no analog (rounds are bulk-synchronous);
    what survives — and what pays at scale — is the bound-based frontier
    pruning, applied here against the best target distance observed so
    far. The returned ``paths`` frame contains the single target row;
    ``distances`` is the pruned search state (see ``dijkstra``)."""
    trow = coords.filter(F.col("node_id") == int(target)).select("latitude", "longitude").collect()
    if not trow:
        raise ValueError(f"target {target} has no coordinates")
    tlat, tlon = float(trow[0]["latitude"]), float(trow[0]["longitude"])
    heuristic = coords.select(
        "node_id",
        haversine_nm(
            F.col("latitude"), F.col("longitude"), F.lit(tlat), F.lit(tlon)
        ).alias("h"),
    )
    res = dijkstra(
        graph,
        source,
        targets=[int(target)],
        weighted=weighted,
        max_iterations=max_iterations,
        heuristic=heuristic,
    )
    return res
