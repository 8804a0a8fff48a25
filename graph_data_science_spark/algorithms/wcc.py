"""Weakly Connected Components via min-label propagation + pointer doubling.

GDS computes WCC with a wait-free CAS union-find with union-by-min, so each
component's id is the minimum mapped node id of its members (reference
``core/.../paged/dss/HugeAtomicDisjointSetStruct.java:163-191`` union,
``:113-130`` find with path halving). Shared-memory CAS has no analog on a
shared-nothing cluster, so we reach the identical fixpoint with join
algebra (SURVEY.md §2.B):

per round (all Catalyst hash joins/aggregations):
  1. neighbor-min: ``comp'(v) = min(comp(v), min_{u ~ v} comp(u))`` over the
     symmetrized edge set — one join + groupBy(dst).min;
  2. pointer doubling: ``comp''(v) = comp(comp'(v))`` — a self-join, the
     distributed analog of union-find path halving; collapses long chains
     in O(log diameter) rounds instead of O(diameter).

Converged when no label changes; result equals union-by-min exactly.

Options mirrored from GDS: weight ``threshold`` (union only edges with
``w > threshold`` — ``WccBaseConfig.java:32-39``); orientation-insensitive
(NATURAL/REVERSE/UNDIRECTED give identical results — WccTest.java:288-305 —
because we symmetrize internally).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graph_data_science_spark.graph.build import LinkGraph
from graph_data_science_spark.pregel.spmv import cache_edges, salted_gather_join
from graph_data_science_spark.pregel.superstep import (
    SuperstepLoop,
    free_checkpointed,
)


@dataclass
class WccResult:
    components: DataFrame  # (node_id long, component long)
    ran_iterations: int
    loop: SuperstepLoop


def wcc(
    graph: LinkGraph,
    threshold: float | None = None,
    max_iterations: int = 100,
    checkpoint_dir: str | None = None,
    seeds: DataFrame | None = None,
    hot_degree_threshold: int = 2_000_000,
) -> WccResult:
    """``seeds``: optional (node_id, seed long) frame mirroring GDS
    ``seedProperty`` (``WccBaseConfig.java:32-39``,
    ``Wcc.java:101-104`` incremental DSS): seeded nodes start in their
    seed component; unseeded nodes get fresh ids above every seed
    (``max_seed + 1 + node_id``), so an unseeded node can never capture a
    seeded component's id; merges still take the component minimum.

    ``hot_degree_threshold``: a vertex whose (symmetrized) degree exceeds
    this has its edges salted across ``ceil(degree/threshold)``
    sub-partitions for the per-round neighbor-min gather — same straggler
    fix as the rank loops' SQL-path salting (min is reducible, so the
    per-partition partial agg re-combines exactly). The pointer-doubling
    self-join's skew (every member of a giant component probes the same
    root row) is NOT salted here: that straggler is O(|V_component|) rows
    of cheap merge-scan per round, and the contraction paths
    (``wcc_star``/``wcc_sampled``) are the documented escape for
    power-law graphs where it binds."""
    spark = graph.edges.sparkSession
    e = graph.edges
    if threshold is not None:
        e = e.filter(F.col("weight") > threshold)
    # Symmetrize once; parallel edges are harmless under min().
    sym = e.select("src", "dst").union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym, hot = cache_edges(sym, hot_degree_threshold)

    loop = SuperstepLoop(
        spark,
        "wcc",
        checkpoint_dir,
        edges=graph.edges,
        params={"algo": "wcc", "threshold": threshold, "seeded": seeds is not None},
    )
    resumed = loop.resume()
    if resumed is not None:
        labels, start = resumed[0], resumed[1] + 1
    else:
        if seeds is not None:
            max_seed = seeds.agg(F.max("seed").alias("m")).collect()[0]["m"]
            base = int(max_seed) + 1 if max_seed is not None else 0
            labels = (
                graph.node_ids()
                .join(seeds, "node_id", "left")
                .select(
                    F.col("node_id").alias("node"),
                    F.coalesce(F.col("seed"), F.col("node_id") + F.lit(base)).alias("comp"),
                )
            )
        else:
            labels = graph.node_ids().select(
                F.col("node_id").alias("node"), F.col("node_id").alias("comp")
            )
        labels = loop.commit(labels, 0, {})
        start = 1

    it = start - 1
    for it in range(start, max_iterations + 1):
        nbr_min = salted_gather_join(sym, hot, labels).groupBy(F.col("dst").alias("n")).agg(
            F.min("comp").alias("nbr_comp")
        )
        stepped = (
            labels.join(nbr_min, labels["node"] == nbr_min["n"], "left")
            .select(
                "node",
                F.col("comp").alias("old_comp"),
                F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias("comp1"),
            )
        )
        # Pointer doubling: comp2 = comp1(comp1(v)) — distributed path halving.
        # Only valid when labels ARE node ids (unseeded): a seed label that
        # happens to equal an unrelated node's id would alias into that
        # node's component and merge components that never touched.
        if seeds is None:
            parent = stepped.select(F.col("node").alias("p_node"), F.col("comp1").alias("p_comp"))
            doubled = (
                stepped.join(parent, stepped["comp1"] == parent["p_node"], "left")
                .select(
                    "node",
                    "old_comp",
                    F.least(F.col("comp1"), F.coalesce(F.col("p_comp"), F.col("comp1"))).alias("comp"),
                )
            )
        else:
            doubled = stepped.select("node", "old_comp", F.col("comp1").alias("comp"))
        obs = Observation()
        doubled = doubled.observe(
            obs, F.sum(F.when(F.col("comp") != F.col("old_comp"), 1).otherwise(0)).alias("changed")
        )
        labels = loop.commit(doubled.select("node", "comp"), it, observation=obs)
        if not (obs.get.get("changed") or 0):
            break

    sym.unpersist()
    return WccResult(
        components=labels.select(F.col("node").alias("node_id"), F.col("comp").alias("component")),
        ran_iterations=it,
        loop=loop,
    )


def _large_star(pairs: DataFrame) -> DataFrame:
    """One large-star round over canonical (s < b) pairs.

    For every node u: m(u) = min(Γ(u) ∪ {u}); every strictly-larger
    neighbor v re-attaches to m(u). Since m(u) ≤ u < v the output pairs
    are canonical by construction. Duplicate pairs are NOT folded here —
    the following small-star round is duplicate-safe (min-agg + join) and
    ends with the round's one ``distinct()``; dropping the intermediate
    fold saves a full shuffle per round.
    """
    nbrs = pairs.select(F.col("s").alias("u"), F.col("b").alias("v")).union(
        pairs.select(F.col("b").alias("u"), F.col("s").alias("v"))
    )
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("m").alias("s"), F.col("v").alias("b"))
        .filter(F.col("s") != F.col("b"))
    )


def _small_star(pairs: DataFrame) -> DataFrame:
    """One small-star round: every node b re-attaches its smaller
    neighborhood N = {s : (s,b)} to m = min(N); b itself links to m.
    m < s and m < b for every emitted pair, so output stays canonical."""
    mins = pairs.groupBy("b").agg(F.min("s").alias("m"))
    joined = pairs.join(mins, "b")
    re_attached = joined.filter(F.col("s") != F.col("m")).select(
        F.col("m").alias("s"), F.col("s").alias("b")
    )
    up_links = mins.select(F.col("m").alias("s"), "b")
    return re_attached.union(up_links).distinct()


def wcc_star(
    graph: LinkGraph,
    threshold: float | None = None,
    max_iterations: int = 64,
    checkpoint_dir: str | None = None,
) -> WccResult:
    """WCC via alternating large-star / small-star contraction (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    scale path for very large graphs: unlike min-label propagation
    (``wcc()``), which joins the FULL symmetrized edge set every round,
    star contraction REWRITES the edge set each round, so the frame being
    shuffled contracts toward a star forest (one edge per non-root node)
    as components collapse. Reaches the identical union-by-min fixpoint as
    GDS's CAS union-find (``core/.../dss/HugeAtomicDisjointSetStruct.java:163-191``):
    component id = min member node id.

    Scale notes: pairs are kept canonical (s < b), halving state vs a
    symmetrized list; ``distinct()`` per round folds the multi-edges that
    contraction creates, keeping |E| monotone-bounded; group keys are raw
    node ids (uniform under hash partitioning), and the late-round skew on
    component roots is AQE's skew-join case — inherent to the star shape,
    same as union-find root contention in the reference. Convergence is
    detected EXACTLY: a round pair that leaves the canonical edge set
    unchanged is the paper's fixpoint, never a heuristic label check — and
    the check rides the commit action itself (an ``observe`` over the
    full-outer join of old vs new pairs, placed BEFORE the keep-new
    filter), so each round is exactly ONE Spark action instead of the
    previous commit + two anti-join counts.

    ``seeds`` are not supported here — seed labels are not node ids, which
    star contraction requires; use ``wcc(seeds=...)``.
    """
    spark = graph.edges.sparkSession
    e = graph.edges
    if threshold is not None:
        e = e.filter(F.col("weight") > threshold)
    pairs = (
        e.select(F.least("src", "dst").alias("s"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("s") != F.col("b"))
        .distinct()
        .repartition("b")
    )

    # auto_free_prev=False: the convergence full-outer join reads the
    # PREVIOUS round's committed frame during the new commit; it is freed
    # manually below once the round completes.
    loop = SuperstepLoop(
        spark,
        "wcc_star",
        checkpoint_dir,
        edges=graph.edges,
        params={"algo": "wcc_star", "threshold": threshold},
        auto_free_prev=False,
    )
    resumed = loop.resume()
    if resumed is not None:
        pairs, start = resumed[0], resumed[1] + 1
    else:
        pairs = loop.commit(pairs, 0, {})
        start = 1

    it = start - 1
    for it in range(start, max_iterations + 1):
        stepped = _small_star(_large_star(pairs))
        # One action per round: full-outer old-vs-new with the symmetric
        # difference observed before filtering back down to the new set.
        j = pairs.withColumn("_old", F.lit(1)).join(
            stepped.withColumn("_new", F.lit(1)), ["s", "b"], "full_outer"
        )
        obs = Observation()
        j = j.observe(
            obs,
            F.sum(
                F.when(F.col("_old").isNull() | F.col("_new").isNull(), 1).otherwise(0)
            ).alias("changed"),
        )
        stepped = loop.commit(
            j.filter(F.col("_new").isNotNull()).select("s", "b"), it, observation=obs
        )
        changed = obs.get.get("changed") or 0
        free_checkpointed(pairs)
        pairs = stepped
        if changed == 0:
            break

    roots = pairs.groupBy("b").agg(F.min("s").alias("m"))
    components = (
        graph.node_ids()
        .join(roots, F.col("node_id") == F.col("b"), "left")
        .select("node_id", F.coalesce(F.col("m"), F.col("node_id")).alias("component"))
    )
    return WccResult(components=components, ran_iterations=it, loop=loop)


def wcc_sampled(
    graph: LinkGraph,
    threshold: float | None = None,
    neighbor_rounds: int = 2,
    max_iterations: int = 100,
) -> WccResult:
    """WCC via the reference's Afforest sampled strategy
    (``wcc/SampledStrategy.java:47``, Sutton/Ben-Nun/Barak "Optimizing
    Parallel Graph Connectivity Computation via Subgraph Sampling"):

    1. *Sample*: union-find over only the first ``NEIGHBOR_ROUNDS = 2``
       neighbors of every node (``SampledStrategy.NEIGHBOR_ROUNDS``) —
       here the ``neighbor_rounds`` smallest neighbors per node, the
       deterministic cluster-reproducible analog of "first k of the
       adjacency cursor". On power-law graphs this alone assembles most
       of the giant component at ~2|V| edge work.
    2. *Skip the largest component*: the reference samples 1024 nodes to
       find it, then skips its members' remaining adjacency. The shuffle
       analog is CONTRACTION, which subsumes the skip exactly: every
       remaining edge is mapped to (comp(src), comp(dst)) and self-loops
       dropped — all edges internal to the giant component (or any
       sampled component) vanish in that one map, not just the largest
       one, so the follow-up runs on a component graph that is orders of
       magnitude smaller.
    3. *Link remaining*: full WCC on the contracted component graph;
       final label = phase-3 component of the phase-1 component.

    Reaches the identical union-by-min fixpoint as ``wcc()`` / GDS's CAS
    DSS: phase-1 ids are component-minimum node ids, and union-by-min over
    those minima yields the global minimum per merged component.
    """
    spark = graph.edges.sparkSession
    from pyspark.sql import Window

    e = graph.edges
    if threshold is not None:
        e = e.filter(F.col("weight") > threshold)
    sym = e.select("src", "dst").union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    w = Window.partitionBy("src").orderBy("dst")
    ranked = sym.withColumn("_r", F.row_number().over(w))
    sampled = ranked.filter(F.col("_r") <= int(neighbor_rounds)).select(
        "src", "dst", F.lit(1.0).alias("weight")
    )

    phase1 = wcc(
        LinkGraph(edges=sampled, vertices=graph.node_ids(), node_count=graph.node_count),
        max_iterations=max_iterations,
    )
    labels = phase1.components.persist()
    labels.count()

    # Contraction: remaining edges in component space; self-loops (edges
    # internal to any sampled component — the giant one included) vanish.
    rest = ranked.filter(F.col("_r") > int(neighbor_rounds)).select("src", "dst")
    lsrc = labels.select(F.col("node_id").alias("src"), F.col("component").alias("c_src"))
    ldst = labels.select(F.col("node_id").alias("dst"), F.col("component").alias("c_dst"))
    contracted = (
        rest.join(lsrc, "src")
        .join(ldst, "dst")
        .filter(F.col("c_src") != F.col("c_dst"))
        .select(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    comp_nodes = labels.select(F.col("component").alias("node_id")).distinct()
    phase3 = wcc(
        LinkGraph(edges=contracted, vertices=comp_nodes, node_count=graph.node_count),
        max_iterations=max_iterations,
    )

    comp_map = phase3.components.select(
        F.col("node_id").alias("_c1"), F.col("component").alias("_final")
    )
    final = labels.join(comp_map, labels["component"] == comp_map["_c1"], "left").select(
        "node_id",
        F.coalesce(F.col("_final"), F.col("component")).alias("component"),
    )
    labels.unpersist()
    return WccResult(
        components=final,
        ran_iterations=phase1.ran_iterations + phase3.ran_iterations,
        loop=phase3.loop,
    )
