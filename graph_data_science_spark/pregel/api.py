"""User-programmable Pregel API — the engine's analog of the reference's
``PregelComputation`` (``pregel/src/main/java/org/neo4j/gds/beta/pregel/
PregelComputation.java``, ``BasePregelComputation.java:94``; runtime
``Pregel.java:204-242``; vote-to-halt ``ComputeStep.java:63-76``; reducers
``Reducer.java:34-86``; weight hook ``applyRelationshipWeight``,
``PageRankComputation.java:107-109``).

Where GDS users write per-node Java (``init``/``compute`` over cursors),
users here supply **column expressions** — every hook stays inside
Catalyst/whole-stage codegen, so a custom Pregel algorithm inherits the
engine's scale story (co-partitioned cached edges, one shuffle per
superstep on the reduced messages, Observation-fused convergence, and
SuperstepLoop checkpoint/resume) with zero per-row Python.

Semantics preserved from the reference:

- schema init sees the node id, its (out-)degree and the node count —
  the ``InitContext`` surface the examples use;
- messages are reduced (Sum/Min/Max/Count) exactly like the reducing
  messenger — the shuffle IS the reduce;
- vote-to-halt: a halted node neither computes nor sends; an incoming
  message wakes it (``ComputeStep.java:63-76``);
- convergence = no messages sent AND all nodes halted
  (``PartitionedComputer.java:88-93``); computations that never halt run
  to ``max_iterations`` like GDS;
- ``master_compute`` runs on the driver between supersteps with the
  superstep's aggregates and may stop the loop (``Pregel.java:249-253``).

One declared deviation: GDS interleaves receive→update→send inside a
single ``compute()`` call; here a superstep is update(messages from the
previous round) then send. A node that updates and immediately halts
still has its post-update value broadcast once in the next round (the
reducers are idempotent for exactly the algorithms that halt — min/max —
so results are identical; delta-push "send only when changed" is
expressed by null-gating the message expression on a state column).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from graph_data_science_spark.graph.build import LinkGraph
from graph_data_science_spark.pregel.spmv import cache_edges, salted_gather_join
from graph_data_science_spark.pregel.superstep import SuperstepLoop

_REDUCERS = {"sum": F.sum, "min": F.min, "max": F.max, "count": F.count}


@dataclass
class PregelComputation:
    """Declarative Pregel program.

    ``schema``: state column name → initial value — a literal, a Column,
    or a callable ``ctx -> Column`` where ctx is a dict with ``node``
    (Column), ``degree`` (Column, out-degree incl. 0), ``node_count``
    (int). The GDS ``PregelSchema`` + ``init`` in one.

    ``message``: callable ``state -> Column`` — the value a (non-halted)
    node broadcasts along each out-edge; ``state`` maps every schema
    column plus ``node``/``degree``/``node_count`` to Columns. Return a
    null-gated expression (``F.when(cond, val)``) to send nothing — the
    delta-push idiom.

    ``update``: callable ``(state, msg) -> dict`` — new values for any
    subset of schema columns given the reduced message Column (null when
    no message arrived); unmentioned columns keep their value. Runs only
    for nodes that compute this superstep (non-halted, or woken by a
    message).

    ``vote_to_halt``: optional callable ``(state, msg) -> bool Column``
    evaluated on the *post-update* state; None = never halt (run to
    ``max_iterations``, like the PageRank example).

    ``apply_relationship_weight``: optional ``(msg, weight) -> Column``
    (GDS ``applyRelationshipWeight``; default ignores the weight).

    ``aggregates``: name → callable ``state -> aggregate Column`` folded
    into the superstep's Observation (zero extra jobs) and handed to
    ``master_compute(superstep, values) -> bool`` (True stops the loop).
    """

    schema: dict
    message: Callable[[dict], Column]
    update: Callable[[dict, Column], dict]
    reducer: str = "sum"
    vote_to_halt: Callable[[dict, Column], Column] | None = None
    apply_relationship_weight: Callable[[Column, Column], Column] | None = None
    aggregates: dict = field(default_factory=dict)
    master_compute: Callable[[int, dict], bool] | None = None
    name: str = "pregel"


@dataclass
class PregelResult:
    state: DataFrame  # (node_id long, <schema columns>)
    ran_supersteps: int
    converged: bool
    loop: SuperstepLoop


def _ctx(state_cols: list, node_count: int) -> dict:
    d = {c: F.col(c) for c in state_cols}
    d["node"] = F.col("node")
    d["degree"] = F.col("_degree")
    d["node_count"] = node_count
    return d


def run_pregel(
    graph: LinkGraph,
    computation: PregelComputation,
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
    hot_degree_threshold: int = 2_000_000,
) -> PregelResult:
    """Run a :class:`PregelComputation` over ``graph`` (NATURAL
    orientation; project the graph first for REVERSE/UNDIRECTED, as in
    GDS). One Spark job per superstep; state is committed through
    :class:`SuperstepLoop` (kill-resume with lineage validation)."""
    if computation.reducer not in _REDUCERS:
        raise ValueError(f"unknown reducer {computation.reducer!r}; use one of {sorted(_REDUCERS)}")
    reserved = {"active", "received"} & set(computation.aggregates)
    if reserved:
        raise ValueError(f"aggregate names {sorted(reserved)} are reserved by the runtime")
    if "salt" in computation.schema:
        raise ValueError("state column name 'salt' is reserved by the skew runtime")
    reduce_fn = _REDUCERS[computation.reducer]
    spark = graph.edges.sparkSession
    n = graph.with_node_count()

    # Every built-in reducer is associative, so the hot-source salting of
    # the native loops applies to user programs too (spmv.cache_edges):
    # hot senders' edges spread across salt sub-partitions, their sender
    # rows replicated per salt by the gather.
    prepped, hot = cache_edges(
        graph.edges.select("src", "dst", F.col("weight").cast("double").alias("norm_w")),
        hot_degree_threshold,
    )
    degrees = prepped.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("_degree")
    )

    loop = SuperstepLoop(
        spark,
        computation.name,
        checkpoint_dir,
        edges=graph.edges,
        params={"algo": f"pregel:{computation.name}", "reducer": computation.reducer},
    )
    loop.predict(node_count=n, edge_count=graph.relationship_count())

    state_cols = list(computation.schema)
    resumed = loop.resume()
    if resumed is not None:
        state, start = resumed[0], resumed[1] + 1
    else:
        nodes = graph.node_ids().select(F.col("node_id").alias("node"))
        nodes = nodes.join(degrees, "node", "left").select(
            "node", F.coalesce(F.col("_degree"), F.lit(0)).alias("_degree")
        )
        ctx = _ctx(state_cols, n)
        inits = []
        for name, spec in computation.schema.items():
            expr = spec(ctx) if callable(spec) else (spec if isinstance(spec, Column) else F.lit(spec))
            inits.append(expr.alias(name))
        state = nodes.select("node", "_degree", *inits, F.lit(False).alias("_halted"))
        state = loop.commit(state, 0, {})
        start = 1

    converged = False
    it = start - 1
    for it in range(start, max_iterations + 1):
        ctx = _ctx(state_cols, n)
        # -- send: non-halted nodes broadcast message(state) on out-edges.
        senders = state.filter(~F.col("_halted")).select(
            F.col("node").alias("_snd"),
            F.col("_degree"),
            *[F.col(c) for c in state_cols],
        )
        sctx = dict(ctx)
        sctx["node"] = F.col("_snd")
        mexpr = computation.message(sctx)
        if computation.apply_relationship_weight is not None:
            mexpr = computation.apply_relationship_weight(mexpr, F.col("norm_w"))
        msgs = (
            salted_gather_join(prepped, hot, senders, state_key="_snd")
            .select(F.col("dst"), mexpr.alias("_mv"))
            .filter(F.col("_mv").isNotNull())
            .groupBy("dst")
            .agg(reduce_fn("_mv").alias("_msg"))
        )
        # -- receive/update: compute iff not halted OR a message arrived.
        st = state.join(msgs, state["node"] == msgs["dst"], "left").drop("dst")
        computes = (~F.col("_halted")) | F.col("_msg").isNotNull()
        new_vals = computation.update(ctx, F.col("_msg"))
        unknown = set(new_vals) - set(state_cols)
        if unknown:
            raise ValueError(f"update() returned non-schema columns {sorted(unknown)}")
        out_cols = [
            F.when(computes, new_vals[c]).otherwise(F.col(c)).alias(c)
            if c in new_vals
            else F.col(c)
            for c in state_cols
        ]
        stepped = st.select("node", "_degree", *out_cols, computes.alias("_computed"), F.col("_msg"))
        if computation.vote_to_halt is not None:
            halt = computation.vote_to_halt(_ctx(state_cols, n), F.col("_msg"))
        else:
            halt = F.lit(False)
        stepped = stepped.select(
            "node",
            "_degree",
            *state_cols,
            F.when(F.col("_computed"), halt).otherwise(F.lit(True)).alias("_halted"),
            F.col("_msg").isNotNull().cast("int").alias("_rcv"),
        )
        obs = Observation()
        watch = [
            F.sum(F.when(~F.col("_halted"), 1).otherwise(0)).alias("active"),
            F.sum("_rcv").alias("received"),
        ]
        octx = _ctx(state_cols, n)
        for aname, afn in computation.aggregates.items():
            watch.append(afn(octx).alias(aname))
        stepped = stepped.observe(obs, *watch).drop("_rcv")
        state = loop.commit(stepped, it, observation=obs)
        vals = obs.get
        if computation.master_compute is not None and computation.master_compute(it, dict(vals)):
            break
        if not (vals.get("active") or 0) and not (vals.get("received") or 0):
            converged = True
            break

    return PregelResult(
        state=state.select(F.col("node").alias("node_id"), *state_cols),
        ran_supersteps=it,
        converged=converged,
        loop=loop,
    )
