"""Gather-scatter message passing: the SpMV at the heart of every superstep.

GDS's Pregel runs user ``compute()`` over per-node adjacency cursors and
reduces messages atomically on send (reference
``pregel/.../ReducingMessenger.java:85-106``; partitioning
``core/.../partition/PartitionUtils.java:50,126-204``). The Spark
re-expression (SURVEY.md §2.C, §3.3) has two paths:

- **JVM path (scalar, reducible messages)**: the edge table is cached
  hash-partitioned and sorted by its join key (``prep_edges_sql``), so the
  per-round edge⋈state join reads the edge side without an exchange or a
  sort; ``groupBy(dst)`` with a reducible aggregate finishes the reduction
  (Catalyst's partial+final hash aggregation is the reduce-on-send
  analog). Every scalar loop — the rank family, WCC, label propagation,
  the path relaxations, user Pregel programs — runs here.
- **Skew (DEGREE partitioning analog)**: the decision lives in ONE place,
  :func:`salt_hot_keys`. A hot key whose degree exceeds
  ``hot_degree_threshold`` has its edges re-clustered across
  ``ceil(degree/threshold)`` salt sub-partitions by a hash of the other
  endpoint; :func:`salted_gather_join` replicates the matching state rows
  per salt. It is the only gather that branches on whether the graph is
  skewed, so every loop inherits the fix.
- **Arrow/CSR path (array state only)**: ``build_blocks`` range-blocks
  edges by source id and a cogrouped ``applyInPandas`` kernel sums
  ``state[src].vec * norm_w`` per destination
  (``spmv_messages_arrays``) — for embedding-valued state Catalyst can't
  sum efficiently (FastRP).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class BlockedEdges:
    """Edges pre-shuffled into (block, salt) CSR groups, cached for reuse."""

    blocks: DataFrame  # (block int, salt int, src long, dst long, norm_w double)
    block_salts: DataFrame  # distinct (block, salt) — tiny, broadcastable
    block_width: int
    num_blocks: int
    single_salt: bool = False  # no hot vertices → skip state replication join

    def unpersist(self) -> None:
        self.blocks.unpersist()
        self.block_salts.unpersist()


def build_blocks(
    edges: DataFrame,
    node_count: int,
    num_blocks: int | None = None,
    hot_degree_threshold: int = 2_000_000,
    weight_col: str = "norm_w",
) -> BlockedEdges:
    """Block + salt + cache the edge table once; reused by every superstep.

    ``edges`` must carry (src, dst, <weight_col>); weight_col is the
    per-edge multiplier already normalized by the algorithm (e.g. w/Σw for
    PageRank). ``hot_degree_threshold`` bounds the edge count of any single
    Arrow group — at 100 TB scale this is what keeps mega-hub vertices (a
    tool entity linked from millions of turns) from blowing up one task.
    """
    spark = edges.sparkSession
    if num_blocks is None:
        # Match the session's shuffle partitioning so the cogroup's required
        # clustering is satisfied by the cache — the edge side is shuffled
        # ONCE here and never re-exchanged across supersteps.
        num_blocks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    block_width = max(1, math.ceil(node_count / num_blocks))

    # One-time sanity check: an out-of-range id would be *silently dropped*
    # by the block arithmetic (worse than a crash). Cheap vs the loop cost.
    max_id = edges.agg(F.max(F.greatest("src", "dst")).alias("m")).collect()[0]["m"]
    if max_id is not None and max_id >= node_count:
        raise ValueError(
            f"edge endpoint id {max_id} >= node_count {node_count}; "
            "node ids must lie in [0, node_count) — did you densify ids?"
        )

    e = edges.select(
        F.expr(f"src DIV {block_width}").cast("int").alias("block"),
        "src",
        "dst",
        F.col(weight_col).cast("double").alias("norm_w"),
    )

    # Salt hot sources: ceil(out_degree / threshold) sub-groups hashed on dst.
    deg = edges.groupBy("src").agg(F.count("*").alias("_deg"))
    hot = deg.filter(F.col("_deg") > hot_degree_threshold).withColumn(
        "_nsalt", F.ceil(F.col("_deg") / F.lit(hot_degree_threshold)).cast("int")
    )
    if hot.limit(1).count() > 0:
        e = e.join(F.broadcast(hot.select("src", "_nsalt")), "src", "left").withColumn(
            "salt",
            F.when(
                F.col("_nsalt").isNotNull(),
                F.pmod(F.xxhash64("dst"), F.col("_nsalt")).cast("int"),
            ).otherwise(F.lit(0)),
        ).drop("_nsalt")
    else:
        e = e.withColumn("salt", F.lit(0))

    blocks = e.select("block", "salt", "src", "dst", "norm_w").repartition(
        num_blocks, "block", "salt"
    ).persist()
    blocks.count()  # materialize the cache — the one-time CSR build cost
    # block_salts is tiny by construction (≤ num_blocks × max salts); detach
    # it from blocks' lineage so later joins aren't ambiguous self-joins.
    salt_rows = blocks.select("block", "salt").distinct().collect()
    block_salts = spark.createDataFrame(
        [(int(r["block"]), int(r["salt"])) for r in salt_rows] or [(0, 0)],
        "block int, salt int",
    ).persist()
    block_salts.count()
    single_salt = all(int(r["salt"]) == 0 for r in salt_rows)
    return BlockedEdges(
        blocks=blocks,
        block_salts=block_salts,
        block_width=block_width,
        num_blocks=num_blocks,
        single_salt=single_salt,
    )


def prep_edges_sql(
    edges: DataFrame,
    num_partitions: int | None = None,
    weight_col: str = "norm_w",
    clustered: bool = False,
) -> DataFrame:
    """One-time prep for the JVM-side message path: hash-partition the edge
    table by src, SORT within partitions by src, and cache it.

    The sort is the load-bearing part for superstep cost: the per-round
    state join plans as a SortMergeJoin, and a cached relation advertises
    its outputPartitioning AND outputOrdering — so a pre-sorted cache
    satisfies both SMJ requirements and every superstep skips the
    exchange *and* the O(|E| log |E|) sort on the edge side; only the
    (much smaller) vertex state is exchanged + sorted per round. Unsorted,
    Spark re-sorts the full edge table every superstep.

    ``clustered=True``: the caller guarantees ``edges`` is ALREADY
    hash-partitioned by ``src`` into ``num_partitions`` partitions (e.g. it
    came out of the window-based degree normalization, whose exchange is
    the same clustering) — the redundant repartition is skipped, making
    graph build a single full-edge shuffle end to end."""
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    prepped = edges.select(
        "src", "dst", F.col(weight_col).cast("double").alias("norm_w")
    )
    if not clustered:
        prepped = prepped.repartition(num_partitions, "src")
    prepped = prepped.sortWithinPartitions("src").persist()
    prepped.count()
    return prepped


def spmv_messages_sql(
    prepped_edges: DataFrame,
    hot: DataFrame | None,
    state: DataFrame,
    value_col: str = "msg_val",
) -> DataFrame:
    """JVM-only gather-scatter for *reducible* messages (Pregel Reducer.Sum
    analog): Σ_{(u,v)∈E} state[u].value * norm_w → (dst, msg) as one
    co-partitioned join (salted when ``hot`` is set, see
    :func:`salted_gather_join`) + one partial+final hash aggregation,
    whole-stage codegen end to end — no Python in the superstep at all.

    Measured on a 3.8M-edge transcript graph this was ~8× faster per
    superstep than a scalar Arrow/CSR cogroup, which must ship the entire
    edge side across the JVM↔Python Arrow boundary every superstep
    (~40 MB/s effective) while this path touches edges only inside
    whole-stage codegen.
    """
    st = state.select(F.col("node"), F.col(value_col).cast("double").alias("_v"))
    return (
        salted_gather_join(prepped_edges, hot, st)
        .groupBy("dst")
        .agg(F.sum(F.col("_v") * F.col("norm_w")).alias("msg"))
    )


def spmv_messages_arrays(
    blocked: BlockedEdges, state: DataFrame, value_col: str = "vec"
) -> DataFrame:
    """Array-state gather-scatter: Σ_{(u,v)∈E} state[u].vec * norm_w → (dst, vec).

    The vector analog of :func:`spmv_messages_sql` for algorithms whose
    vertex state is an embedding (FastRP, HashGNN-style kernels) — exactly the
    case Catalyst can't express efficiently (array sums would need
    explode → d× row blowup → re-agg). ``state``: (node long,
    <value_col> array<double>). One Arrow round-trip per (block, salt)
    group; the kernel is pure NumPy over whole batches, with an in-kernel
    per-destination pre-combine (reduce-on-send analog).
    """
    width = blocked.block_width

    st = state.select(
        F.expr(f"node DIV {width}").cast("int").alias("block"),
        "node",
        F.col(value_col).cast("array<double>").alias("vec"),
    )
    if blocked.single_salt:
        st = st.withColumn("salt", F.lit(0))
    else:
        st = st.join(F.broadcast(blocked.block_salts), "block")

    def kernel(edges_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"dst": pd.Series(dtype="int64"), "vec": pd.Series(dtype="object")})
        if len(edges_pdf) == 0 or len(state_pdf) == 0:
            return empty
        base = int(edges_pdf["block"].iloc[0]) * width
        mat = np.stack(state_pdf["vec"].to_numpy())  # (n_state, d)
        d = mat.shape[1]
        # Dense per-block lookup: row i holds state for node base+i (zeros
        # when absent — absent nodes contribute nothing).
        vals = np.zeros((width, d), dtype=np.float64)
        vals[state_pdf["node"].to_numpy() - base] = mat
        contrib = vals[edges_pdf["src"].to_numpy() - base] * edges_pdf["norm_w"].to_numpy()[:, None]
        dsts, inv = np.unique(edges_pdf["dst"].to_numpy(), return_inverse=True)
        acc = np.zeros((len(dsts), d), dtype=np.float64)
        np.add.at(acc, inv, contrib)
        return pd.DataFrame({"dst": dsts, "vec": list(acc)})

    partials = (
        blocked.blocks.groupBy("block", "salt")
        .cogroup(st.groupBy("block", "salt"))
        .applyInPandas(kernel, "dst long, vec array<double>")
    )
    # Final combine across blocks/salts: element-wise array sum via
    # zip_with inside an aggregate buffer (tiny arrays, few collisions).
    return partials.groupBy("dst").agg(
        F.aggregate(
            F.collect_list("vec"),
            F.expr("cast(array() as array<double>)"),
            lambda acc, v: F.when(F.size(acc) == 0, v).otherwise(
                F.zip_with(acc, v, lambda a, b: a + b)
            ),
        ).alias("vec")
    )


def detect_hot_sources(
    prepped_edges: DataFrame, hot_degree_threshold: int, key: str = "src"
) -> DataFrame | None:
    """Find sources whose out-degree exceeds ``hot_degree_threshold`` in a
    prepped (src-clustered, cached) edge table.

    Returns a tiny broadcastable DataFrame ``(src long, nsalt int)`` with
    ``nsalt = ceil(degree / threshold)`` sub-groups per hot source, or
    ``None`` when the graph has no hot sources (the common case — the
    gather then keeps the plain single-key join).

    Why this matters on the JVM message path: ``spmv_messages_sql`` joins
    edges to state on ``src`` under the cached HashPartitioning(src), so a
    mega-hub source (a tool entity linked from millions of turns in the
    10^12-turn transcript graph) lands ALL its out-edges in one partition —
    one straggler task per superstep that AQE cannot split (adaptive
    execution is deliberately disabled inside superstep commits, see
    ``superstep.py:commit``). This is the SQL-path analog of the Arrow
    path's DEGREE-partitioning salting (``build_blocks``; reference
    ``core/.../partition/PartitionUtils.java:126-204``).

    Cost: one aggregate over the already-cached prep (clustering satisfied
    → no exchange) + a driver collect bounded by |E|/threshold rows.

    ``key``: the edge column the per-round state join keys on — ``src``
    for push/gather-from-source loops (rank family, WCC), ``dst`` for
    pull loops (label propagation votes). The returned hot map always
    names its column ``src`` so :func:`salt_hot_keys` and
    :func:`salted_gather_join` compose either way.
    """
    hot_rows = (
        prepped_edges.groupBy(key)
        .agg(F.count("*").alias("_deg"))
        .filter(F.col("_deg") > hot_degree_threshold)
        .select(
            F.col(key).alias("src"),
            F.ceil(F.col("_deg") / F.lit(hot_degree_threshold)).cast("int").alias("nsalt"),
        )
        .collect()
    )
    if not hot_rows:
        return None
    spark = prepped_edges.sparkSession
    return spark.createDataFrame(
        [(int(r["src"]), int(r["nsalt"])) for r in hot_rows], "src long, nsalt int"
    )


def salt_hot_keys(
    edges: DataFrame,
    hot_degree_threshold: int,
    key: str = "src",
    spread: str = "dst",
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """The engine's one skew decision: detect hot ``key`` values in a
    cached, ``key``-clustered edge table and, if there are any, re-cluster
    the cache on ``(key, salt)`` and unpersist the old one.

    Returns ``(edges, hot)``. On an unskewed graph ``hot`` is None and
    ``edges`` is the input cache untouched (unchanged plans). Otherwise
    ``salt = pmod(xxhash64(spread), nsalt)`` for hot keys (0 otherwise) —
    the same other-endpoint-hash sub-grouping as the Arrow path's
    ``build_blocks`` — and the new cache is hash-partitioned AND sorted on
    ``(key, salt)``, so every superstep's SortMergeJoin still reads the
    edge side exchange-free and sort-free; only the (small) state side is
    exchanged per round, exactly as in the unsalted plan. Skewed graphs
    pay ONE extra full-edge shuffle at build time and get flat superstep
    task histograms in return. Pair with :func:`salted_gather_join`
    (same ``key`` as its ``edge_key``).
    """
    hot = detect_hot_sources(edges, hot_degree_threshold, key=key)
    if hot is None:
        return edges, None
    if num_partitions is None:
        num_partitions = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    salted = (
        edges.join(F.broadcast(hot.withColumnRenamed("src", key)), key, "left")
        .withColumn(
            "salt",
            F.when(
                F.col("nsalt").isNotNull(),
                F.pmod(F.xxhash64(spread), F.col("nsalt")).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("nsalt")
        .repartition(num_partitions, key, "salt")
        .sortWithinPartitions(key, "salt")
        .persist()
    )
    salted.count()
    edges.unpersist()
    return salted, hot


def sql_message_path(
    norm_edges: DataFrame,
    num_partitions: int | None,
    hot_degree_threshold: int,
    clustered: bool,
):
    """Build the cached edge side of the JVM-only message path, salting hot
    sources when the graph is skewed.

    Returns ``(prepped_edges, msg_fn)`` where ``msg_fn(state)`` computes the
    per-round reducible-sum messages. The common (unskewed) case is the
    plain ``prep_edges_sql`` + single-key join — unchanged plan, one cheap
    cached aggregate added at build to *prove* there is no hot source. When
    some source's out-degree exceeds ``hot_degree_threshold`` (a mega-hub
    entity in the transcript link graph), the cache is re-clustered on
    ``(src, salt)`` and every superstep joins salted — the hub's gather
    becomes ``ceil(degree/threshold)`` parallel tasks instead of one
    straggler that AQE (disabled inside superstep commits) cannot split.
    Measured on a 20M-edge graph with one source owning half the edges:
    9.93 → 3.58 s median superstep (`bench_experiments/skew_ab_*`).
    """
    prepped, hot = prep_edges_sql_skew(
        norm_edges, num_partitions, hot_degree_threshold, clustered=clustered
    )
    return prepped, (lambda active: spmv_messages_sql(prepped, hot, active))


def prep_edges_sql_skew(
    norm_edges: DataFrame,
    num_partitions: int | None,
    hot_degree_threshold: int,
    clustered: bool = False,
):
    """``prep_edges_sql`` + :func:`salt_hot_keys` on ``src``: returns
    ``(prepped, hot)`` for loops whose gather is NOT a plain weighted sum
    (min-relaxation frontiers, user Pregel reducers). Pair with
    :func:`salted_gather_join` and apply the loop's own (reducible)
    aggregate on top."""
    prepped = prep_edges_sql(norm_edges, num_partitions=num_partitions, clustered=clustered)
    return salt_hot_keys(prepped, hot_degree_threshold, num_partitions=num_partitions)


def salted_gather_join(
    prepped: DataFrame,
    hot: DataFrame | None,
    state: DataFrame,
    state_key: str = "node",
    edge_key: str = "src",
) -> DataFrame:
    """The per-round edges ⋈ state join on ``edge_key``, salted when
    ``hot`` is set (the ``hot`` that :func:`salt_hot_keys` returned for the
    same key). The caller applies its own aggregate on the result — which
    must be reducible (sum/min/max/count) for salting to recombine exactly,
    since a hot key's rows arrive in ``nsalt`` partial groups."""
    if hot is None:
        return prepped.join(state, prepped[edge_key] == state[state_key], "inner")
    # State rows of hot keys are replicated once per salt sub-group, all
    # others get salt 0. The hot map is tiny by construction, so this is a
    # broadcast join + a bounded explode: O(|hot| × nsalt) extra rows.
    st = (
        state.join(F.broadcast(hot.withColumnRenamed("src", state_key)), state_key, "left")
        .withColumn(
            "_salts",
            F.when(
                F.col("nsalt").isNotNull(),
                F.sequence(F.lit(0), F.col("nsalt") - F.lit(1)),
            ).otherwise(F.array(F.lit(0))),
        )
        .withColumn("_salt", F.explode("_salts"))
        .withColumn("salt", F.col("_salt").cast("int"))
        .drop("nsalt", "_salts", "_salt")
    )
    return prepped.join(
        st, (prepped[edge_key] == st[state_key]) & (prepped["salt"] == st["salt"]), "inner"
    )
