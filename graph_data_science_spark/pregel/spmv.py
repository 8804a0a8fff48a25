"""Gather-scatter message passing: the SpMV at the heart of every superstep.

GDS's Pregel runs user ``compute()`` over per-node adjacency cursors and
reduces messages atomically on send (reference
``pregel/.../ReducingMessenger.java:85-106``; partitioning
``core/.../partition/PartitionUtils.java:50,126-204``). The Spark
re-expression (SURVEY.md §2.C, §3.3) has two paths:

- **JVM path (scalar, reducible messages)**: :func:`cache_edges` is the
  one place an edge-side layout is decided — the CSR analog GDS builds
  once per projection (``CSRGraphStore.java:80``). It hash-partitions the
  edges by the gather's join key into ``spark.sql.shuffle.partitions``,
  sorts within partitions by that key and caches the result, so the
  per-round edge⋈state join reads the edge side without an exchange or a
  sort; ``groupBy(dst)`` with a reducible aggregate finishes the reduction
  (Catalyst's partial+final hash aggregation is the reduce-on-send
  analog). Every scalar loop — the rank family, WCC, label propagation,
  the path relaxations, user Pregel programs — gathers from such a cache.
- **Skew (DEGREE partitioning analog)**: :func:`cache_edges` also makes
  the skew decision. A hot key whose degree exceeds
  ``hot_degree_threshold`` has its edges spread across
  ``ceil(degree/threshold)`` salt sub-partitions by a hash of the other
  endpoint; :func:`salted_gather_join` replicates the matching state rows
  per salt. It is the only gather that branches on whether the graph is
  skewed, so every loop inherits the fix.
- **Arrow/CSR path (array state only)**: ``build_blocks`` range-blocks
  edges by source id (salting hot sources with the same detector) and a
  cogrouped ``applyInPandas`` kernel sums ``state[src].vec * norm_w`` per
  destination (``spmv_messages_arrays``) — for embedding-valued state
  Catalyst can't sum efficiently (FastRP).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _shuffle_partitions(spark) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def _check_threshold(hot_degree_threshold: int) -> None:
    # Below 1 the salt count ceil(degree / threshold) divides by zero or
    # goes negative; fail before any edge cache is built.
    if hot_degree_threshold < 1:
        raise ValueError(f"hot_degree_threshold must be >= 1, got {hot_degree_threshold}")


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
    _check_threshold(hot_degree_threshold)
    spark = edges.sparkSession
    # Match the session's shuffle partitioning so the cogroup's required
    # clustering is satisfied by the cache — the edge side is shuffled
    # ONCE here and never re-exchanged across supersteps.
    num_blocks = _shuffle_partitions(spark)
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
    hot = _hot_keys(edges, hot_degree_threshold, "src")
    e = e.withColumn("salt", F.lit(0)) if hot is None else _with_salt(e, hot, "src", "dst")

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


def cache_edges(
    edges: DataFrame,
    hot_degree_threshold: int,
    key: str = "src",
    spread: str = "dst",
) -> tuple[DataFrame, DataFrame | None]:
    """Build the cached edge side of a scalar gather: hash-partition
    ``edges`` by ``key`` into ``spark.sql.shuffle.partitions``, sort within
    partitions by ``key``, cache, and make the engine's one skew decision.

    The sort is the load-bearing part for superstep cost: the per-round
    state join plans as a SortMergeJoin once the state outgrows the
    broadcast threshold, and a cached relation advertises its
    outputPartitioning AND outputOrdering — so a pre-sorted cache
    satisfies both SMJ requirements and every superstep skips the
    exchange *and* the O(|E| log |E|) sort on the edge side; only the
    (much smaller) vertex state is exchanged + sorted per round. Unsorted,
    Spark re-sorts the full edge table every superstep. When ``edges`` is
    already hash-partitioned by ``key`` into the same partition count (the
    rank family's window normalization), Spark drops the repartition, so
    the build stays one full-edge shuffle.

    ``key``: the edge column the per-round state join keys on — ``src``
    for push/gather-from-source loops (rank family, WCC, paths), ``dst``
    for pull loops (label propagation votes). ``spread``: the other
    endpoint, whose hash picks a hot key's salt sub-group.

    Returns ``(edges, hot)``. On an unskewed graph ``hot`` is None and
    ``edges`` is the sorted cache. Otherwise ``hot`` is a tiny
    broadcastable ``(src long, nsalt int)`` map (``nsalt =
    ceil(degree/threshold)``; the column is named ``src`` whatever the
    key) and the cache is rebuilt hash-partitioned AND sorted on ``(key,
    salt)`` with ``salt = pmod(xxhash64(spread), nsalt)`` for hot keys (0
    otherwise) — the same other-endpoint-hash sub-grouping as the Arrow
    path's ``build_blocks``. Every superstep's join then still reads the
    edge side exchange-free and sort-free. Skewed graphs pay ONE extra
    full-edge shuffle at build time and get flat superstep task
    histograms in return: a mega-hub key (a tool entity linked from
    millions of turns) no longer lands all its edges in one straggler
    task that AQE (disabled inside superstep commits) cannot split. Pair
    with :func:`salted_gather_join` (same ``key`` as its ``edge_key``).
    """
    _check_threshold(hot_degree_threshold)
    n = _shuffle_partitions(edges.sparkSession)
    cached = edges.repartition(n, key).sortWithinPartitions(key).persist()
    cached.count()
    hot = _hot_keys(cached, hot_degree_threshold, key)
    if hot is None:
        return cached, None
    salted = (
        _with_salt(cached, hot, key, spread)
        .repartition(n, key, "salt")
        .sortWithinPartitions(key, "salt")
        .persist()
    )
    salted.count()
    cached.unpersist()
    return salted, hot


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


def _hot_keys(
    edges: DataFrame, hot_degree_threshold: int, key: str
) -> DataFrame | None:
    """``(src long, nsalt int)`` for every ``key`` value whose edge count
    exceeds ``hot_degree_threshold``, ``nsalt = ceil(degree / threshold)``;
    None when there are none (the common case — the gather then keeps the
    plain single-key join). One aggregate (exchange-free over a
    ``key``-partitioned cache) plus a driver collect bounded by
    |E|/threshold rows."""
    hot_rows = (
        edges.groupBy(key)
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
    return edges.sparkSession.createDataFrame(
        [(int(r["src"]), int(r["nsalt"])) for r in hot_rows], "src long, nsalt int"
    )


def _with_salt(edges: DataFrame, hot: DataFrame, key: str, spread: str) -> DataFrame:
    """``edges`` plus ``salt = pmod(xxhash64(spread), nsalt)`` for hot
    ``key`` values, 0 for the rest."""
    return (
        edges.join(F.broadcast(hot.withColumnRenamed("src", key)), key, "left")
        .withColumn(
            "salt",
            F.when(
                F.col("nsalt").isNotNull(),
                F.pmod(F.xxhash64(spread), F.col("nsalt")).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("nsalt")
    )


def sql_message_path(norm_edges: DataFrame, hot_degree_threshold: int):
    """The rank family's edge side: :func:`cache_edges` over
    ``norm_edges`` = ``(src, dst, norm_w double)``. Returns ``(cached_edges, msg_fn)`` where
    ``msg_fn(state)`` computes the per-round reducible-sum messages
    (:func:`spmv_messages_sql`). Measured on a 20M-edge graph with one
    source owning half the edges, salting took the median superstep from
    9.93 to 3.58 s (`bench_experiments/skew_ab_*`)."""
    cached, hot = cache_edges(norm_edges, hot_degree_threshold)
    return cached, (lambda active: spmv_messages_sql(cached, hot, active))


def salted_gather_join(
    prepped: DataFrame,
    hot: DataFrame | None,
    state: DataFrame,
    state_key: str = "node",
    edge_key: str = "src",
) -> DataFrame:
    """The per-round edges ⋈ state join on ``edge_key``, salted when
    ``hot`` is set (the ``hot`` that :func:`cache_edges` returned for the
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
