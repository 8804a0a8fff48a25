"""A/B: hot-source salting on the SQL message path vs unsalted, skewed graph.

Question: when a handful of mega-hub sources dominate the edge table (the
transcript-link-graph shape: a tool entity linked from millions of turns),
does salting their out-edges across ``ceil(degree/threshold)`` sub-partitions
(`spmv.py:cache_edges`) flatten the per-superstep straggler and
improve wall time — and what does it cost on build?

Graph: constant-work ring of n_nodes (every node one out-edge) plus
``n_hubs`` hub nodes each with ``hub_degree`` out-edges to consecutive ring
nodes — hub out-degree is ~100x the average, and with hash(src)
partitioning each hub's whole gather lands in one task.

Usage:
  python bench_experiments/skew_ab.py <threshold> <out.json>
    threshold: hot_degree_threshold for pagerank (pass a value above the hub
    degree for the unsalted control, e.g. 100000000)
Env: SKEW_NODES (default 10_000_000), SKEW_HUBS (4), SKEW_HUB_DEG (2_500_000).
"""

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    threshold = int(sys.argv[1])
    out = sys.argv[2]
    n_nodes = int(os.environ.get("SKEW_NODES", "10000000"))
    n_hubs = int(os.environ.get("SKEW_HUBS", "4"))
    hub_deg = int(os.environ.get("SKEW_HUB_DEG", "2500000"))

    from pyspark.sql import functions as F

    from graph_data_science_spark.graph.build import LinkGraph
    from graph_data_science_spark.session import get_spark
    from graph_data_science_spark.algorithms.pagerank import pagerank

    spark = get_spark(
        app_name=f"skew-ab-{threshold}",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.default.parallelism": "32"},
    )

    # Ring edges: i -> (i+1) mod n. Hub edges: hub h (node h) -> the
    # hub_deg nodes starting at h*hub_deg (mod n), built by explode-free
    # range arithmetic so generation is not the bottleneck.
    ring = spark.range(n_nodes).select(
        F.col("id").alias("src"),
        ((F.col("id") + 1) % n_nodes).alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    hub = (
        spark.range(n_hubs * hub_deg)
        .select(
            (F.col("id") / hub_deg).cast("long").alias("src"),
            ((F.col("id") % hub_deg) * n_hubs + (F.col("id") / hub_deg).cast("long") + 7)
            .alias("raw"),
            F.lit(1.0).alias("weight"),
        )
        .select("src", (F.col("raw") % n_nodes).alias("dst"), "weight")
    )
    edges = ring.unionAll(hub)
    g = LinkGraph(edges=edges, node_count=n_nodes)
    n_edges = n_nodes + n_hubs * hub_deg

    walls, builds, supersteps = [], [], []
    for _ in range(2):
        t0 = time.time()
        res = pagerank(
            g, tolerance=0.0, max_iterations=8, hot_degree_threshold=threshold
        )
        res.scores.count()
        walls.append(round(time.time() - t0, 3))
        builds.append(round(walls[-1] - res.loop_wall_sec, 3))
        supersteps.append([round(w, 3) for w in (res.superstep_walls or [])])

    # Median superstep over the measured rounds of the best attempt
    # (skip the first round: it pays cache warmup).
    best = min(range(len(walls)), key=lambda i: walls[i])
    ss = sorted(supersteps[best][1:])
    median_ss = ss[len(ss) // 2] if ss else None

    with open(out, "w") as fh:
        json.dump(
            {
                "threshold": threshold,
                "salted": threshold < hub_deg,
                "nodes": n_nodes,
                "edges": n_edges,
                "hubs": n_hubs,
                "hub_degree": hub_deg,
                "total_walls_sec": walls,
                "build_portion_sec": builds,
                "superstep_walls": supersteps[best],
                "median_superstep_sec": median_ss,
                "throughput_edges_per_sec_per_superstep": (
                    round(n_edges / median_ss, 1) if median_ss else None
                ),
                "loadavg": list(os.getloadavg()),
            },
            fh,
            indent=1,
        )
    spark.stop()


if __name__ == "__main__":
    main()
