"""Round-3 driver-contract queries (batch 21): skew-salted PageRank.

``pagerank_hub_salted``: PageRank over the REVERSED supply web — regions
fan out to nations, nations to their customers and suppliers, customers
to their orders — with ``hot_degree_threshold=5``, which forces the SQL
message path's hot-source salting (`pregel/spmv.py:cache_edges`
/ `salted_gather_join`) to engage: at sf0.01 every nation has
out-degree ~70 (ceil(70/5)=14 salt sub-groups) and every customer ~10.
Salting is a pure partitioning change, so the DuckDB oracle is the same
unrolled delta-push CTE chain as ``pagerank_supply_web`` over the
reversed edge list — the gate proves the salted join + hot-state
replication is score-exact, not just the unit fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_data_science_spark.algorithms.pagerank import pagerank
from graph_data_science_spark.graph.build import LinkGraph
from graph_data_science_spark.queries import (
    SUPPLY_NODES_SQL,
    _e,
    _pagerank_unrolled_sql,
    _t,
)

QUERIES_EXT21: dict = {}
ORACLES_EXT21: dict = {}

REV_SUPPLY_EDGES_SQL = """
    SELECT 2000 + o_custkey AS src, 100000 + o_orderkey AS dst FROM orders
    UNION ALL SELECT 10 + c_nationkey, 2000 + c_custkey FROM customer
    UNION ALL SELECT 10 + s_nationkey, 50 + s_suppkey FROM supplier
    UNION ALL SELECT n_regionkey, 10 + n_nationkey FROM nation
"""


def _rev_supply_web_graph(spark: SparkSession, sf_dir: str) -> LinkGraph:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    edges = (
        orders.select(
            (2000 + F.col("o_custkey")).alias("src"),
            (100000 + F.col("o_orderkey")).alias("dst"),
        )
        .union(customer.select(10 + F.col("c_nationkey"), 2000 + F.col("c_custkey")))
        .union(supplier.select(10 + F.col("s_nationkey"), 50 + F.col("s_suppkey")))
        .union(nation.select(F.col("n_regionkey"), 10 + F.col("n_nationkey")))
        .select(F.col("src").cast("long"), F.col("dst").cast("long"), F.lit(1.0).alias("weight"))
    )
    vertices = (
        _t(spark, sf_dir, "region").select(F.col("r_regionkey").cast("long").alias("node_id"))
        .union(nation.select((10 + F.col("n_nationkey")).cast("long")))
        .union(supplier.select((50 + F.col("s_suppkey")).cast("long")))
        .union(customer.select((2000 + F.col("c_custkey")).cast("long")))
        .union(orders.select((100000 + F.col("o_orderkey")).cast("long")))
    )
    max_id = edges.agg(F.greatest(F.max("src"), F.max("dst")).alias("m")).collect()[0]["m"]
    return LinkGraph(edges=edges, vertices=vertices, node_count=int(max_id) + 1)


def q_pagerank_hub_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine PageRank (12 GDS supersteps) over the reversed supply web,
    hot_degree_threshold=5 — every nation/customer hub runs salted."""
    g = _rev_supply_web_graph(spark, sf_dir)
    res = pagerank(
        g, damping=0.85, tolerance=0.0, max_iterations=12, hot_degree_threshold=5
    )
    return (
        res.scores.filter(F.col("node_id") < 50)
        .select("node_id", _e(F.col("score"), 5).alias("rank_e5"))
    )


Q_PAGERANK_SALTED_SQL = (
    _pagerank_unrolled_sql(REV_SUPPLY_EDGES_SQL, SUPPLY_NODES_SQL, updates=11).replace(
        "\nSELECT node_id, rank FROM s11",
        "\nSELECT CAST(node_id AS BIGINT) AS node_id, "
        "CAST(FLOOR(rank * 1e5 + 0.3183098861837907) AS BIGINT) AS rank_e5 FROM s11 WHERE node_id < 50",
    )
)

QUERIES_EXT21["pagerank_hub_salted"] = q_pagerank_hub_salted
ORACLES_EXT21["pagerank_hub_salted"] = Q_PAGERANK_SALTED_SQL
