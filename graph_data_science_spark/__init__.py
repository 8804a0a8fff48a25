"""spark-link-graph: a from-scratch PySpark-native link-graph analytics engine.

Re-expresses the core capabilities of Neo4j Graph Data Science (reference at
/root/reference, studied in SURVEY.md) as partition-parallel DataFrame
transforms:

- ``graph``      — edge-table graph model: dense id mapping, orientations,
                   parallel-edge aggregation, degrees (GDS ``GraphStore`` /
                   ``IdMap`` analog, SURVEY.md §1.5).
- ``pregel``     — the superstep machine: CSR-block SpMV pandas-UDF kernels,
                   shuffle-aggregated messages, vote-to-halt convergence,
                   checkpoint/resume with per-data-file lineage + metrics
                   (GDS ``pregel/`` analog, SURVEY.md §2.C).
- ``algorithms`` — PageRank / ArticleRank / Eigenvector, WCC, Label
                   Propagation, Triangle Count + LCC, Degree Centrality,
                   Node Similarity, property scaling, modularity/conductance.
- ``transcripts``— the engine's native input: conversation transcript tables
                   (conv_id, turn_idx, role, text, tool, ts) → link graph.
- ``datapipe``   — large-scale training-data pipeline ops: dedup (exact /
                   MinHash-LSH / SimHash / n-gram Jaccard), ANN similarity
                   search, text analysis, multimodal column plumbing.

Everything is DataFrame + vectorized pandas/Arrow UDFs; no per-row Python
in any hot path, no RDD API.
"""

__version__ = "0.1.0"
