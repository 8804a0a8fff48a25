"""Independent references the engine's outputs are checked against.

Nothing here calls the engine: both references work on the generator's
edge arrays (``gen.py``), the same graph the engine reads from parquet.
"""

from __future__ import annotations

import networkx as nx
import numpy as np


class CheckFailed(Exception):
    pass


def pagerank(n: int, src: np.ndarray, dst: np.ndarray, damping: float, tol: float, max_iterations: int):
    """GDS delta-push PageRank (``PageRankComputation``): every node starts
    at ``1 - d`` and sends it in superstep 0; a node whose delta exceeds
    ``tol`` sends ``delta / out_degree``; converged when no node does.
    Returns ``(scores, supersteps)`` with supersteps counted as GDS does,
    the init superstep included."""
    w = 1.0 / np.bincount(src, minlength=n)[src]
    delta = np.full(n, 1.0 - damping)
    rank = delta.copy()
    step = 0
    while step + 1 < max_iterations:
        send = np.where(np.abs(delta) > tol, delta, 0.0)
        delta = damping * np.bincount(dst, weights=send[src] * w, minlength=n)
        rank += delta
        step += 1
        if not (np.abs(delta) > tol).any():
            break
    return rank, step + 1


def components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Weakly connected components labelled by their smallest node id."""
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    label = np.empty(n, dtype=np.int64)
    for comp in nx.connected_components(g):
        members = np.fromiter(comp, dtype=np.int64, count=len(comp))
        label[members] = members.min()
    return label
