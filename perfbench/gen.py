"""Seeded transcript link graph, made without the engine.

Transcripts keep the shape of the engine's own synthesizer
(``transcripts.synthesize_transcripts``): 2-12 turns per conversation and
a tool call on about every 4th turn, drawn from 8 tools. The link graph
follows ``transcripts.derive_link_graph``: an edge from each turn to the
next turn of its conversation, and from each turn that calls a tool to
that tool, so the 8 tool nodes are the hubs. Node ids are a seeded
permutation of ``[0, n)``, so ids carry no conversation order, as with the
engine's hash-bucketed dense ids.

Everything derives from one ``numpy.random.Generator(seed)``: the same
seed gives the same graph. The engine receives only the parquet edge table
written here; the reference checks use the arrays.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_TOOLS, MIN_TURNS, MAX_TURNS, TOOL_EVERY = 8, 2, 12, 4


@dataclass
class LinkGraphInput:
    turns: int
    nodes: int
    src: np.ndarray  # int64
    dst: np.ndarray  # int64
    path: str  # parquet directory of (src long, dst long, weight double)

    @property
    def edges(self) -> int:
        return int(self.src.size)


def generate(seed: int, n_conversations: int, out_dir: str, files: int = 4) -> LinkGraphInput:
    rng = np.random.default_rng(seed)
    n_turns = rng.integers(MIN_TURNS, MAX_TURNS + 1, size=n_conversations)
    conv = np.repeat(np.arange(n_conversations), n_turns)
    turns = conv.size
    tool = np.where(rng.integers(0, TOOL_EVERY, size=turns) == 0, rng.integers(0, N_TOOLS, size=turns), -1)
    used, tool_node = np.unique(tool[tool >= 0], return_inverse=True)
    nodes = turns + used.size

    turn = np.arange(turns)
    same_conv = conv[1:] == conv[:-1]
    calls = tool >= 0
    src = np.concatenate([turn[:-1][same_conv], turn[calls]])
    dst = np.concatenate([turn[1:][same_conv], turns + tool_node])
    node_id = rng.permutation(nodes)
    src, dst = node_id[src], node_id[dst]

    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({"src": src, "dst": dst, "weight": np.ones(src.size)})
    bounds = np.linspace(0, src.size, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:02d}.parquet"))
    return LinkGraphInput(turns=turns, nodes=nodes, src=src, dst=dst, path=out_dir)
