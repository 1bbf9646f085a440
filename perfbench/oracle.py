"""Independent numpy answers the benchmark checks the engine against.

Nothing here imports the engine: connected components use a hook-to-root
min-label loop written for this benchmark (not ``operators/numpy_cc``), and
PageRank is a plain power iteration. The engine labels every component by
its minimum member id; the oracle does the same, so one order-free
fingerprint ``sum(xxhash64(node, comp))`` (mod 2^64) plus the component
count pins the whole partition.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from . import xxh


@dataclass(frozen=True)
class Partition:
    """What a correct labeling must reproduce."""

    nodes: int
    components: int
    fingerprint: int  # sum of xxhash64(node, comp) mod 2^64, as uint64
    largest: int  # node count of the largest component


def canonical_edges(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Orient src < dst, drop self-loops, drop duplicates."""
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    keep = lo != hi
    lo, hi = lo[keep], hi[keep]
    order = np.lexsort((hi, lo))
    lo, hi = lo[order], hi[order]
    first = np.ones(len(lo), dtype=bool)
    first[1:] = (lo[1:] != lo[:-1]) | (hi[1:] != hi[:-1])
    return lo[first], hi[first]


def min_labels(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, comp): every node of the edge list with its component's
    minimum member, by hooking roots onto the smaller neighbouring root and
    jumping pointers to the roots until no edge joins two roots."""
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    u, v = inv[: len(src)], inv[len(src):]
    parent = np.arange(len(nodes))
    while True:
        ru, rv = parent[u], parent[v]
        cross = ru != rv
        if not cross.any():
            break
        ru, rv = ru[cross], rv[cross]
        low = np.minimum(ru, rv)
        np.minimum.at(parent, np.maximum(ru, rv), low)
        while True:  # nodes are sorted, so a root is its tree's minimum
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
    return nodes, nodes[parent]


def edge_keys(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """One 64-bit key per edge (xxhash64(src, dst)), for set membership."""
    return xxh.hash_pair(src, dst)


def fingerprint(nodes: np.ndarray, comp: np.ndarray) -> int:
    with np.errstate(over="ignore"):
        return int(xxh.hash_pair(nodes, comp).view(np.uint64).sum(dtype=np.uint64))


def partition(src: np.ndarray, dst: np.ndarray) -> Partition:
    nodes, comp = min_labels(src, dst)
    _, sizes = np.unique(comp, return_counts=True)
    return Partition(
        nodes=len(nodes), components=len(sizes),
        fingerprint=fingerprint(nodes, comp),
        largest=int(sizes.max()) if len(sizes) else 0,
    )


def pagerank(
    src: np.ndarray, dst: np.ndarray, iterations: int, damping: float = 0.85
) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, rank) after a fixed number of power iterations over the
    directed multigraph: uniform start and teleport, each edge row carries
    rank/out_degree, and the rank of nodes without out-edges is spread
    uniformly over all nodes."""
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(nodes)
    u, v = inv[: len(src)], inv[len(src):]
    out_deg = np.bincount(u, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        share = np.divide(rank, out_deg, out=np.zeros(n), where=~dangling)
        contrib = np.bincount(v, weights=share[u], minlength=n)
        rank = (1.0 - damping) / n + damping * (contrib + rank[dangling].sum() / n)
    return nodes, rank
