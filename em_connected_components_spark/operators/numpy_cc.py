"""Vectorized in-memory CC kernel — the engine's semi-external base case.

Reference: the in-RAM Kruskal/union-find base case the reference switches to
once a contracted graph fits memory (cpp/streaming/basecase/BaseKruskal.h:73-111,
switch at cpp/streaming/algorithms/Boruvka.h:83-85). Instead of a pointer-chasing
union-find (per-edge Python loop), this is a fully vectorized
Shiloach–Vishkin-style hook + pointer-doubling over numpy arrays: every
operation is O(m) or O(n) array math, converging in O(log n) rounds — ~100ms
for a million edges vs seconds for a dict-based union-find.

Used from three places, always INSIDE an executor task (mapInPandas /
applyInPandas), never on the driver:
* the CC finish path once the contracted graph fits one task
  (plans/connected_components.py) — the Spark analogue of the reference's
  semi-external switch, with the serial work riding an executor so no
  driver-local filesystem or Arrow collect is involved;
* the insert and delete folds once their batch-bounded piece fits one task
  (plans/incremental.py, plans/decremental.py);
* the bundle-local union-find pass (plans/local_solve.py — SibeynWithBundles,
  cpp/streaming/algorithms/SibeynWithBundles.h:23-206).
"""

from __future__ import annotations

import numpy as np


def solve_cc_numpy(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact CC of the edge list (u[i], v[i]) -> (nodes, comp) arrays, where
    comp[i] is the MINIMUM member of nodes[i]'s component (the engine's
    canonical labeling, matching the distributed min-hooking rounds).

    Self-loops are no-ops; duplicate edges are harmless. Node ids may be any
    int64 values (no density assumption): they are compressed to dense
    indices via sort + searchsorted, and index order == id order, so min
    index == min id.
    """
    u = np.asarray(u, dtype=np.int64)
    v = np.asarray(v, dtype=np.int64)
    nodes = np.unique(np.concatenate([u, v]))
    if len(nodes) == 0:
        return nodes, nodes
    ui = np.searchsorted(nodes, u)
    vi = np.searchsorted(nodes, v)
    parent = np.arange(len(nodes), dtype=np.int64)
    # hook + full pointer-doubling per round; each round at least halves the
    # number of distinct labels along every still-active edge
    for _ in range(64):
        pu = parent[ui]
        pv = parent[vi]
        if np.array_equal(pu, pv):
            break
        hi = np.maximum(pu, pv)
        lo = np.minimum(pu, pv)
        np.minimum.at(parent, hi, lo)
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
    return nodes, nodes[parent]


def fold_insert_numpy(
    u: np.ndarray, v: np.ndarray, star: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Solve an insert fold's piece: the new edges (star == 0) plus the star
    edges (node, old comp) of their label slice (star == 1).

    Returns (key, comp, fresh) rows of two kinds:
    * fresh == 0: an old component representative whose label moved, with
      its new label — the map every old label row is composed through;
    * fresh == 1: a node the old labeling has never seen, with its label.

    Exact because every old comp is its component's minimum member: the
    solve's min over (old reps, their slice members, fresh nodes) is the
    min over the old reps and fresh nodes of the merged components, which
    is the full recompute's label. Self-loops must be dropped beforehand (a
    self-loop alone never puts a node into a canonical edge table).
    """
    u = np.asarray(u, dtype=np.int64)
    v = np.asarray(v, dtype=np.int64)
    star = np.asarray(star) != 0
    nodes, comp = solve_cc_numpy(u, v)
    reps = np.unique(v[star])
    rep_comp = comp[np.searchsorted(nodes, reps)]
    moved = rep_comp != reps
    fresh = np.setdiff1d(nodes, np.concatenate([u[star], reps]))
    fresh_comp = comp[np.searchsorted(nodes, fresh)]
    key = np.concatenate([reps[moved], fresh])
    flag = np.zeros(len(key), dtype=np.int64)
    flag[int(moved.sum()):] = 1
    return key, np.concatenate([rep_comp[moved], fresh_comp]), flag


def jump_to_roots_numpy(
    node: np.ndarray, comp: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Pointer-jump a functional parent table (node -> comp, comp itself a
    node of the table, parent chains strictly decreasing) to its fixpoint.

    Returns (node_sorted, root) with rows sorted by node id. This is the
    jump phase of a Boruvka round run as one vectorized pass — path doubling
    on index arrays (log2(depth) gathers).
    """
    node = np.asarray(node, dtype=np.int64)
    comp = np.asarray(comp, dtype=np.int64)
    order = np.argsort(node)
    nodes_s = node[order]
    comp_s = comp[order]
    # translate to index space ONCE (searchsorted is the O(n log n) step);
    # each doubling round is then a pure O(n) gather
    par = np.searchsorted(nodes_s, comp_s)
    for _ in range(64):
        nxt = par[par]
        if np.array_equal(nxt, par):
            break
        par = nxt
    return nodes_s, nodes_s[par]
