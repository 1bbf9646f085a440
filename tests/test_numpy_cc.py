"""Unit tests for the vectorized CC kernel (operators/numpy_cc) — the
executor-side base case (reference: cpp/streaming/basecase/BaseKruskal.h:73-111).
Pure numpy, no SparkSession."""

from __future__ import annotations

import numpy as np

from em_connected_components_spark.operators.numpy_cc import (
    fold_insert_numpy,
    jump_to_roots_numpy,
    solve_cc_numpy,
)

from .conftest import python_union_find


def _partition_from(nodes, comp):
    groups = {}
    for n, c in zip(nodes.tolist(), comp.tolist()):
        groups.setdefault(c, set()).add(n)
    return {frozenset(g) for g in groups.values()}


def test_solve_cc_empty():
    nodes, comp = solve_cc_numpy(np.array([], dtype=np.int64), np.array([], dtype=np.int64))
    assert len(nodes) == 0


def test_solve_cc_path_and_min_labels():
    # path 1-2-3-...-10: one component, min member 1
    u = np.arange(1, 10)
    v = np.arange(2, 11)
    nodes, comp = solve_cc_numpy(u, v)
    assert nodes.tolist() == list(range(1, 11))
    assert set(comp.tolist()) == {1}


def test_solve_cc_self_loops_and_duplicates():
    u = np.array([5, 5, 5, 7, 7, 100])
    v = np.array([5, 6, 6, 8, 8, 100])
    nodes, comp = solve_cc_numpy(u, v)
    got = dict(zip(nodes.tolist(), comp.tolist()))
    assert got == {5: 5, 6: 5, 7: 7, 8: 7, 100: 100}


def test_solve_cc_random_vs_union_find():
    rng = np.random.default_rng(7)
    # sparse random graph over sparse (non-dense) 64-bit-ish ids
    # drawn from the id range, not from a materialized 8 GB arange of it
    ids = rng.choice(10**9 - 1, size=2000, replace=False) + 1
    u = ids[rng.integers(0, len(ids), size=3000)]
    v = ids[rng.integers(0, len(ids), size=3000)]
    nodes, comp = solve_cc_numpy(u, v)
    expected = python_union_find(list(zip(u.tolist(), v.tolist())))
    assert _partition_from(nodes, comp) == expected
    # labels are min members
    for n, c in zip(nodes.tolist(), comp.tolist()):
        assert c <= n


def test_jump_to_roots_long_chain():
    # parent chain 100 <- 99 <- ... <- 1 given as (node, parent) pairs
    node = np.arange(2, 101, dtype=np.int64)
    parent = node - 1
    node = np.concatenate([node, [1]])
    parent = np.concatenate([parent, [1]])
    ns, roots = jump_to_roots_numpy(node, parent)
    assert ns.tolist() == sorted(node.tolist())
    assert set(roots.tolist()) == {1}


def test_fold_insert_composes_to_full_solve():
    # old graph over 1..300, batch reaching fresh ids 301..400; composing the
    # kernel's rep map and fresh rows over the old labels == a full solve
    rng = np.random.default_rng(3)
    ou, ov = rng.integers(1, 301, size=(2, 250))
    nu, nv = rng.integers(1, 401, size=(2, 60))
    keep = nu != nv
    nu, nv = nu[keep], nv[keep]
    old_nodes, old_comp = solve_cc_numpy(ou[ou != ov], ov[ou != ov])
    in_slice = np.isin(old_nodes, np.concatenate([nu, nv]))
    key, comp, fresh = fold_insert_numpy(
        np.concatenate([nu, old_nodes[in_slice]]),
        np.concatenate([nv, old_comp[in_slice]]),
        np.concatenate([np.zeros(len(nu)), np.ones(in_slice.sum())]),
    )
    assert not np.isin(key[fresh == 1], old_nodes).any()  # no row twice
    rep_map = dict(zip(key[fresh == 0].tolist(), comp[fresh == 0].tolist()))
    got = {n: rep_map.get(c, c)
           for n, c in zip(old_nodes.tolist(), old_comp.tolist())}
    got.update(zip(key[fresh == 1].tolist(), comp[fresh == 1].tolist()))
    u, v = np.concatenate([ou, nu]), np.concatenate([ov, nv])
    want_nodes, want_comp = solve_cc_numpy(u[u != v], v[u != v])
    assert got == dict(zip(want_nodes.tolist(), want_comp.tolist()))
