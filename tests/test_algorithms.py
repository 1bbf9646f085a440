"""PageRank (NumPy oracle, allclose 1e-6), label propagation, triangles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from em_connected_components_spark.operators.normalize import canonicalize
from em_connected_components_spark.plans.connected_components import (
    connected_components,
)
from em_connected_components_spark.plans.label_propagation import (
    label_propagation,
)
from em_connected_components_spark.plans.pagerank import pagerank, pagerank_spmv
from em_connected_components_spark.plans.triangles import (
    triangles_count,
    triangles_per_node,
)
from em_connected_components_spark.sources import generators as gen

from .conftest import labels_to_partition


def numpy_pagerank(edge_list, damping=0.85, iters=100, tol=1e-12):
    """Dense power-iteration oracle with dangling-mass redistribution."""
    nodes = sorted({u for e in edge_list for u in e})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for u, v in edge_list:
        out_deg[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        for u, v in edge_list:
            contrib[idx[v]] += r[idx[u]] / out_deg[idx[u]]
        dangling = r[out_deg == 0].sum()
        new_r = (1 - damping) / n + damping * (contrib + dangling / n)
        if np.abs(new_r - r).sum() < tol:
            r = new_r
            break
        r = new_r
    return {u: r[idx[u]] for u in nodes}


@pytest.mark.parametrize("variant", [pagerank, pagerank_spmv])
def test_pagerank_vs_numpy(spark, variant):
    edges = canonicalize(gen.gilbert(spark, n=200, avg_degree=3.0, seed=21))
    edge_list = [(r["src"], r["dst"]) for r in edges.collect()]
    got = {
        r["node"]: r["rank"]
        for r in variant(edges, max_iters=60, tol=1e-12).collect()
    }
    want = numpy_pagerank(edge_list)
    assert set(got) == set(want)
    for u in want:
        assert abs(got[u] - want[u]) < 1e-6, (u, got[u], want[u])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_dangling_mass(spark):
    # 1->2, 1->3: nodes 2,3 are dangling; ranks must still sum to 1
    edges = spark.createDataFrame([(1, 2), (1, 3)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(edges, max_iters=50).collect()}
    want = numpy_pagerank([(1, 2), (1, 3)])
    for u in want:
        assert abs(got[u] - want[u]) < 1e-6
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_fused_check_stopping_identical(spark):
    """The Observation-fused L1 check must stop at the SAME iteration as the
    pre-fusion plan: the delta is known every iteration (observed_l1) but is
    only consulted at check_every boundaries, so even when convergence is
    reached between boundaries the loop runs on to the next boundary —
    exactly the unfused behavior (VERDICT r4 #2 done-bar)."""
    from em_connected_components_spark.plans.pagerank import PRMetrics

    edges = canonicalize(gen.gilbert(spark, n=120, avg_degree=2.0, seed=7))
    edge_list = [(r["src"], r["dst"]) for r in edges.collect()]

    # dry-run the oracle to find a tol that converges strictly between two
    # check boundaries for check_every=4: pick the observed L1 at some
    # iteration k with k % 4 not in {0, 3}
    m = PRMetrics()
    pagerank(edges, max_iters=24, tol=0.0, check_every=100, metrics=m)
    l1 = [it["observed_l1"] for it in m.iterations]
    assert all(v is not None for v in l1)
    # choose tol so the first iteration with delta < tol is NOT a boundary
    k = 5  # 0-indexed; boundaries for check_every=4 are it = 3, 7, 11, ...
    tol = (l1[k] + l1[k - 1]) / 2.0
    assert l1[k] < tol <= l1[k - 1]

    m2 = PRMetrics()
    pagerank(edges, max_iters=24, tol=tol, check_every=4, metrics=m2)
    iters_run = len(m2.iterations)
    # unfused semantics: first consulted boundary at or after k=5 is it=7
    # (the 8th iteration) — the loop must NOT stop at it=5 even though
    # observed_l1 already crossed tol there
    assert iters_run == 8, [it["l1_delta"] for it in m2.iterations]
    assert m2.iterations[5]["l1_delta"] is None  # not consulted off-boundary
    assert m2.iterations[5]["observed_l1"] < tol  # ... though it had crossed
    assert m2.iterations[7]["l1_delta"] < tol  # consulted + stopped here


def test_pagerank_l1_unobserved_is_recorded(spark, monkeypatch):
    # an L1 delta Spark left unobserved is recorded on every iteration and
    # never counts as converged, instead of being swallowed by a recompute
    from em_connected_components_spark.plans import pagerank as pr

    observed = pr._observed
    monkeypatch.setattr(
        pr, "_observed",
        lambda obs, name: None if name == "l1" else observed(obs, name),
    )
    edges = canonicalize(gen.gilbert(spark, n=200, avg_degree=3.0, seed=21))
    edge_list = [(r["src"], r["dst"]) for r in edges.collect()]
    m = pr.PRMetrics()
    ranks = pr.pagerank(edges, max_iters=60, tol=1.0, check_every=1,
                        metrics=m)
    got = {r["node"]: r["rank"] for r in ranks.collect()}
    assert len(m.iterations) == 60
    assert all(it["l1_unobserved"] is True for it in m.iterations)
    want = numpy_pagerank(edge_list)
    assert set(got) == set(want)
    for u in want:
        assert abs(got[u] - want[u]) < 1e-6, (u, got[u], want[u])


def test_label_propagation_equals_cc(spark):
    edges = canonicalize(gen.gilbert(spark, n=300, avg_degree=1.2, seed=33))
    lp = label_propagation(edges)
    cc = connected_components(edges, small_graph_threshold=0,
                              pre_canonicalized=True)
    lp_part = labels_to_partition(
        [{"node": r["node"], "comp": r["label"]} for r in lp.collect()]
    )
    cc_part = labels_to_partition(cc.collect())
    assert lp_part == cc_part
    # min-label convergence: labels identical, not just same partition
    lp_map = {r["node"]: r["label"] for r in lp.collect()}
    cc_map = {r["node"]: r["comp"] for r in cc.collect()}
    assert lp_map == cc_map


def test_label_propagation_cliques(spark):
    lp = label_propagation(gen.cliques(spark, k=6, count=5))
    labels = {r["node"]: r["label"] for r in lp.collect()}
    for c in range(5):
        members = range(c * 6 + 1, (c + 1) * 6 + 1)
        assert {labels[m] for m in members} == {c * 6 + 1}


def test_triangles_known_answers(spark):
    # path & grid: 0 triangles; k-cliques: count * C(k,3)
    assert triangles_count(gen.path(spark, 50)).collect()[0]["n_triangles"] == 0
    assert triangles_count(gen.grid(spark, 6, 6)).collect()[0]["n_triangles"] == 0
    k, c = 7, 4
    want = c * (k * (k - 1) * (k - 2) // 6)
    assert (
        triangles_count(gen.cliques(spark, k, c)).collect()[0]["n_triangles"]
        == want
    )


def test_triangles_vs_bruteforce(spark):
    edges = canonicalize(gen.gilbert(spark, n=60, avg_degree=6.0, seed=5))
    rows = {(r["src"], r["dst"]) for r in edges.collect()}
    adj = {}
    for u, v in rows:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    brute = sum(
        1
        for u, v in rows
        for w in adj[u] & adj[v]
        if u < v < w or (w > v)
    )
    # count each triangle once: (u<v) edge + common neighbor w with w>v
    brute = sum(1 for u, v in rows for w in (adj[u] & adj[v]) if v < w)
    got = triangles_count(edges).collect()[0]["n_triangles"]
    assert got == brute


def test_triangles_per_node_clique(spark):
    # every node of a k-clique participates in C(k-1,2) triangles
    k = 6
    per = triangles_per_node(gen.cliques(spark, k, 2))
    want = (k - 1) * (k - 2) // 2
    rows = per.collect()
    assert len(rows) == 2 * k
    assert all(r["n_triangles"] == want for r in rows)
