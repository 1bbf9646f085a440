"""Connected components: known-answer families + union-find oracle +
invariants (mirrors test/TestContractions.cpp and stream-checks.hpp)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from em_connected_components_spark.sources import generators as gen
from em_connected_components_spark.operators.normalize import canonicalize
from em_connected_components_spark.plans.connected_components import (
    connected_components,
    connected_components_metrics,
)

from .conftest import labels_to_partition, python_union_find


def _partition(labels_df):
    return labels_to_partition(labels_df.collect())


def _assert_star_map(labels_df):
    """Stars-only validity (cpp/stream-checks.hpp:23-53): unique nodes; every
    comp is the min of its members; comp <= node."""
    rows = labels_df.collect()
    nodes = [r["node"] for r in rows]
    assert len(nodes) == len(set(nodes))
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["comp"], set()).add(r["node"])
    for comp, members in by_comp.items():
        assert comp == min(members | {comp})


@pytest.mark.parametrize("small_threshold", [0, 10_000_000])
def test_matching(spark, small_threshold):
    # k pairs -> k components of size 2; one round contracts fully
    k = 256
    labels = connected_components(
        gen.matching(spark, k), small_graph_threshold=small_threshold
    )
    part = _partition(labels)
    assert part == {frozenset({2 * i - 1, 2 * i}) for i in range(1, k + 1)}
    _assert_star_map(labels)


def test_path_distributed_only(spark):
    # path of n nodes -> 1 component, min label 1
    n = 300
    labels = connected_components(gen.path(spark, n), small_graph_threshold=0)
    rows = labels.collect()
    assert len(rows) == n
    assert {r["comp"] for r in rows} == {1}


def test_grid(spark):
    labels = connected_components(gen.grid(spark, 8, 9), small_graph_threshold=0)
    assert labels.select("comp").distinct().count() == 1
    assert labels.count() == 72


def test_cliques(spark):
    labels = connected_components(
        gen.cliques(spark, k=8, count=10), small_graph_threshold=0
    )
    part = _partition(labels)
    assert part == {
        frozenset(range(c * 8 + 1, (c + 1) * 8 + 1)) for c in range(10)
    }


def test_cube_layers(spark):
    # 3 disjoint 4x4 layers -> 3 components
    labels = connected_components(
        gen.cube(spark, 4, 4, layers=3, d=1), small_graph_threshold=0
    )
    assert labels.select("comp").distinct().count() == 3


@pytest.mark.parametrize("seed", [1, 7])
def test_gilbert_vs_unionfind_oracle(spark, seed):
    edges = canonicalize(gen.gilbert(spark, n=500, avg_degree=1.5, seed=seed))
    edge_rows = [(r["src"], r["dst"]) for r in edges.collect()]
    labels = connected_components(edges, small_graph_threshold=0,
                                  pre_canonicalized=True)
    assert _partition(labels) == python_union_find(edge_rows)
    _assert_star_map(labels)


def test_rmat_vs_unionfind_oracle(spark):
    edges = canonicalize(gen.rmat(spark, scale=9, edge_factor=4, seed=3))
    edge_rows = [(r["src"], r["dst"]) for r in edges.collect()]
    labels = connected_components(edges, small_graph_threshold=0,
                                  pre_canonicalized=True)
    assert _partition(labels) == python_union_find(edge_rows)


def test_local_vs_distributed_pointer_jump(spark):
    # same labels whichever side of the jump_local_threshold we land on
    edges = canonicalize(gen.rmat(spark, scale=9, edge_factor=4, seed=8))
    a, ma = connected_components_metrics(
        edges, small_graph_threshold=0, pre_canonicalized=True,
        jump_local_threshold=0,
    )
    b, mb = connected_components_metrics(
        edges, small_graph_threshold=0, pre_canonicalized=True,
        jump_local_threshold=10**9,
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert {r["jump"] for r in ma.rounds} == {"doubling"}
    assert {r["jump"] for r in mb.rounds} == {"local"}


def test_targets_reduced_jump_agrees(spark):
    # the targets-reduced jump (solve the comp-closure in one kernel task,
    # apply with one probe join) must equal plain path doubling — including
    # on a deep chain, where every node is also a target
    from em_connected_components_spark.plans.connected_components import (
        _pointer_jump,
        _pointer_jump_targets,
    )

    # parent tables: a depth-20 chain, a star, and a hook forest from rMAT
    chain = spark.createDataFrame(
        [(i, max(i - 1, 0)) for i in range(20)], schema="node long, comp long"
    )
    star = spark.createDataFrame(
        [(i, 0) for i in range(50)] + [(0, 0)], schema="node long, comp long"
    )
    from em_connected_components_spark.plans.connected_components import (
        _hook_parents,
    )

    forest = _hook_parents(
        canonicalize(gen.rmat(spark, scale=8, edge_factor=4, seed=5))
    ).select("node", "comp")

    for parents in (chain, star, forest):
        want = sorted(map(tuple, _pointer_jump(parents).collect()))
        targets = parents.select(F.col("comp").alias("node")).distinct()
        for bcast in (True, False):
            got = _pointer_jump_targets(
                parents, targets, broadcast_resolved=bcast
            )
            assert sorted(map(tuple, got.collect())) == want
            got.unpersist()


def test_targets_jump_route_in_cc(spark):
    # route an end-to-end CC run through the targets-reduced branch: pick
    # jump_local_threshold strictly between |targets| and n so the dispatch
    # can only take the new path on round 0
    from em_connected_components_spark.plans.connected_components import (
        _hook_parents,
    )

    edges = canonicalize(gen.rmat(spark, scale=9, edge_factor=4, seed=8))
    parents = _hook_parents(edges)
    n = parents.count()
    t = parents.select("comp").distinct().count()
    assert t < n  # hook forests always shrink the comp set
    thr = (t + n) // 2
    edge_rows = [(r["src"], r["dst"]) for r in edges.collect()]
    labels, metrics = connected_components_metrics(
        edges, small_graph_threshold=0, pre_canonicalized=True,
        jump_local_threshold=thr,
    )
    assert _partition(labels) == python_union_find(edge_rows)
    assert metrics.rounds[0]["jump"] == "targets"


def test_semi_external_switch_agrees(spark):
    # distributed-only vs union-find finish produce the same partition
    edges = canonicalize(gen.gilbert(spark, n=400, avg_degree=2.0, seed=11))
    a = connected_components(edges, small_graph_threshold=0,
                             pre_canonicalized=True)
    b = connected_components(edges, small_graph_threshold=10_000_000,
                             pre_canonicalized=True)
    assert _partition(a) == _partition(b)


def test_dirty_input_normalized(spark):
    # self-loops + duplicates + reversed duplicates must not change the answer
    dirty = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 2), (1, 2), (3, 4), (4, 3), (5, 5)],
        schema="src long, dst long",
    )
    labels = connected_components(dirty, small_graph_threshold=0)
    part = _partition(labels)
    # node 5 only had a self-loop -> it disappears after normalization
    assert part == {frozenset({1, 2}), frozenset({3, 4})}


def test_empty_graph(spark):
    empty = spark.createDataFrame([], schema="src long, dst long")
    labels = connected_components(empty)
    assert labels.count() == 0
    assert [f.name for f in labels.schema.fields] == ["node", "comp"]


def test_metrics_and_convergence(spark):
    edges = gen.path(spark, 200)
    labels, metrics = connected_components_metrics(
        edges, small_graph_threshold=0
    )
    assert labels.select("comp").distinct().count() == 1
    assert metrics.n_rounds >= 1
    for r in metrics.rounds:
        assert r["wall_sec"] > 0
        if r["kind"] == "boruvka_superstep":
            assert r["m_next"] < r["m"]  # monotone edge shrink


@pytest.mark.parametrize(
    "maker, small_threshold",
    [
        # distributed rounds to natural exit (no finish kernel)
        (lambda s: gen.path(s, 200), 0),
        # straight to the finish kernel (labels None at finish)
        (lambda s: canonicalize(gen.gilbert(s, n=400, avg_degree=1.5, seed=3)),
         10**9),
        # rounds then finish with a prior-labels compose
        (lambda s: canonicalize(gen.gilbert(s, n=4000, avg_degree=1.5, seed=7)),
         700),
        # many components: disjoint cliques
        (lambda s: gen.cliques(s, k=5, count=13), 0),
        (lambda s: gen.cliques(s, k=5, count=13), 40),
    ],
)
def test_n_components_metric_exact(spark, maker, small_threshold):
    """metrics.n_components (free bookkeeping) == countDistinct(comp)."""
    edges = maker(spark)
    labels, metrics = connected_components_metrics(
        edges, small_graph_threshold=small_threshold
    )
    want = labels.select("comp").distinct().count()
    assert metrics.n_components == want


def test_n_components_metric_star(spark):
    from em_connected_components_spark.plans.connected_components import (
        CCMetrics,
        connected_components,
    )
    from em_connected_components_spark.plans.policy import Policy

    edges = canonicalize(gen.gilbert(spark, n=4000, avg_degree=1.5, seed=7))
    # star-contraction rounds mixed in via an always-star policy
    m = CCMetrics()
    pol = Policy(star_density=1e9, small_graph_edges=0)
    lbl = connected_components(edges, metrics=m, policy=pol,
                               pre_canonicalized=True)
    assert any(r["kind"] == "star_superstep" for r in m.rounds)
    assert m.n_components == lbl.select("comp").distinct().count()


def test_n_components_unobserved_is_recorded(spark, monkeypatch):
    # a finish root count Spark left unobserved is recorded on the finish
    # record and leaves n_components None, instead of being swallowed
    from em_connected_components_spark.plans import connected_components as cc

    observed = cc._observed
    monkeypatch.setattr(
        cc, "_observed",
        lambda obs, name: None if name == "r_fin" else observed(obs, name),
    )
    edges = canonicalize(gen.gilbert(spark, n=400, avg_degree=1.5, seed=3))
    labels, metrics = connected_components_metrics(
        edges, small_graph_threshold=10**9, pre_canonicalized=True
    )
    (fin,) = [r for r in metrics.rounds if r["kind"] == "unionfind_finish"]
    assert fin["n_components_unobserved"] is True
    assert metrics.n_components is None
    assert _partition(labels) == python_union_find(
        [(r["src"], r["dst"]) for r in edges.collect()]
    )


def test_n_components_metric_none_when_not_converged(spark):
    from em_connected_components_spark.plans.connected_components import (
        CCMetrics,
        connected_components,
    )

    # this gilbert needs ~4 rounds (m profile [3000, 1087, 334, 51]), so
    # max_rounds=1 stops with edges remaining -> metric must stay None
    edges = canonicalize(gen.gilbert(spark, n=4000, avg_degree=1.5, seed=7))
    m = CCMetrics()
    connected_components(edges, metrics=m, max_rounds=1,
                         small_graph_threshold=0, pre_canonicalized=True)
    assert m.rounds[0]["m_next"] > 0  # genuinely not converged
    assert m.n_components is None  # stopped at max_rounds, not converged


def test_n_components_metric_empty(spark):
    from em_connected_components_spark.plans.connected_components import (
        CCMetrics,
        connected_components,
    )

    m = CCMetrics()
    empty = spark.createDataFrame([], schema="src long, dst long")
    connected_components(empty, metrics=m)
    assert m.n_components == 0
