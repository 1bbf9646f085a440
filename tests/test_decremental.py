"""Decremental CC: deleting edges via component-bounded re-solve must be
bit-identical to a full recompute over (old MINUS removed).

Every case runs on both of the fold's paths: the default threshold takes
the one-task kernel, ``small_graph_threshold=0`` the distributed plan; the
fold's metrics record names the path that ran."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from em_connected_components_spark.operators.normalize import canonicalize
from em_connected_components_spark.plans.connected_components import (
    CCMetrics,
    connected_components,
)
from em_connected_components_spark.plans.decremental import (
    decremental_connected_components,
)
from em_connected_components_spark.sources import generators as gen


def _rows(df):
    return sorted((r["node"], r["comp"]) for r in df.collect())


def _solve(spark, edges):
    return connected_components(edges, pre_canonicalized=True,
                                small_graph_threshold=0)


PATHS = {"kernel": {}, "distributed": {"small_graph_threshold": 0}}


def _fold(path, labels, edges, removed, gate=None):
    """Fold with the named path's settings. The fold's metrics record must
    name the path that ran and, on the distributed path, the gate that sent
    it there (by default the zero threshold)."""
    if gate is None and path == "distributed":
        gate = "small_graph_threshold"
    m = CCMetrics()
    out = decremental_connected_components(labels, edges, removed,
                                           pre_canonicalized=True, metrics=m,
                                           **PATHS[path])
    rec = m.rounds[-1]
    assert rec["kind"] == ("fold_kernel" if gate is None else "fold_distributed")
    assert rec.get("gate") == gate
    return out


def _check(spark, edges, removed, gates=None):
    labels = _solve(spark, edges)
    want = _rows(_solve(spark, edges.join(removed, on=["src", "dst"],
                                          how="left_anti")))
    for path in PATHS:
        got = _fold(path, labels, edges, removed, (gates or {}).get(path))
        assert _rows(got) == want


def test_bridge_removal_splits_component(spark):
    # path 1-2-3-4-5-6: removing (3,4) splits one component into two
    edges = canonicalize(gen.path(spark, 6))
    removed = spark.createDataFrame([(3, 4)], "src long, dst long")
    _check(spark, edges, removed)


def test_removal_isolates_nodes(spark):
    # star 1-{2,3,4}: removing all edges of 1 drops every node from the map
    edges = spark.createDataFrame([(1, 2), (1, 3), (1, 4)],
                                  "src long, dst long")
    removed = edges
    labels = _solve(spark, edges)
    for path in PATHS:
        assert _fold(path, labels, edges, removed).count() == 0


def test_untouched_components_pass_through(spark):
    # two components; removal only touches one — the other's labels must be
    # byte-identical (same rows, not merely same partition)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12)], "src long, dst long"
    )
    removed = spark.createDataFrame([(2, 3)], "src long, dst long")
    _check(spark, edges, removed)


def test_removing_nonexistent_edges_is_noop(spark):
    edges = canonicalize(gen.gilbert(spark, n=200, avg_degree=1.5, seed=5))
    removed = spark.createDataFrame([(100001, 100002)], "src long, dst long")
    labels = _solve(spark, edges)
    for path in PATHS:
        assert _rows(_fold(path, labels, edges, removed)) == _rows(labels)


def test_empty_removal_returns_labels(spark):
    edges = canonicalize(gen.gilbert(spark, n=100, avg_degree=1.5, seed=2))
    labels = _solve(spark, edges)
    empty = spark.createDataFrame([], "src long, dst long")
    for path in PATHS:
        assert _rows(_fold(path, labels, edges, empty)) == _rows(labels)


@pytest.mark.parametrize("seed", [3, 9])
def test_random_removals_vs_full_recompute(spark, seed):
    edges = canonicalize(gen.gilbert(spark, n=500, avg_degree=2.0, seed=seed))
    # deterministic ~1/5 of edges removed
    removed = edges.filter(F.pmod(F.col("src") + F.col("dst"), F.lit(5)) == 0)
    _check(spark, edges, removed)


def test_shuffled_fallback_path_agrees(spark):
    # force the above-gate path (affected node set "too big" to broadcast)
    # by shrinking the byte gate to one row via the explicit conf pin: the
    # kernel is skipped too, and the semi-joins shuffle
    edges = canonicalize(gen.gilbert(spark, n=300, avg_degree=2.0, seed=4))
    removed = edges.limit(20)
    prev = spark.conf.get("spark.emcc.broadcast.maxRows", None)
    spark.conf.set("spark.emcc.broadcast.maxRows", "1")
    try:
        _check(spark, edges, removed, gates={"kernel": "affected_nodes",
                                             "distributed": "affected_nodes"})
    finally:
        if prev is None:
            spark.conf.unset("spark.emcc.broadcast.maxRows")
        else:
            spark.conf.set("spark.emcc.broadcast.maxRows", prev)


@pytest.mark.parametrize("path", PATHS)
def test_removal_drops_edgeless_nodes(spark, path):
    # 3, 10 and 11 lose their last edge and leave the labeling, as they
    # would from a fresh solve; 1-2 stays
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                                  "src long, dst long")
    removed = spark.createDataFrame([(2, 3), (10, 11)], "src long, dst long")
    got = _fold(path, _solve(spark, edges), edges, removed)
    assert _rows(got) == [(1, 1), (2, 1)]
