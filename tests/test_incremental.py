"""Incremental CC: delta-batch update equals full recompute, bit-for-bit.

The exactness claim in plans/incremental.py is stronger than partition
equality — min-member labels compose exactly — so these tests compare the
(node, comp) ROWS against a fresh full solve of the union graph, not just
the partition. Every case runs on both of the fold's paths: the default
threshold takes the one-task kernel, ``small_graph_threshold=0`` the
distributed plan; the fold's metrics record names the path that ran.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from em_connected_components_spark.plans.connected_components import (
    CCMetrics,
    connected_components,
)
from em_connected_components_spark.plans.incremental import (
    incremental_connected_components,
)


def _df(spark, pairs):
    return spark.createDataFrame(
        [(int(u), int(v)) for u, v in pairs], "src long, dst long"
    )


def _rows(df):
    return sorted((r["node"], r["comp"]) for r in df.collect())


PATHS = {"kernel": {}, "distributed": {"small_graph_threshold": 0}}


def _fold(path, labels, new_edges, gate=None):
    """Fold with the named path's settings. The fold's metrics record must
    name the path that ran and, on the distributed path, the gate that sent
    it there (by default the zero threshold)."""
    if gate is None and path == "distributed":
        gate = "small_graph_threshold"
    m = CCMetrics()
    out = incremental_connected_components(labels, new_edges, metrics=m,
                                           **PATHS[path])
    rec = m.rounds[-1]
    assert rec["kind"] == ("fold_kernel" if gate is None else "fold_distributed")
    assert rec.get("gate") == gate
    return out


def _full(spark, old, new):
    return connected_components(
        _df(spark, old).unionAll(_df(spark, new)), small_graph_threshold=0
    )


@pytest.mark.parametrize("seed", [1, 7])
def test_incremental_equals_full_random(spark, seed):
    rng = random.Random(seed)
    old = [(rng.randint(1, 120), rng.randint(1, 120)) for _ in range(150)]
    # delta: merges across old comps + a brand-new node range (200..260)
    new = [(rng.randint(1, 260), rng.randint(1, 260)) for _ in range(60)]
    base = connected_components(_df(spark, old), small_graph_threshold=0)
    want = _rows(_full(spark, old, new))
    for path in PATHS:
        assert _rows(_fold(path, base, _df(spark, new))) == want


def test_incremental_merge_two_old_components(spark):
    old = [(1, 2), (2, 3), (10, 11)]
    new = [(3, 10)]  # bridges comp{1,2,3} and comp{10,11}
    base = connected_components(_df(spark, old), small_graph_threshold=0)
    for path in PATHS:
        inc = _fold(path, base, _df(spark, new))
        assert _rows(inc) == [(1, 1), (2, 1), (3, 1), (10, 1), (11, 1)]


def test_incremental_only_new_nodes(spark):
    old = [(1, 2)]
    new = [(100, 101), (101, 102)]
    base = connected_components(_df(spark, old), small_graph_threshold=0)
    for path in PATHS:
        inc = _fold(path, base, _df(spark, new))
        assert _rows(inc) == [(1, 1), (2, 1), (100, 100), (101, 100),
                              (102, 100)]


def test_incremental_redundant_delta_is_noop(spark):
    # every delta edge lands inside one old component -> relabeled delta is
    # all self-loops, inner CC sees an empty graph, labels are unchanged
    old = [(1, 2), (2, 3), (3, 4)]
    new = [(1, 4), (2, 3)]
    base = connected_components(_df(spark, old), small_graph_threshold=0)
    for path in PATHS:
        assert _rows(_fold(path, base, _df(spark, new))) == _rows(base)


def test_incremental_chained_batches(spark):
    # three consecutive deltas folded one at a time == one full solve
    rng = random.Random(99)
    batches = [
        [(rng.randint(1, 80 * (i + 1)), rng.randint(1, 80 * (i + 1)))
         for _ in range(40)]
        for i in range(4)
    ]
    all_edges = [e for b in batches for e in b]
    want = _rows(
        connected_components(_df(spark, all_edges), small_graph_threshold=0)
    )
    for path in PATHS:
        labels = connected_components(_df(spark, batches[0]),
                                      small_graph_threshold=0)
        for b in batches[1:]:
            labels = _fold(path, labels, _df(spark, b))
        assert _rows(labels) == want


def test_incremental_shuffled_fallback_agrees(spark):
    # force the byte gate shut (spark.emcc.broadcast.maxRows=1): the delta
    # node set no longer clears the broadcast bound, so even a small batch
    # leaves the kernel and the relabels take the shuffled full-table path
    # — results must be identical
    old = [(1, 2), (2, 3), (10, 11)]
    new = [(3, 10), (50, 51)]
    base = connected_components(_df(spark, old), small_graph_threshold=0)
    want = _rows(_full(spark, old, new))
    spark.conf.set("spark.emcc.broadcast.maxRows", "1")
    try:
        for path, gate in (("kernel", "broadcast_row_bound"),
                           ("distributed", "small_graph_threshold")):
            # materialize under the forced gate
            assert _rows(_fold(path, base, _df(spark, new), gate)) == want
    finally:
        spark.conf.unset("spark.emcc.broadcast.maxRows")


def test_incremental_result_is_star_map(spark):
    old = [(1, 2), (5, 6)]
    new = [(2, 5), (7, 8)]
    base = connected_components(_df(spark, old), small_graph_threshold=0)
    for path in PATHS:
        inc = _fold(path, base, _df(spark, new))
        # contains_stars_only (cpp/vector-checks.hpp:19-46): every comp is a
        # member of itself and comps never appear as non-root nodes
        rows = inc.collect()
        comp_of = {r["node"]: r["comp"] for r in rows}
        for n, c in comp_of.items():
            assert comp_of[c] == c
        assert (
            inc.groupBy("node").count().filter(F.col("count") > 1).count() == 0
        )


@pytest.mark.parametrize("path", PATHS)
def test_incremental_empty_batch(spark, path):
    base = connected_components(_df(spark, [(1, 2), (5, 6)]),
                                small_graph_threshold=0)
    assert _rows(_fold(path, base, _df(spark, []))) == _rows(base)


@pytest.mark.parametrize("path", PATHS)
def test_incremental_replayed_batch_is_noop(spark, path):
    # at-least-once replay: folding a batch a second time changes nothing
    old = [(1, 2), (2, 3), (20, 21)]
    batch = _df(spark, [(3, 20), (40, 41), (41, 41)])
    once = _fold(path, connected_components(_df(spark, old),
                                            small_graph_threshold=0), batch)
    once = once.localCheckpoint(eager=True)
    assert _rows(_fold(path, once, batch)) == _rows(once)


@pytest.mark.parametrize("path", PATHS)
def test_incremental_self_loops_add_no_node(spark, path):
    # a canonical edge table never holds a self-loop, so a never-seen node
    # whose only edge is a self-loop stays out of the labels
    base = connected_components(_df(spark, [(1, 2)]), small_graph_threshold=0)
    inc = _fold(path, base, _df(spark, [(7, 7), (2, 2), (2, 9)]))
    assert _rows(inc) == [(1, 1), (2, 1), (9, 1)]
