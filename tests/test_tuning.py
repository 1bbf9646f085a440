"""Byte-gated forced broadcasts: the hint row-bound derives from memory
config, and over-bound label tables take the shuffled path (VERDICT r2 #1)."""

from __future__ import annotations

import pytest

from em_connected_components_spark.tuning import (
    BROADCAST_ROWS_CAP,
    broadcast_row_bound,
    parse_mem_bytes,
)


def test_parse_mem_bytes():
    assert parse_mem_bytes("1g") == 1 << 30
    assert parse_mem_bytes("512m") == 512 << 20
    assert parse_mem_bytes("48G") == 48 << 30
    assert parse_mem_bytes("2097152k") == 2097152 << 10
    assert parse_mem_bytes("1024") == 1024
    with pytest.raises(ValueError):
        parse_mem_bytes("lots")


def test_broadcast_row_bound_memory_model(spark):
    # 1 GB heap -> ~524k rows; 4 GB -> ~2M; huge heaps hit the 16M cap
    assert broadcast_row_bound(spark, heap_bytes=1 << 30) == (1 << 30) // 2048
    assert broadcast_row_bound(spark, heap_bytes=4 << 30) == (4 << 30) // 2048
    assert broadcast_row_bound(spark, heap_bytes=1 << 40) == BROADCAST_ROWS_CAP
    # session-derived bound is positive and capped
    b = broadcast_row_bound(spark)
    assert 0 < b <= BROADCAST_ROWS_CAP


def test_conf_override_pins_bound(spark):
    spark.conf.set("spark.emcc.broadcast.maxRows", "12345")
    try:
        assert broadcast_row_bound(spark) == 12345
        # explicit heap_bytes is still trumped by the operator override knob
        assert broadcast_row_bound(spark, heap_bytes=1 << 40) == 12345
    finally:
        spark.conf.unset("spark.emcc.broadcast.maxRows")


def test_over_bound_labels_take_shuffled_path(spark):
    # with the bound pinned below the graph's node count, the CC driver must
    # not arm the forced-broadcast hint (metrics record the plan choice) —
    # with or without a policy, and in the KKT driver's sub-solves too
    from em_connected_components_spark.operators.normalize import canonicalize
    from em_connected_components_spark.plans.connected_components import (
        CCMetrics,
        connected_components,
    )
    from em_connected_components_spark.plans.policy import Policy
    from em_connected_components_spark.sources import generators as gen

    from .conftest import labels_to_partition, python_union_find

    edges = canonicalize(gen.gilbert(spark, 300, 2.0, seed=11))
    edge_rows = [(r["src"], r["dst"]) for r in edges.collect()]
    spark.conf.set("spark.emcc.broadcast.maxRows", "10")
    try:
        for policy in (None, Policy(small_graph_edges=0),
                       Policy(strategy="kkt", small_graph_edges=0)):
            metrics = CCMetrics()
            labels = connected_components(
                edges, pre_canonicalized=True, metrics=metrics,
                small_graph_threshold=0, jump_local_threshold=0,
                policy=policy,
            )
            supersteps = [r for r in metrics.rounds if "broadcast" in r]
            assert supersteps, policy
            assert all(not r["broadcast"] for r in supersteps), policy
            # the shuffled path is still exact
            assert labels_to_partition(labels.collect()) == python_union_find(
                edge_rows
            ), policy
    finally:
        spark.conf.unset("spark.emcc.broadcast.maxRows")


def test_default_bound_broadcasts_small_labels(spark):
    # sanity: with the default (memory-derived, >=500k in any test session)
    # bound, a small graph takes the broadcast path
    from em_connected_components_spark.operators.normalize import canonicalize
    from em_connected_components_spark.plans.connected_components import (
        CCMetrics,
        connected_components,
    )
    from em_connected_components_spark.sources import generators as gen

    edges = canonicalize(gen.gilbert(spark, 300, 2.0, seed=11))
    metrics = CCMetrics()
    connected_components(
        edges, pre_canonicalized=True, metrics=metrics,
        small_graph_threshold=0, jump_local_threshold=0,
    )
    supersteps = [r for r in metrics.rounds if "broadcast" in r]
    assert supersteps and all(r["broadcast"] for r in supersteps)
