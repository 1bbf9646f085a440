"""Operator-level tests: normalize, joins, aggregates, deterministic sampling
(mirrors test/TestStreamFilter.cpp, TestTransforms.cpp,
TestStreamRandomNeighbour.cpp statistical envelopes)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from em_connected_components_spark.operators import aggregates as agg
from em_connected_components_spark.operators.joins import (
    break_paths,
    compare_labelings,
    compose_labels,
    contract,
    relabel,
)
from em_connected_components_spark.operators.normalize import canonicalize
from em_connected_components_spark.operators.sample import (
    bernoulli_split,
    reservoir_per_group,
)
from em_connected_components_spark.sources import generators as gen


def _edges(spark, rows):
    return spark.createDataFrame(rows, schema="src long, dst long")


def _labels(spark, rows):
    return spark.createDataFrame(rows, schema="node long, comp long")


def test_canonicalize(spark):
    e = _edges(spark, [(2, 1), (1, 2), (3, 3), (4, 5), (5, 4)])
    got = sorted((r["src"], r["dst"]) for r in canonicalize(e).collect())
    assert got == [(1, 2), (4, 5)]


def test_relabel_left_outer_semantics(spark):
    # unmatched endpoints keep their id (coalesce) — contraction.hpp:50-64
    e = _edges(spark, [(1, 5), (2, 6)])
    lab = _labels(spark, [(1, 100)])
    got = sorted((r["src"], r["dst"]) for r in relabel(e, lab, "src").collect())
    assert got == [(2, 6), (100, 5)]


def test_contract(spark):
    # triangle 1-2-3 plus pendant 4; map {2->1, 3->1}
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    lab = _labels(spark, [(2, 1), (3, 1)])
    got = sorted((r["src"], r["dst"]) for r in contract(e, lab).collect())
    assert got == [(1, 4)]  # triangle collapses to self-loops, dropped


def test_compose_labels(spark):
    outer = _labels(spark, [(10, 2), (11, 2), (12, 3)])
    inner = _labels(spark, [(2, 1)])
    got = sorted((r["node"], r["comp"]) for r in compose_labels(outer, inner).collect())
    assert got == [(10, 1), (11, 1), (12, 3)]


def test_break_paths_anti_join(spark):
    # hooks 1->2->3: keep only 1->2 (source 2 occurs as a target)
    hooks = _edges(spark, [(1, 2), (2, 3)])
    got = [(r["src"], r["dst"]) for r in break_paths(hooks).collect()]
    assert got == [(1, 2)]


def test_compare_labelings(spark):
    a = _labels(spark, [(1, 1), (2, 1), (3, 3)])
    b = _labels(spark, [(1, 1), (2, 2), (4, 4)])
    diff = {r["node"] for r in compare_labelings(a, b).collect()}
    assert diff == {2, 3, 4}


def test_aggregates_on_path(spark):
    e = gen.path(spark, 5)  # 1-2-3-4-5
    assert agg.node_count_exact(e).collect()[0]["n_nodes"] == 5
    assert agg.max_node_id(e).collect()[0]["max_node_id"] == 5
    degs = {r["node"]: r["degree"] for r in agg.degrees(e).collect()}
    assert degs == {1: 1, 2: 2, 3: 2, 4: 2, 5: 1}
    hist = {r["degree"]: r["n_nodes"] for r in agg.degree_histogram(e).collect()}
    assert hist == {1: 2, 2: 3}
    mn = {r["node"]: r["min_neighbor"] for r in agg.min_neighbor(e).collect()}
    assert mn == {1: 2, 2: 1, 3: 2, 4: 3, 5: 4}
    mx = {r["node"]: r["max_neighbor"] for r in agg.max_neighbor(e).collect()}
    assert mx == {1: 2, 2: 3, 3: 4, 4: 5, 5: 4}


def test_edge_quality_metrics(spark):
    e = _edges(spark, [(1, 2), (2, 1), (1, 2), (3, 3), (4, 5)])
    row = agg.edge_quality_metrics(e).collect()[0]
    assert row["n_edges_raw"] == 5
    assert row["n_self_loops"] == 1
    assert row["n_duplicates"] == 2
    assert row["n_edges_unique"] == 2


def test_bernoulli_split_deterministic_and_disjoint(spark):
    e = canonicalize(gen.gilbert(spark, 2000, 4.0, seed=9)).cache()
    total = e.count()
    a1, b1 = bernoulli_split(e, "src", "dst", p=0.5, seed=1)
    a2, _ = bernoulli_split(e, "src", "dst", p=0.5, seed=1)
    na, nb = a1.count(), b1.count()
    assert na + nb == total
    # rerun identical (determinism)
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))
    # 3-sigma binomial envelope (reference: test/TestPowerOfTwoCoin.cpp:13-31)
    mean, sd = total * 0.5, math.sqrt(total * 0.25)
    assert abs(na - mean) <= 3 * sd
    e.unpersist()


def test_reservoir_per_group_uniform(spark):
    # group 1 has targets 1..4; over 400 group copies the pick frequency of
    # each target is binomial(400, 1/4) — 3-sigma envelope
    rows = [(g, t) for g in range(400) for t in range(1, 5)]
    df = spark.createDataFrame(rows, schema="grp long, tgt long")
    picked = reservoir_per_group(df, "grp", "tgt", seed=13)
    counts = (
        picked.groupBy("tgt").count().rdd.map(lambda r: (r[0], r[1])).collectAsMap()
    )
    mean, sd = 400 / 4, math.sqrt(400 * 0.25 * 0.75)
    for t in range(1, 5):
        assert abs(counts.get(t, 0) - mean) <= 3 * sd
    # deterministic rerun
    again = reservoir_per_group(df, "grp", "tgt", seed=13)
    assert sorted(map(tuple, picked.collect())) == sorted(map(tuple, again.collect()))


def test_generators_shapes(spark):
    assert gen.matching(spark, 10).count() == 10
    assert gen.path(spark, 10).count() == 9
    assert gen.grid(spark, 4, 5).count() == 4 * 4 + 3 * 5  # right + down
    k, c = 5, 3
    assert gen.cliques(spark, k, c).count() == c * k * (k - 1) // 2
    g = canonicalize(gen.gilbert(spark, 100, 2.0, seed=2))
    assert 0 < g.count() <= 100
    r = gen.rmat(spark, scale=6, edge_factor=2, seed=4)
    assert r.count() == 64 * 2
    assert r.agg(F.max("src")).collect()[0][0] <= 64


def test_edge_catalog_parquet_roundtrip(spark, tmp_path):
    from em_connected_components_spark.sources.catalog import (
        EdgeCatalog,
        iceberg_available,
    )
    from em_connected_components_spark.sources import generators as gen

    assert not iceberg_available(spark)  # sandbox has no Iceberg runtime
    cat = EdgeCatalog(spark, str(tmp_path / "edges"), buckets=4)
    edges = gen.path(spark, 100)
    cat.write(edges)
    assert sorted(map(tuple, cat.read().collect())) == sorted(
        map(tuple, edges.collect())
    )
    cat.append(gen.matching(spark, 5))
    assert cat.read().count() == 99 + 5


# ---------------------------------------------------------------------------
# R5: random id permutation (cpp/preprocess.cpp:21-45)
# ---------------------------------------------------------------------------


def test_permute_node_ids_bijection_and_determinism(spark):
    from em_connected_components_spark.operators.normalize import (
        permute_node_ids,
    )

    # sparse, non-dense ids on purpose: the permutation must land on 1..n
    e = _edges(
        spark,
        [(10, 20), (20, 30), (100, 200), (300, 400), (400, 500), (999, 10)],
    )
    out, mapping = permute_node_ids(e, seed=7)
    m = {r["node"]: r["new_id"] for r in mapping.collect()}
    n = len(m)
    assert sorted(m.values()) == list(range(1, n + 1))  # bijection onto 1..n

    # relabeled edges are exactly the original edges mapped + re-oriented
    got = sorted((r["src"], r["dst"]) for r in out.collect())
    want = sorted(
        (min(m[a], m[b]), max(m[a], m[b]))
        for a, b in [(10, 20), (20, 30), (100, 200), (300, 400), (400, 500), (999, 10)]
    )
    assert got == want
    assert all(s < d for s, d in got)  # re-oriented (preprocess.cpp:40-43)

    # pure function of (seed, node set): a rerun agrees row-for-row
    _, mapping2 = permute_node_ids(e, seed=7)
    assert {r["node"]: r["new_id"] for r in mapping2.collect()} == m
    # and a different seed gives a different permutation of the same range
    _, mapping3 = permute_node_ids(e, seed=8)
    m3 = {r["node"]: r["new_id"] for r in mapping3.collect()}
    assert sorted(m3.values()) == list(range(1, n + 1))
    assert m3 != m


def test_permute_node_ids_preserves_cc_partition(spark):
    from em_connected_components_spark.operators.normalize import (
        permute_node_ids,
    )
    from em_connected_components_spark.plans.connected_components import (
        connected_components,
    )

    shifted_path = gen.path(spark, n=7).select(
        (F.col("src") + 1000).alias("src"), (F.col("dst") + 1000).alias("dst")
    )
    e = gen.cliques(spark, k=4, count=3).unionAll(shifted_path)
    out, mapping = permute_node_ids(e, seed=42)
    lab_direct = connected_components(e, small_graph_threshold=0)
    lab_perm = connected_components(out, small_graph_threshold=0)

    # pull labels back through the mapping: partition must be identical
    m = {r["node"]: r["new_id"] for r in mapping.collect()}
    direct = {r["node"]: r["comp"] for r in lab_direct.collect()}
    perm = {r["node"]: r["comp"] for r in lab_perm.collect()}
    groups_direct = {}
    for node, comp in direct.items():
        groups_direct.setdefault(comp, set()).add(m[node])
    groups_perm = {}
    for node, comp in perm.items():
        groups_perm.setdefault(comp, set()).add(node)
    assert sorted(map(sorted, groups_direct.values())) == sorted(
        map(sorted, groups_perm.values())
    )
