"""Reference-parity operators: star contraction, local union-find pass,
policy decisions, edge I/O round-trips."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from em_connected_components_spark.operators.normalize import canonicalize
from em_connected_components_spark.plans.connected_components import (
    connected_components,
)
from em_connected_components_spark.plans.local_solve import local_unionfind_pass
from em_connected_components_spark.plans.policy import Policy
from em_connected_components_spark.plans.star_contraction import (
    star_contraction_round,
)
from em_connected_components_spark.sources import generators as gen
from em_connected_components_spark.sources.edge_io import (
    merge_edge_lists,
    read_ascii_edges,
    read_binary_edges,
    write_ascii_edges,
    write_binary_edges,
)

from .conftest import labels_to_partition, python_union_find


def test_star_contraction_round_valid_stars(spark):
    edges = canonicalize(gen.gilbert(spark, 400, 3.0, seed=17))
    stars = star_contraction_round(edges, seed=3)
    rows = stars.collect()
    srcs = {r["node"] for r in rows}
    dsts = {r["comp"] for r in rows}
    assert srcs.isdisjoint(dsts)  # stars-only: no hooked node is a center
    assert len(srcs) == len(rows)  # one hook per node
    # deterministic rerun
    again = star_contraction_round(edges, seed=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_cc_with_star_policy_matches_oracle(spark):
    edges = canonicalize(gen.gilbert(spark, 400, 2.0, seed=23))
    edge_rows = [(r["src"], r["dst"]) for r in edges.collect()]
    pol = Policy(small_graph_edges=0, star_density=1e9)  # star every round
    labels = connected_components(
        edges, pre_canonicalized=True, policy=pol
    )
    assert labels_to_partition(labels.collect()) == python_union_find(edge_rows)


def test_local_unionfind_pass_path(spark):
    # path graph has perfect id locality: one local pass nearly solves it
    edges = gen.path(spark, 1000)
    contracted, labels = local_unionfind_pass(edges, bucket_width=256)
    m_left = contracted.count()
    assert m_left < 10  # only bucket-boundary edges survive
    # end-to-end with the pre-pass enabled
    full = connected_components(
        gen.path(spark, 1000), local_solve_bucket_width=256,
        small_graph_threshold=0,
    )
    rows = full.collect()
    assert len(rows) == 1000
    assert {r["comp"] for r in rows} == {1}


def test_local_pass_cc_matches_oracle_random_ids(spark):
    # hash-random ids: pre-pass degrades to near-no-op but stays correct
    edges = canonicalize(gen.gilbert(spark, 500, 2.0, seed=29))
    edge_rows = [(r["src"], r["dst"]) for r in edges.collect()]
    labels = connected_components(
        edges, pre_canonicalized=True, local_solve_bucket_width=64,
        small_graph_threshold=0,
    )
    assert labels_to_partition(labels.collect()) == python_union_find(edge_rows)


def test_cc_kkt_policy_matches_oracle_dense(spark):
    # dense Gilbert (m/n ~ 8 -> sample power 3): KKT sample-and-filter must
    # produce the identical partition AND actually engage (split + filter
    # metrics present, filter discarding most unsampled edges)
    from em_connected_components_spark.plans.connected_components import (
        CCMetrics,
    )

    edges = canonicalize(gen.gilbert(spark, 400, 8.0, seed=31))
    edge_rows = [(r["src"], r["dst"]) for r in edges.collect()]
    pol = Policy(strategy="kkt", small_graph_edges=50)
    metrics = CCMetrics()
    labels = connected_components(
        edges, pre_canonicalized=True, policy=pol, metrics=metrics,
        broadcast_threshold_rows=10**6,
    )
    assert labels_to_partition(labels.collect()) == python_union_find(edge_rows)
    kinds = [r["kind"] for r in metrics.rounds]
    assert "kkt_split" in kinds and "kkt_filter" in kinds
    filt = next(r for r in metrics.rounds if r["kind"] == "kkt_filter")
    # the KKT filter's point: most unsampled edges are intra-component after
    # the E1 solve and get dropped
    assert filt["m_remaining"] < filt["m_input"] / 2


def test_cc_kkt_policy_matches_oracle_rmat(spark):
    edges = canonicalize(gen.rmat(spark, scale=9, edge_factor=12, seed=5))
    edge_rows = [(r["src"], r["dst"]) for r in edges.collect()]
    pol = Policy(strategy="kkt", small_graph_edges=100)
    labels = connected_components(edges, pre_canonicalized=True, policy=pol)
    assert labels_to_partition(labels.collect()) == python_union_find(edge_rows)


def test_cc_kkt_policy_with_checkpointer_commits_phases(spark, tmp_path):
    # KKT + checkpointer is supported since round 4 (phase-shaped resume,
    # the round-3 contract hole): an uninterrupted run commits all four
    # reference phases (split/l1/filter/l2) and the final labels, identical
    # to the checkpointer-free run. Kill/resume at every boundary is
    # covered in tests/test_checkpoint.py.
    from em_connected_components_spark.checkpoint import (
        PhaseCheckpointer,
        RoundCheckpointer,
    )

    edges = canonicalize(gen.gilbert(spark, 100, 2.0, seed=3))
    want = connected_components(
        edges, pre_canonicalized=True, policy=Policy(strategy="kkt")
    )
    ck = RoundCheckpointer(spark, str(tmp_path / "kkt_ckpt"))
    got = connected_components(
        edges, pre_canonicalized=True,
        policy=Policy(strategy="kkt"), checkpointer=ck,
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    pc = PhaseCheckpointer(spark, str(tmp_path / "kkt_ckpt"))
    assert pc.completed() == ["split", "l1", "filter", "l2"]
    final = ck.final()
    assert final is not None
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_max_hook_variant_same_partition(spark):
    # Sibeyn cross-check (reference sibeyn.hpp:54-221 hooks toward the MAX
    # neighbor; our engine hooks toward the MIN). Either direction must yield
    # the same partition — only the representative differs (max member vs
    # min member). Mini max-hook loop built from the same primitives.
    from pyspark.sql import functions as F

    from em_connected_components_spark.operators.joins import (
        compose_labels,
        contract,
    )
    from em_connected_components_spark.operators.normalize import symmetrize

    edges = canonicalize(gen.gilbert(spark, 300, 3.0, seed=41))
    edges = edges.persist()
    edge_rows = [(r["src"], r["dst"]) for r in edges.collect()]

    def max_hook_cc(e):
        labels = None
        for _ in range(32):
            if e.count() == 0:
                break
            parents = (
                symmetrize(e)
                .groupBy(F.col("src").alias("node"))
                .agg(F.greatest(F.max("dst"), F.col("node")).alias("comp"))
            ).persist()
            # pointer-jump to max roots (chains strictly increase)
            p = parents
            for _ in range(32):
                q = p.select(
                    F.col("node").alias("__qn"), F.col("comp").alias("__qc")
                )
                j = p.join(q, on=p["comp"] == q["__qn"], how="left").select(
                    "node", F.coalesce("__qc", "comp").alias("comp")
                ).localCheckpoint(eager=True)
                if j.join(
                    p.select("node", F.col("comp").alias("__old")), on="node"
                ).filter(F.col("comp") != F.col("__old")).count() == 0:
                    p = j
                    break
                p = j
            labels = p if labels is None else compose_labels(labels, p)
            labels = labels.localCheckpoint(eager=True)
            e = contract(e, p).localCheckpoint(eager=True)
            parents.unpersist()
        return labels

    max_labels = max_hook_cc(edges)
    min_labels = connected_components(
        edges, pre_canonicalized=True, small_graph_threshold=0
    )
    assert labels_to_partition(max_labels.collect()) == labels_to_partition(
        min_labels.collect()
    )
    assert labels_to_partition(min_labels.collect()) == python_union_find(
        edge_rows
    )
    # representatives: max-hook roots are component maxima
    by_comp: dict[int, set] = {}
    for r in max_labels.collect():
        by_comp.setdefault(r["comp"], set()).add(r["node"])
    for comp, members in by_comp.items():
        assert comp == max(members | {comp})


def test_policy_decisions():
    pol = Policy(star_density=4.0)
    assert pol.contraction_strategy(100, 300) == "star"  # m/n = 3 < 4
    assert pol.contraction_strategy(100, 500) == "boruvka"
    assert Policy.sample_power(100, 1600) == 4
    assert Policy.sample_power(100, 150) == 1


def test_binary_roundtrip(spark):
    edges = gen.path(spark, 500)
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "g.bin")
        n = write_binary_edges(edges, p)
        assert n == 499
        assert os.path.getsize(p) == 499 * 16
        back = read_binary_edges(spark, p)
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, edges.collect())
        )


def test_ascii_roundtrip_and_merge(spark):
    e1 = gen.matching(spark, 10)
    e2 = gen.path(spark, 5)
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "ascii")
        write_ascii_edges(e1, p)
        back = read_ascii_edges(spark, p)
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, e1.collect())
        )
    merged = merge_edge_lists([e1, e2, e2.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"))])
    # merge normalizes + dedups: reversed e2 copies AND the edges shared
    # between matching(10) and path(5) — (1,2),(3,4) — all collapse
    want = {tuple(r) for r in e1.collect()} | {tuple(r) for r in e2.collect()}
    assert merged.count() == len(want)


def test_ascii_index_shift(spark):
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "in.txt")
        with open(p, "w") as f:
            f.write("% comment line\n0 1\n1 2\n\n")
        got = sorted(
            map(tuple, read_ascii_edges(spark, p, index_shift=1).collect())
        )
        assert got == [(1, 2), (2, 3)]
