"""Resumability: a killed CC run resumes mid-Boruvka from the checkpoint and
produces the identical labeling (BASELINE.json north_rule: "resumable from
checkpoint with per-partition lineage + metrics")."""

from __future__ import annotations

import pytest

from em_connected_components_spark.checkpoint import RoundCheckpointer
from em_connected_components_spark.operators.normalize import canonicalize
from em_connected_components_spark.plans.connected_components import (
    CCMetrics,
    connected_components,
)
from em_connected_components_spark.sources import generators as gen

from .conftest import labels_to_partition


def _graph(spark):
    # multi-round graph: gilbert needs >1 Boruvka round at this density
    return canonicalize(gen.gilbert(spark, n=3000, avg_degree=1.2, seed=7))


def test_kill_and_resume_identical_labels(spark, tmp_path):
    edges = _graph(spark)

    # reference run: no checkpointing, fully distributed
    ref = connected_components(
        edges, small_graph_threshold=0, jump_local_threshold=0,
        pre_canonicalized=True,
    )
    ref_rows = sorted((r["node"], r["comp"]) for r in ref.collect())

    # "killed" run: stop after the first superstep (max_rounds=1 simulates
    # the job dying mid-Boruvka; round 0 is committed to the manifest)
    root = str(tmp_path / "ckpt")
    ck = RoundCheckpointer(spark, root)
    connected_components(
        edges, small_graph_threshold=0, jump_local_threshold=0,
        pre_canonicalized=True, checkpointer=ck, max_rounds=1,
    )
    assert ck.resume() is not None, "round 0 must be committed"

    # resumed run: fresh checkpointer object on the same root
    ck2 = RoundCheckpointer(spark, root)
    metrics = CCMetrics()
    resumed = connected_components(
        edges, small_graph_threshold=0, jump_local_threshold=0,
        pre_canonicalized=True, checkpointer=ck2, metrics=metrics,
    )
    res_rows = sorted((r["node"], r["comp"]) for r in resumed.collect())

    # identical labels (not just identical partition): min-member labeling is
    # canonical, so resume must reproduce it exactly
    assert res_rows == ref_rows
    # the resumed run actually skipped round 0
    assert metrics.rounds and metrics.rounds[0]["round"] >= 1

    # final() re-reads the persisted result
    final = ck2.final()
    assert final is not None
    assert sorted((r["node"], r["comp"]) for r in final.collect()) == ref_rows


def test_checkpoint_file_uri_root_through_hadoop_fs(spark, tmp_path):
    # cluster-portability: a scheme-qualified root must route every manifest/
    # lineage/mkdir touch through the Hadoop FileSystem API (a driver-local
    # os.* implementation would mangle or miss 'file:/...' paths)
    edges = _graph(spark)
    root = f"file:{tmp_path}/ckpt_uri"
    ck = RoundCheckpointer(spark, root)
    connected_components(
        edges, small_graph_threshold=0, jump_local_threshold=0,
        pre_canonicalized=True, checkpointer=ck, max_rounds=1,
    )
    resumed = ck.resume()
    assert resumed is not None
    # manifest was committed via rename and carries per-partition lineage
    manifest = ck._read_manifest()
    assert manifest["rounds"], "round 0 committed"
    r0 = manifest["rounds"][0]
    assert r0["edges_files"] and all(
        f["file"].endswith(".parquet") and f["bytes"] > 0
        for f in r0["edges_files"]
    )
    # full resume from the URI root produces the canonical labeling
    ck2 = RoundCheckpointer(spark, root)
    res = connected_components(
        edges, small_graph_threshold=0, jump_local_threshold=0,
        pre_canonicalized=True, checkpointer=ck2,
    )
    ref = connected_components(
        edges, small_graph_threshold=0, jump_local_threshold=0,
        pre_canonicalized=True,
    )
    assert sorted(map(tuple, res.collect())) == sorted(map(tuple, ref.collect()))
    ck2.clear()
    assert ck2.resume() is None


def test_checkpoint_module_has_no_driver_local_fs_calls():
    # the class of bug this layer had (VERDICT r2 #2): os.listdir/os.path on
    # table directories breaks on any non-local defaultFS. Enforce zero os.*
    # usage in the module, not just behavioral coverage.
    import inspect
    import re

    import em_connected_components_spark.checkpoint as ckpt_mod

    src = inspect.getsource(ckpt_mod)
    assert not re.search(r"^\s*import os\b", src, re.M)
    assert not re.search(r"(?<![\w.])os\.", src)  # no os.listdir/os.path/...


def test_checkpointed_equals_uncheckpointed_partition(spark, tmp_path):
    edges = _graph(spark)
    ck = RoundCheckpointer(spark, str(tmp_path / "ckpt2"))
    with_ck = connected_components(
        edges, pre_canonicalized=True, checkpointer=ck
    )
    without = connected_components(edges, pre_canonicalized=True)
    assert labels_to_partition(with_ck.collect()) == labels_to_partition(
        without.collect()
    )


def test_kkt_phase_kill_and_resume_every_boundary(spark, tmp_path, monkeypatch):
    # VERDICT r3 #3: a KKT run killed right after ANY committed phase
    # (split / l1 / filter / l2) must resume to labels identical to an
    # uninterrupted run, skipping every committed phase (visible as
    # kkt_<phase>_resumed metrics — no recompute of the E1 solve etc.).
    from em_connected_components_spark import checkpoint as ckpt_mod
    from em_connected_components_spark.plans.policy import Policy

    edges = canonicalize(gen.gilbert(spark, 400, 8.0, seed=31))
    pol = Policy(strategy="kkt", small_graph_edges=50)
    ref = connected_components(edges, pre_canonicalized=True, policy=pol,
                               broadcast_threshold_rows=10**6)
    want_labels = sorted(map(tuple, ref.collect()))

    phase_order = ["split", "l1", "filter", "l2"]
    orig = ckpt_mod.PhaseCheckpointer.save_phase
    for kill_after in phase_order:
        root = str(tmp_path / f"kkt_{kill_after}")

        def failing(self, name, tables, metrics=None, _after=kill_after):
            out = orig(self, name, tables, metrics)
            if name == _after:
                raise RuntimeError(f"injected kill after {name}")
            return out

        with monkeypatch.context() as mp:
            mp.setattr(ckpt_mod.PhaseCheckpointer, "save_phase", failing)
            with pytest.raises(RuntimeError, match="injected kill"):
                connected_components(
                    edges, pre_canonicalized=True, policy=pol,
                    broadcast_threshold_rows=10**6,
                    checkpointer=RoundCheckpointer(spark, root),
                )

        committed = ckpt_mod.PhaseCheckpointer(spark, root).completed()
        expect_done = phase_order[: phase_order.index(kill_after) + 1]
        assert committed == expect_done

        metrics = CCMetrics()
        got = connected_components(
            edges, pre_canonicalized=True, policy=pol, metrics=metrics,
            broadcast_threshold_rows=10**6,
            checkpointer=RoundCheckpointer(spark, root),
        )
        assert sorted(map(tuple, got.collect())) == want_labels
        kinds = [r["kind"] for r in metrics.rounds]
        for p in expect_done:
            assert f"kkt_{p}_resumed" in kinds, (kill_after, kinds)
        # phases after the kill ran fresh, not resumed
        for p in phase_order[phase_order.index(kill_after) + 1:]:
            assert f"kkt_{p}_resumed" not in kinds, (kill_after, kinds)
