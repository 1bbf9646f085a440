"""Decremental connected components — fold a batch of edge DELETIONS into an
already-solved star map via a component-bounded re-solve.

No reference counterpart (the reference is a batch EM engine; its online
composition covers inserts only — see plans/incremental.py, which mirrors
cpp/FunctionalSubproblemManager.h:181-296's relabel/compose). Deletions are
the other half a live crawl pipeline needs: pages removed, spam purged,
links retracted. Unlike inserts, a deletion can SPLIT a component, so no
label-local composition exists — but the damage is bounded: only components
that contained a removed edge can change. The exact plan is therefore:

    1. carve the affected component ids (components owning any removed
       endpoint) — one scan of the label table against the batch-bounded
       removed-endpoint set;
    2. materialize the affected subgraph: one scan-filter of the old edge
       table against the affected node set;
    3. re-solve ONLY that subgraph minus the removed edges with the full
       engine;
    4. untouched labels pass through unchanged; affected labels are replaced
       by the re-solve (nodes left edgeless drop, matching a fresh solve).

Scale shape, in two regimes. Both start from the same carve: the affected
node set is materialized once (one scan of the label table against the
batch-bounded removed-endpoint set), its size riding that job as an
Observation.

* Kernel path — the affected node set clears the broadcast byte gate
  (`tuning.broadcast_row_bound`) and the affected subgraph minus the removed
  edges has at most ``small_graph_threshold`` edges, the same edge contract
  as the CC finish. The subgraph is materialized once (its edge count
  riding an Observation) and solved in one numpy task
  (`_union_find_finish`). Every join against the n-row label table and the
  m-row edge table is a broadcast semi/anti join — both big tables are
  scanned, never shuffled — and the label table keeps its partition count.
* Distributed path — above either gate. Above the node gate the semi-joins
  fall back to one shuffled pass each; above the edge gate the subgraph is
  re-solved with the full engine. Still one bounded re-solve instead of the
  multi-round full recompute.

The worst case IS the giant component: deleting a bridge inside it
re-solves the whole thing, which is fundamental (the split can only be
discovered by re-examining it), not an artifact of this plan.

Exactness: a component not containing any removed edge endpoint is
untouched by the deletion (its edge set is unchanged and components are
edge-disjoint). The re-solved region gets min-member labels from the same
engine, so the result is bit-identical to
``connected_components(old_edges MINUS removed_edges)`` — asserted against
the full-recompute oracle in tests and the driver's recursive-CTE oracle.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..operators.normalize import canonicalize
from ..tuning import broadcast_row_bound
from .connected_components import (
    CCMetrics,
    _observed,
    _union_find_finish,
    connected_components,
)
from .incremental import _same_layout


def decremental_connected_components(
    labels: DataFrame,
    old_edges: DataFrame,
    removed_edges: DataFrame,
    *,
    pre_canonicalized: bool = False,
    small_graph_threshold: int = 1_000_000,
    metrics: CCMetrics | None = None,
    **cc_kwargs,
) -> DataFrame:
    """Update a (node, comp) star map after deleting a batch of edges.

    ``labels``: final star map of the already-solved graph (comp = min
    member, as produced by `connected_components`). ``old_edges``: the
    solved graph's edge table. ``removed_edges``: edges to delete; entries
    not present in ``old_edges`` are ignored (the anti-join is a no-op for
    them, and their components are re-solved to an identical result).
    ``pre_canonicalized``: set when old/removed edge tables already carry
    the canonical (src < dst, deduped, no self-loops) form.

    Returns the star map of ``old_edges MINUS removed_edges``, bit-identical
    to a full recompute: nodes whose last edge was removed disappear from
    the labeling, exactly as they would from a fresh solve.

    ``small_graph_threshold``: affected edges up to which the re-solve runs
    in one numpy task (the kernel path); 0 always takes the distributed
    path. Also passed to the inner `connected_components` of the
    distributed path, where it keeps its usual meaning.

    ``metrics``: the fold appends one record, ``kind="fold_kernel"`` or
    ``kind="fold_distributed"``, with ``batch_rows`` (removed rows),
    ``affected_nodes``, ``affected_edges``, ``wall_sec`` (the eager
    part of the fold; the returned frame is lazy) and, on the distributed
    path, the ``gate`` that sent it there. The distributed path's inner
    solve appends its own round records before it.

    Join shape (mirrors plans/incremental.py's byte-gate contract): the
    removed-endpoint set is batch-bounded, so the affected-component carve
    always broadcasts; the affected NODE set is data-dependent (sum of
    affected component sizes), so the edge-filter semi-join broadcasts only
    when it fits `tuning.broadcast_row_bound`, falling back to a shuffled
    semi-join above it.
    """
    t0 = time.perf_counter()
    metrics = metrics if metrics is not None else CCMetrics()
    old = old_edges if pre_canonicalized else canonicalize(old_edges)
    rem = removed_edges if pre_canonicalized else canonicalize(removed_edges)
    lab = labels.select("node", "comp")

    # 1. affected component ids: the components owning a removed endpoint
    # (removed endpoints broadcast — batch-bounded by construction)
    obs_rem = Observation()
    rem_obs = rem.observe(obs_rem, F.count(F.lit(1)).alias("rows"))
    rem_nodes = rem_obs.select(F.explode(F.array("src", "dst")).alias("node"))
    aff_comps = lab.join(F.broadcast(rem_nodes), on="node", how="leftsemi").select(
        F.col("comp").alias("__ac")
    )

    # 2. affected node set, materialized once; its size picks the join shape
    obs = Observation()
    aff_nodes = (
        lab.join(F.broadcast(aff_comps), lab["comp"] == F.col("__ac"),
                 how="leftsemi")
        .select("node")
        .observe(obs, F.count(F.lit(1)).alias("nodes"))
        .localCheckpoint(eager=True)
    )
    n_aff = _observed(obs, "nodes")
    fits = n_aff is not None and n_aff <= broadcast_row_bound(lab.sparkSession)
    if n_aff is None:
        gate = "affected_nodes_unobserved"
    elif not fits:
        gate = "affected_nodes"
    elif small_graph_threshold <= 0:
        gate = "small_graph_threshold"
    else:
        gate = None

    # 3. affected subgraph minus the removed edges.
    # Components are node-disjoint, so src ∈ affected ⟺ dst ∈ affected —
    # one endpoint test suffices and the m-row table is scanned once.
    e_new = old.join(
        F.broadcast(aff_nodes) if fits else aff_nodes,
        on=old["src"] == aff_nodes["node"], how="leftsemi",
    ).join(F.broadcast(rem) if fits else rem, on=["src", "dst"],
           how="left_anti")
    m_aff = None
    if gate is None and n_aff > 0:
        obs_e = Observation()
        e_new = e_new.observe(
            obs_e, F.count(F.lit(1)).alias("edges")
        ).localCheckpoint(eager=True)
        m_aff = _observed(obs_e, "edges")
        if m_aff is None:
            gate = "affected_edges_unobserved"
        elif m_aff > small_graph_threshold:
            gate = "affected_edges"

    # 4. untouched labels pass through; affected region replaced wholesale
    untouched = lab.join(F.broadcast(aff_comps), lab["comp"] == F.col("__ac"),
                         how="left_anti")
    if n_aff == 0:
        # no removed edge has a labeled endpoint: nothing to re-solve
        out, m_aff = lab, 0
    elif gate is None:
        out = _same_layout(untouched.unionByName(_union_find_finish(e_new)),
                           lab)
    else:
        first = len(metrics.rounds)
        new_labels = connected_components(
            e_new, pre_canonicalized=True,
            small_graph_threshold=small_graph_threshold, metrics=metrics,
            **cc_kwargs,
        )
        if m_aff is None:  # the subgraph's edge count, from its first round
            solved = metrics.rounds[first:first + 1]
            m_aff = solved[0]["m"] if solved else 0
        out = untouched.unionByName(new_labels)
    metrics.add(kind="fold_kernel" if gate is None else "fold_distributed",
                fold="delete", batch_rows=_observed(obs_rem, "rows"),
                affected_nodes=n_aff, affected_edges=m_aff,
                wall_sec=time.perf_counter() - t0,
                **({} if gate is None else {"gate": gate}))
    return out
