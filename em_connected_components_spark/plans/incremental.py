"""Incremental connected components — fold a batch of new edges into an
already-solved star map without recomputing the full graph.

The reference has no online mode (it is a batch EM engine), but its KKT
driver already contains exactly this composition as an internal step:
relabel one edge set through the component map of another
(`relabel_right_edges`, cpp/FunctionalSubproblemManager.h:181-296), solve
the relabeled remainder, then compose the two maps
(`ComponentMerger`, cpp/FunctionalSubproblemManager.h:620-656). Incremental
CC is that same relabel -> solve -> compose pipeline applied to a crawl
delta against the PREVIOUS run's final labels — the natural companion to
the streaming ingest -> bucketed EdgeCatalog handoff
(streaming/events.py `streaming_edge_ingest`), where each micro-batch
appends edges and the labels should follow without an O(m) recompute.

Exactness (not an approximation): `connected_components` labels every
component by its MINIMUM member id. The delta graph's vertices are old
component representatives (each the min of its members) plus never-seen
node ids; solving it with min labels therefore assigns every merged group
min(reps ∪ fresh ids) = the global minimum over all members of the merged
components. Composing that back over the old map yields labels bit-identical
to a full recompute over (old edges ∪ delta) — asserted against the same
recursive-CTE oracle as the batch path.

Scale shape (the reason this exists): the work is bounded by the batch, not
the graph, in both of the fold's regimes.

* Kernel path — the batch has at most ``small_graph_threshold`` rows (and its
  node set, at most 2·rows, clears the broadcast byte gate). The piece the
  batch bounds — its edges plus the star edges (node, comp) of its label
  slice — is funneled through ONE repartition(1) → numpy task
  (operators/numpy_cc.fold_insert_numpy), which returns the old-rep → new-comp
  map and the fresh nodes. One broadcast left join over the label table then
  applies the map. About 8 Spark jobs per fold, most of them tiny; the label
  table is scanned, never shuffled, and keeps its partition count.
* Distributed path — above either gate. One broadcast semi-join carves the
  delta's label slice (byte-gated: above the bound the relabels fall back to
  one shuffled pass over the labels), the delta is relabeled through it, the
  contracted remainder is solved with the full engine, and the result is
  composed back. A 100 TB web graph with a 10 GB crawl delta touches the
  delta iteratively and the label table linearly; the full-recompute
  alternative re-shuffles all 100 TB per round.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..operators.joins import relabel
from ..operators.normalize import canonicalize
from ..tuning import broadcast_row_bound
from .connected_components import (
    CCMetrics,
    _observed,
    _single_task_map,
    connected_components,
)


def incremental_connected_components(
    labels: DataFrame,
    new_edges: DataFrame,
    *,
    pre_canonicalized: bool = False,
    small_graph_threshold: int = 1_000_000,
    metrics: CCMetrics | None = None,
    **cc_kwargs,
) -> DataFrame:
    """Update a (node, comp) star map with a batch of new edges.

    ``labels``: the final star map of the already-solved graph (comp = min
    member id, as produced by `connected_components`). ``new_edges``: the
    delta batch (src, dst); may reference old nodes, brand-new nodes, or
    both. Returns the star map of the UNION graph, bit-identical to
    `connected_components(old_edges UNION new_edges)`.

    ``small_graph_threshold``: batch rows up to which the fold solves its
    piece in one numpy task (the kernel path); 0 always takes the
    distributed path. Also passed to the inner `connected_components` of the
    distributed path, where it keeps its usual meaning.

    ``metrics``: the fold appends one record, ``kind="fold_kernel"`` or
    ``kind="fold_distributed"``, with ``batch_rows``, ``affected_nodes``
    (kernel: label rows in the delta's slice; distributed: nodes of the
    relabeled delta), ``affected_edges`` (kernel: rows into the numpy task;
    distributed: edges of the relabeled delta), ``wall_sec`` (the eager part
    of the fold; the returned frame is lazy) and, on the distributed path,
    the ``gate`` that sent it there. The distributed path's inner solve
    appends its own round records before it.

    Join shape (the n-row label table is NEVER shuffled below the byte
    gate): relabel is a LEFT-OUTER join and Spark can only broadcast the
    RIGHT side of one, so joining the delta directly against the full label
    table would sort-merge — shuffling all n label rows. Instead ONE
    broadcast semi-join (delta node set broadcast, labels scanned) carves the
    delta's label SLICE (≤ 2·|batch| rows), which feeds the kernel or, on the
    distributed path, broadcasts into both relabel joins. The slice hint is
    BYTE-GATED like every forced hint in the engine
    (tuning.broadcast_row_bound) on the 2·|batch| node bound: a batch above
    it takes shuffled relabels against the full table — one n-row shuffle,
    still far cheaper than the multi-round recompute this call replaces.

    ``cc_kwargs`` pass through to the inner `connected_components` call on
    the relabeled delta (strategy, thresholds, checkpointer, ...).

    SCOPE: this fold handles edge INSERTIONS only (the crawl-append case —
    merges can be composed label-locally). Edge deletions can SPLIT a
    component and have no label-local composition; use the companion
    `plans.decremental.decremental_connected_components`, which re-solves
    exactly the affected components.
    """
    t0 = time.perf_counter()
    metrics = metrics if metrics is not None else CCMetrics()
    lab = labels.select("node", "comp")
    rows = new_edges.count()
    # the delta node set has at most 2·rows members: that bound, not a
    # count of the set, clears the byte gate of every broadcast below
    slice_hint = 2 * rows <= broadcast_row_bound(labels.sparkSession)
    if small_graph_threshold <= 0:
        gate = "small_graph_threshold"
    elif rows > small_graph_threshold:
        gate = "batch_rows"
    elif not slice_hint:
        gate = "broadcast_row_bound"
    else:
        gate = None

    if gate is None:
        out, affected_nodes, affected_edges = _kernel_fold(lab, new_edges)
        metrics.add(kind="fold_kernel", fold="insert", batch_rows=rows,
                    affected_nodes=affected_nodes, affected_edges=affected_edges,
                    wall_sec=time.perf_counter() - t0)
        return out

    first = len(metrics.rounds)
    out = _distributed_fold(
        lab, new_edges, pre_canonicalized=pre_canonicalized,
        slice_hint=slice_hint, small_graph_threshold=small_graph_threshold,
        metrics=metrics, **cc_kwargs,
    )
    solved = metrics.rounds[first:first + 1]  # the relabeled delta's round
    metrics.add(kind="fold_distributed", fold="insert", batch_rows=rows,
                affected_nodes=solved[0].get("n_nodes") if solved else 0,
                affected_edges=solved[0]["m"] if solved else 0,
                wall_sec=time.perf_counter() - t0, gate=gate)
    return out


def _same_layout(out: DataFrame, like: DataFrame) -> DataFrame:
    """``out`` coalesced (no shuffle) to ``like``'s partition count, so a
    label table folded again and again keeps one layout instead of gaining
    a partition per fold."""
    return out.coalesce(max(like.rdd.getNumPartitions(), 1))


def _kernel_fold(lab: DataFrame, new_edges: DataFrame):
    """The kernel path: returns (labels, slice rows, kernel input rows)."""
    from ..operators.numpy_cc import fold_insert_numpy

    # canonical form is not needed by the kernel (duplicates and orientation
    # are harmless), but a self-loop alone must not add a node
    edges = new_edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    nodes = edges.select(F.explode(F.array("src", "dst")).alias("node"))
    # ONE scan-only pass over the big label table carves the delta's slice
    lab_slice = lab.join(F.broadcast(nodes), on="node", how="leftsemi")
    piece = edges.select("src", "dst", F.lit(0).alias("star")).unionAll(
        lab_slice.select("node", "comp", F.lit(1).alias("star"))
    )
    obs = Observation()
    piece = piece.observe(obs, F.count(F.lit(1)).alias("edges"),
                          F.count_if(F.col("star") == 1).alias("slice"))
    # materialized once: the map is read twice below (broadcast + fresh rows)
    solved = _single_task_map(
        piece, fold_insert_numpy, ("key", "comp", "fresh")
    ).localCheckpoint(eager=True)
    rep_map = F.broadcast(
        solved.filter(F.col("fresh") == 0).select(
            F.col("key").alias("__rep"), F.col("comp").alias("__newc")
        )
    )
    fresh = solved.filter(F.col("fresh") == 1).select(
        F.col("key").alias("node"), "comp"
    )
    out = lab.join(rep_map, lab["comp"] == rep_map["__rep"], how="left").select(
        "node", F.coalesce("__newc", "comp").alias("comp")
    )
    return (_same_layout(out.unionByName(fresh), lab),
            _observed(obs, "slice"), _observed(obs, "edges"))


def _distributed_fold(
    lab: DataFrame,
    new_edges: DataFrame,
    *,
    pre_canonicalized: bool,
    slice_hint: bool,
    **cc_kwargs,
) -> DataFrame:
    """Relabel -> solve the contracted delta with the full engine -> compose.
    ``slice_hint``: the byte gate cleared the delta node set for broadcast."""
    delta = new_edges if pre_canonicalized else canonicalize(new_edges)
    delta_nodes = (
        delta.select(F.col("src").alias("node"))
        .unionAll(delta.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    if slice_hint:
        # ONE scan-only pass over the big label table (delta node set
        # broadcast into a semi-join) carves the batch-bounded slice that
        # every later join builds on
        lab_slice = lab.join(
            F.broadcast(delta_nodes), on="node", how="leftsemi"
        ).persist()
    else:
        # delta too large to broadcast: shuffled relabels against the full
        # table (one n-row shuffle — still far cheaper than the multi-round
        # recompute this call replaces)
        lab_slice = lab

    # nodes the old map has never seen enter as their own representatives —
    # the slice's complement within the delta node set (the anti build side
    # inherits the slice's byte-gate clearance, so hint it explicitly)
    slice_nodes = lab_slice.select("node")
    fresh = delta_nodes.join(
        F.broadcast(slice_nodes) if slice_hint else slice_nodes,
        on="node",
        how="left_anti",
    )
    full = lab.unionByName(fresh.select("node", F.col("node").alias("comp")))

    # relabel the delta through the slice (unknown endpoints keep their own
    # id via the relabel's left-outer coalesce), then re-canonicalize:
    # endpoints that land in the same old component become self-loops and drop
    re = relabel(delta, lab_slice, "src", broadcast_labels=slice_hint)
    re = relabel(re, lab_slice, "dst", broadcast_labels=slice_hint)
    re = canonicalize(re)

    # solve the (batch-bounded) contracted delta with the full engine; its
    # result is materialized (localCheckpoint) so the caches can be released
    # — the one later `fresh` recompute is a scan, never a shuffle
    delta_labels = connected_components(re, pre_canonicalized=True, **cc_kwargs)
    if lab_slice is not lab:
        lab_slice.unpersist()
    delta_nodes.unpersist()

    # compose: a node's final comp is its old rep's new label when the rep
    # participated in the delta, else unchanged
    dl = delta_labels.select(
        F.col("node").alias("__rep"), F.col("comp").alias("__newc")
    )
    if slice_hint:
        # dl's vertex set is a subset of the byte-gate-cleared delta nodes
        dl = F.broadcast(dl)
    return full.join(dl, full["comp"] == dl["__rep"], how="left").select(
        "node", F.coalesce("__newc", "comp").alias("comp")
    )
