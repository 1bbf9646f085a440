"""Incremental connected components — fold a batch of new edges into an
already-solved star map without recomputing the full graph.

The reference has no online mode (it is a batch EM engine), but its KKT
driver contains this composition as an internal step: relabel one edge set
through the component map of another (`relabel_right_edges`,
cpp/FunctionalSubproblemManager.h:181-296), solve the remainder, then
compose the two maps (`ComponentMerger`,
cpp/FunctionalSubproblemManager.h:620-656). The fold applies it online, to
a crawl delta against the PREVIOUS run's final labels, so each streamed
micro-batch (streaming/events.py) is followed without an O(m) recompute.

One plan, whose work is bounded by the batch, not the graph:

1. carve — one semi-join over the label table keeps the label rows of the
   batch's endpoints (the slice, at most 2·|batch| rows);
2. piece — the batch edges, self-loops dropped, plus the slice's star edges
   (node, old comp), which stand in for relabeling the batch;
3. solve — the piece's labels become (key, comp, fresh) rows, materialized
   once: old representatives whose label moved (fresh = 0) and nodes the
   old labels have never seen (fresh = 1);
4. compose — one left join maps every label row through the moved reps
   (`joins.compose_labels`), and the fresh rows are appended.

Only the solver differs between the two paths. The kernel path (the batch
has at most ``small_graph_threshold`` rows and its node set clears the
broadcast byte gate) funnels the piece into ONE numpy task
(operators/numpy_cc.fold_insert_numpy): about 8 Spark jobs per fold, and the
label table is scanned, never shuffled. Above either gate `_solve_piece`
solves the piece with the full engine; above the byte gate the carve and the
compose shuffle instead of broadcasting. A 100 TB web graph with a 10 GB
crawl delta then touches the delta iteratively and the label table
linearly; the full recompute re-shuffles all 100 TB per round.

Exactness (not an approximation): `connected_components` labels every
component by its MINIMUM member id, so every old comp is its component's
minimum member. Solving the piece with min labels gives each merged group
the min over its old reps, their slice members and its fresh ids, which is
the min over all members of the merged components. Composing that over the
old map yields labels bit-identical to a full recompute over
(old edges ∪ delta), asserted against the same recursive-CTE oracle as the
batch path.

Both paths hand back the label table with the partition count it came in
with (`_same_layout`), so a table folded again and again keeps one layout.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..operators.joins import compose_labels
from ..operators.numpy_cc import fold_insert_numpy
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

    ``pre_canonicalized``: changes neither plan. The piece drops self-loops
    itself, and duplicates and orientation are harmless to both solvers; the
    keyword stays for callers that still pass it.

    ``small_graph_threshold``: batch rows up to which the fold solves its
    piece in one numpy task (the kernel path); 0 always takes the
    distributed solver. Also passed to that solver's inner
    `connected_components`, where it keeps its usual meaning.

    ``metrics``: the fold appends one record, ``kind="fold_kernel"`` or
    ``kind="fold_distributed"``, with ``batch_rows``, ``affected_nodes``
    (label rows in the batch's slice), ``affected_edges`` (rows of the
    piece), ``wall_sec`` (the eager part of the fold; the returned frame is
    lazy) and, on the distributed path, the ``gate`` that sent it there. The
    fields mean the same on both paths. The distributed solver's inner solve
    appends its own round records before it.

    Join shape: the n-row label table meets the batch in two joins, the
    carve's semi-join and the compose's left join (label table on the left:
    Spark broadcasts only the right side of a left-outer join). Both are
    BYTE-GATED like every forced hint in the engine
    (tuning.broadcast_row_bound) on the 2·|batch| node bound: below it they
    broadcast their batch-bounded side and the label table is only scanned;
    above it both shuffle — one n-row shuffle each, still far cheaper than
    the multi-round recompute this call replaces.

    ``cc_kwargs`` pass through to the distributed solver's inner
    `connected_components` (strategy, thresholds, checkpointer, ...).

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
    # the batch node set has at most 2·rows members: that bound, not a
    # count of the set, clears the byte gate of both label-table joins
    hint = 2 * rows <= broadcast_row_bound(labels.sparkSession)
    if small_graph_threshold <= 0:
        gate = "small_graph_threshold"
    elif rows > small_graph_threshold:
        gate = "batch_rows"
    elif not hint:
        gate = "broadcast_row_bound"
    else:
        gate = None

    obs = Observation()
    piece = _piece(lab, new_edges, hint).observe(
        obs, F.count(F.lit(1)).alias("edges"),
        F.count_if(F.col("star") == 1).alias("slice"))
    if gate is None:
        solved = _single_task_map(piece, fold_insert_numpy,
                                  ("key", "comp", "fresh"))
    else:
        solved = _solve_piece(
            piece, small_graph_threshold=small_graph_threshold,
            metrics=metrics, **cc_kwargs)
    # materialized once: read twice below (the moved reps and the fresh rows)
    solved = solved.localCheckpoint(eager=True)
    moved = solved.filter(F.col("fresh") == 0).select(
        F.col("key").alias("node"), "comp")
    fresh = solved.filter(F.col("fresh") == 1).select(
        F.col("key").alias("node"), "comp")
    out = compose_labels(lab, moved, broadcast_inner=hint).unionByName(fresh)
    metrics.add(kind="fold_kernel" if gate is None else "fold_distributed",
                fold="insert", batch_rows=rows,
                affected_nodes=_observed(obs, "slice"),
                affected_edges=_observed(obs, "edges"),
                wall_sec=time.perf_counter() - t0,
                **({} if gate is None else {"gate": gate}))
    return _same_layout(out, lab)


def _same_layout(out: DataFrame, like: DataFrame) -> DataFrame:
    """``out`` coalesced (no shuffle) to ``like``'s partition count, so a
    label table folded again and again keeps one layout instead of gaining
    a partition per fold."""
    return out.coalesce(max(like.rdd.getNumPartitions(), 1))


def _piece(lab: DataFrame, new_edges: DataFrame, hint: bool) -> DataFrame:
    """The batch-bounded piece: the batch edges (star = 0) plus the star
    edges (node, comp) of their label slice (star = 1), as (src, dst, star).
    ``hint``: the batch node set cleared the byte gate, so it is broadcast
    into the semi-join that carves the slice."""
    # canonical form is not needed by either solver (duplicates and
    # orientation are harmless), but a self-loop alone must not add a node
    edges = new_edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    nodes = edges.select(F.explode(F.array("src", "dst")).alias("node"))
    lab_slice = lab.join(F.broadcast(nodes) if hint else nodes, on="node",
                         how="leftsemi")
    return edges.select("src", "dst", F.lit(0).alias("star")).unionAll(
        lab_slice.select("node", "comp", F.lit(1).alias("star")))


def _solve_piece(piece: DataFrame, **cc_kwargs) -> DataFrame:
    """The distributed solver: ``fold_insert_numpy``'s (key, comp, fresh)
    rows, with the piece solved by the full engine. Exact for the kernel's
    reason: every old comp is its component's minimum member."""
    piece = piece.localCheckpoint(eager=True)
    solved = connected_components(piece.select("src", "dst"), **cc_kwargs)
    star = piece.filter(F.col("star") == 1)
    # duplicates are harmless to the semi- and anti-joins below
    reps = star.select(F.col("dst").alias("node"))
    moved = solved.join(reps, on="node", how="leftsemi").filter(
        F.col("comp") != F.col("node"))
    seen = star.select(F.col("src").alias("node")).unionAll(reps)
    fresh = solved.join(seen, on="node", how="left_anti")
    return moved.select(F.col("node").alias("key"), "comp",
                        F.lit(0).alias("fresh")).unionAll(
        fresh.select(F.col("node").alias("key"), "comp",
                     F.lit(1).alias("fresh")))
