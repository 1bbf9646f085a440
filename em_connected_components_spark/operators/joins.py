"""Join-shaped operators — the workhorses of contraction/relabeling.

The reference expresses all of these as merge-joins over sorted streams
(SURVEY.md §2.5); here they are declarative equi-joins so Catalyst/AQE picks
broadcast vs sort-merge per round and splits skewed partitions at runtime.

Skew note (the reference never faces this — it scans sequentially): once a
giant component forms, the label side of a relabel join is dominated by one
``comp`` value. We rely on AQE skew-join splitting plus the heavy-hitter
split (``relabel_heavy_split``) for the pathological hub case, per
BASELINE.json north_star; a replicated-salt join measured about 3x slower
than the split (BENCH/salting.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .normalize import canonicalize


def relabel(
    edges: DataFrame,
    labels: DataFrame,
    column: str,
    broadcast_labels: bool = False,
) -> DataFrame:
    """LEFT-OUTER relabel of one endpoint through a (node, comp) map.

    Reference: `_relabel_sources`/`_relabel_targets` + EdgeSorterRelabeller
    (cpp/contraction.hpp:50-81, cpp/streaming/utils/EdgeSorterRelabeller.h:12-143):
    join edges.<column> = labels.node, project coalesce(labels.comp, old).
    The reference's "resort by target" between the two passes is just a
    different shuffle key here.
    """
    other = "dst" if column == "src" else "src"
    lab = labels.select(F.col("node").alias("__n"), F.col("comp").alias("__c"))
    if broadcast_labels:
        lab = F.broadcast(lab)
    out = edges.join(lab, on=edges[column] == lab["__n"], how="left")
    return out.select(F.coalesce("__c", column).alias(column), other).select(
        "src", "dst"
    )


def relabel_heavy_split(
    edges: DataFrame,
    labels: DataFrame,
    column: str,
    heavy: list[tuple[int, int]],
    broadcast_labels: bool = False,
) -> DataFrame:
    """Heavy-hitter-split relabel: hot join keys bypass the join entirely.

    The skew in a relabel join comes from a handful of mega-hub nodes (each
    contributes its full degree to ONE reducer). Their (node, comp) rows are
    by definition FEW, so the scalable fix is not salting the whole label
    table (replicating n rows x buckets — measured 3x slower) but splitting:
    edges whose key is a known heavy hitter are relabeled by a LITERAL map
    expression (pure map-side, no shuffle, no join), the rest take the
    normal join. This is the classic heavy-hitter skew join specialised to
    the relabel shape; AQE's skew-join splitting covers moderate skew on the
    cold side.
    """
    other = "dst" if column == "src" else "src"
    ids = [int(n) for n, _ in heavy]
    lit_map = F.create_map(
        *[F.lit(int(v)) for pair in heavy for v in pair]
    )
    hot = edges.filter(F.col(column).isin(ids)).select(
        F.coalesce(lit_map[F.col(column)], F.col(column)).alias(column),
        other,
    ).select("src", "dst")
    cold = relabel(
        edges.filter(~F.col(column).isin(ids)), labels, column,
        broadcast_labels,
    )
    return cold.unionByName(hot)


def contract(
    edges: DataFrame,
    labels: DataFrame,
    broadcast_labels: bool = False,
    heavy_hitters: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """Full edge contraction under a star map (cpp/contraction.hpp:83-121).

    relabel src ∘ relabel dst ∘ orient ∘ drop-self-loops ∘ dedup. The final
    dedup is the reference's main weapon against edge blowup (it ends every
    contraction with sort+unique) — keep it.

    ``heavy_hitters``: (node, comp) rows of detected mega-hubs — both
    relabel passes split them onto a literal-map fast path
    (``relabel_heavy_split``); engaged by the CC loop's max-degree trigger
    on the non-broadcast path.
    """
    if heavy_hitters:
        e = relabel_heavy_split(
            edges, labels, "src", heavy_hitters, broadcast_labels
        )
        e = relabel_heavy_split(
            e, labels, "dst", heavy_hitters, broadcast_labels
        )
    else:
        e = relabel(edges, labels, "src", broadcast_labels)
        e = relabel(e, labels, "dst", broadcast_labels)
    return canonicalize(e)


def compose_labels(
    outer: DataFrame, inner: DataFrame, broadcast_inner: bool = False
) -> DataFrame:
    """Map composition (node→mid) ∘ (mid→root) ⇒ (node→root).

    Reference: ComponentMerger (cpp/streaming/contraction/ComponentMerger.h:15-57)
    — LEFT OUTER on outer.comp = inner.node, coalesce. Unlike the reference we
    do NOT union the inner map in: our outer map always covers every original
    node, so the union would only add contracted-graph meta-nodes.

    ``broadcast_inner``: the inner map shrinks ~2x per round; once small
    (always true for the union-find finish), broadcasting it keeps the full
    outer label table un-shuffled — the composition becomes a map-side join.
    """
    inn = inner.select(F.col("node").alias("__n"), F.col("comp").alias("__c"))
    if broadcast_inner:
        inn = F.broadcast(inn)
    return (
        outer.join(inn, on=outer["comp"] == inn["__n"], how="left")
        .select("node", F.coalesce("__c", "comp").alias("comp"))
    )


def break_paths(hooks: DataFrame) -> DataFrame:
    """ANTI join: keep hook edges whose source never occurs as a target.

    Turns a pseudo-forest of sampled hooks into stars
    (cpp/contraction.hpp:28-48; streaming twin via StreamHitFilter in
    cpp/streaming/contraction/StarContraction.h:62-65,150-154).
    """
    targets = hooks.select(F.col("dst").alias("t")).distinct()
    return hooks.join(targets, on=hooks["src"] == targets["t"], how="left_anti")


def canonical_min_labels(labels: DataFrame) -> DataFrame:
    """Re-root a (node, comp) star map onto each component's MINIMUM member.

    Only the PARTITION of a CC labeling is canonical (SURVEY.md §5.2.3 — the
    reference's own algorithms disagree on root identity: min-hook vs
    max-hook vs randomized star centers). This one-agg-one-join pass maps any
    valid star labeling onto the engine's canonical min-member form, so
    randomized-root strategies (star contraction G3) compare exactly against
    min-member oracles.
    """
    mins = labels.groupBy("comp").agg(
        F.least(F.min("node"), F.col("comp")).alias("__m")
    )
    # one row per component — AQE picks broadcast when it fits
    return labels.join(mins, on="comp").select(
        "node", F.col("__m").alias("comp")
    )


def compare_labelings(a: DataFrame, b: DataFrame) -> DataFrame:
    """Full-outer diff of two (node, comp) tables (cpp/compare-two-star-files.cpp).

    Returns rows where the two labelings disagree (or a node is missing from
    one side). Test utility; empty result = identical labelings.
    """
    aa = a.select("node", F.col("comp").alias("comp_a"))
    bb = b.select("node", F.col("comp").alias("comp_b"))
    return aa.join(bb, on="node", how="full").filter(
        F.col("comp_a").isNull()
        | F.col("comp_b").isNull()
        | (F.col("comp_a") != F.col("comp_b"))
    )
