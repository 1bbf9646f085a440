"""Exact connected components — iterative Boruvka contraction, Spark-first.

Re-expression of the reference's recursive Boruvka / Sibeyn / KKT drivers
(cpp/streaming/algorithms/Boruvka.h:24-56,
cpp/streaming/contraction/BoruvkaContraction.h:94-331,
cpp/FunctionalSubproblemManager.h:430-757) as one driver-side loop of
DataFrame supersteps. The reference's recursion existed to bound *memory*
(its semi-external switch at Boruvka.h:83-85); Spark manages spill, so the
recursion flattens to iteration and only the superstep algebra survives:

    per round:  hook (min-neighbor agg)  ->  pointer-jump to roots
                ->  contract edges (two relabel joins + normalize + distinct)
                ->  compose the global label map
    finish:     when the contracted graph fits one task, shuffle it into a
                single-partition mapInPandas stage and solve it there with a
                vectorized numpy kernel (the reference's semi-external
                Kruskal base case, cpp/streaming/basecase/BaseKruskal.h:73-111,
                riding an executor — never the driver)

Min-hooking (parent = min(node, min_neighbor), BoruvkaContraction.h:122-133)
guarantees parent <= node, so the hook forest is acyclic and every tree root
is a local minimum; after full pointer jumping, each round maps every node to
a strictly-smaller representative unless it already is one. The global
minimum of a component never hooks, so the fixpoint labels every node with
its component's MINIMUM member — the canonical labeling (the reference's root
choice is algorithm-dependent; only the partition is canonical, SURVEY.md §5.2).

Contraction ratio: >= 2x node reduction per round (each surviving root
absorbed at least one other node — BoruvkaContraction.h:325-327 gives the
same 0.5 bound), so rounds = O(log n); pointer jumping inside a round is
O(log depth) self-joins on a table that is *nodes*, not edges.

Scale design (100 TB / 10^12 edges):
* every step is groupBy/join/distinct on (long, long) rows — all shuffles are
  key-hash over 16-byte tuples, map-side combined where possible;
* the parent table shrinks geometrically; once it fits the broadcast
  threshold, relabel joins flip to broadcast (the semi-external switch);
* per-round checkpointing to parquet truncates lineage (iterative join plans
  otherwise grow exponentially in Catalyst) AND is the resume point;
* AQE skew-join splitting handles giant-component skew in relabel joins.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.joins import compose_labels, contract
from ..operators.normalize import canonicalize, symmetrize
from ..checkpoint import RoundCheckpointer


@dataclass
class CCMetrics:
    """Per-round metrics — the reference's iostats/CSV logging made durable
    (cpp/run-boruvka.cpp:32-59; SURVEY.md §6)."""

    rounds: list[dict] = field(default_factory=list)
    #: exact count of connected components, tracked as a free by-product of
    #: jobs the solve runs anyway (see connected_components docstring); None
    #: when the run did not converge or the path doesn't track it (KKT, G6
    #: pre-pass, checkpoint resume)
    n_components: int | None = None

    @property
    def n_rounds(self) -> int:
        return len(self.rounds)

    def add(self, **kw) -> None:
        self.rounds.append(kw)


def _observed(obs: Observation, name: str) -> int | None:
    """One metric of an Observation whose action has run, or None when it
    is missing: when the optimizer prunes the observed node (a statically
    empty input), Spark completes the Observation with an empty row, which
    ``Observation.get`` cannot convert."""
    if obs._jo.getRow().length() == 0:
        return None
    value = obs.get[name]
    return None if value is None else int(value)


def _hook_parents(edges: DataFrame) -> DataFrame:
    """One hooking pass: parent(u) = min(u, min neighbor of u), plus the
    node's degree (free in the same shuffle — feeds the skew/salt trigger).

    Reference: the min-incident-neighbor scan of BoruvkaContraction.h:122-133,
    with the 2-cycle root fix (lines 135-163) made unnecessary by taking
    min(u, ...) — parent <= node, so no cycles exist at all.
    """
    return (
        symmetrize(edges)
        .groupBy(F.col("src").alias("node"))
        .agg(
            F.least(F.min("dst"), F.col("node")).alias("comp"),
            F.count("*").alias("deg"),
        )
    )


def _pointer_jump(parents: DataFrame, max_iters: int = 64) -> DataFrame:
    """Iterate comp <- parent(comp) by path doubling until fixpoint.

    Replaces the reference's sequential time-forward PQ walk
    (BoruvkaContraction.h:166-294) with O(log depth) self-joins — the only
    scalable equivalent of a pointer chase on a 1000-executor cluster; every
    iteration is a fully parallel join, so this path carries no serial
    fraction (unlike the single-task kernel, which wins only when the table
    is small enough that one task beats per-job overhead).
    Converges because parent <= node strictly decreases along chains.
    Each iterate is persist()ed (memory, lineage depth bounded by the loop)
    rather than localCheckpoint()ed — no per-iteration disk write; the
    moved-check fully materializes the cached iterate in the same scan.
    """
    p = parents
    prev_cache: DataFrame | None = None
    for _ in range(max_iters):
        q = p.select(F.col("node").alias("__qn"), F.col("comp").alias("__qc"))
        joined = (
            p.join(q, on=p["comp"] == q["__qn"], how="left")
            .select(
                "node", "comp", F.coalesce("__qc", "comp").alias("__next")
            )
            .persist()
        )
        # full count, not limit(1): limit-style probing materializes only a
        # few cache partitions, and the next iteration then recomputes the
        # rest from lineage (measured 2x slower than paying the full scan)
        moved = joined.filter(F.col("__next") != F.col("comp")).count()
        if prev_cache is not None:
            prev_cache.unpersist()
        prev_cache = joined
        p = joined.select("node", F.col("__next").alias("comp"))
        if moved == 0:
            break
    # hand back a self-cached result so intermediate iterates can be dropped
    p = p.persist()
    p.count()
    if prev_cache is not None:
        prev_cache.unpersist()
    return p


def _release_jump_cache(df: DataFrame) -> None:
    """Unpersist a round-labels table: drops the DataFrame's own storage AND
    the internal cache a chained-jump projection is backed by (attached as
    ``_emcc_backing_cache`` — the projection itself is never persisted, so a
    plain unpersist() on it would leak the backing table)."""
    backing = getattr(df, "_emcc_backing_cache", None)
    if backing is not None:
        backing.unpersist()
    df.unpersist()  # no-op when df itself carries no storage


def _single_task_map(
    df: DataFrame, fn, out_cols: tuple[str, ...], out_partitions: int = 0,
    single_partition: str = "shuffle",
) -> DataFrame:
    """Run a whole-table numpy kernel as ONE executor task via mapInPandas.

    The Spark shape of the reference's semi-external switch
    (cpp/streaming/algorithms/Boruvka.h:83-85): once a table fits a single
    task, shuffle it into one partition and solve it with vectorized numpy
    INSIDE that task. Unlike a driver toPandas round-trip this (a) needs no
    driver-local filesystem (cluster-safe: data moves executor->executor via
    the shuffle service), (b) streams through Arrow batches both ways, and
    (c) keeps the serial work on an executor, shrinking the measured serial
    fraction (the round-1 scaling-efficiency gap was exactly this path).

    ``fn(*columns: np.ndarray) -> tuple[np.ndarray, ...]`` is the kernel: it
    gets one int64 array per column of df, in column order, and returns one
    array per name in ``out_cols`` (every output column is a long).

    ``single_partition``: how the table lands in one task. ``"shuffle"``
    (repartition(1)) computes the upstream plan at full parallelism and
    funnels through one shuffle partition — required when df is a lazy
    transformation. ``"coalesce"`` skips the shuffle stage entirely (the one
    task reads the upstream partitions directly) — ONLY safe when df is
    already materialized (cached/checkpointed/parquet-backed), otherwise it
    would serialize the whole upstream compute into that task. Saves one
    stage of fixed job latency per call (measured ~0.3s on the s23 finish).
    """
    import pandas as pd  # noqa: F401  (needed inside the closure on executors)

    in_cols = df.columns

    def run(batches):
        import numpy as np
        import pandas as pd

        chunks: list[list] = [[] for _ in in_cols]
        for pdf in batches:
            for chunk, col in zip(chunks, in_cols):
                chunk.append(pdf[col].to_numpy(dtype=np.int64))
        if not chunks[0]:
            return
        outs = fn(*(np.concatenate(chunk) for chunk in chunks))
        step = 1 << 20  # yield ~16MB Arrow batches
        for i in range(0, len(outs[0]), step):
            yield pd.DataFrame(
                {col: out[i : i + step] for col, out in zip(out_cols, outs)}
            )

    one = df.coalesce(1) if single_partition == "coalesce" else df.repartition(1)
    out = one.mapInPandas(run, schema=", ".join(f"{c} long" for c in out_cols))
    if out_partitions > 1:
        # fan the single-partition kernel output back out so downstream
        # consumers (cache fill, compose joins, checkpoint writes) run
        # parallel instead of inheriting the 1-partition layout
        out = out.repartition(out_partitions)
    return out


def _pointer_jump_targets(
    parents: DataFrame,
    targets: DataFrame,
    *,
    broadcast_resolved: bool = True,
) -> DataFrame:
    """Jump via the comp-closure: solve roots for the DISTINCT comp values
    only, then apply them to every node with ONE probe join.

    Chains only ever pass through nodes that occur as a comp value (each hop
    lands on some row's comp), and that target set T is closed under the
    parent map (a target's own comp is again a comp value), so the root of
    every node is root_T(P[node]) where root_T is the fixpoint of P
    restricted to T. On hub-heavy graphs |T| << n (773k of 4.6M on the s23
    bench graph) — small enough for the single-task numpy kernel long after
    the full table outgrew it. Replaces the chained-probe plan's K broadcast
    probes + convergence agg with one tiny fixed-cost kernel task (fixpoint
    exact by construction — no pending check, no fallback pass) and one
    fully parallel probe join; measured superstep phase eff 2-vs-8 went
    0.52 -> (see BENCH/scaling.json) with this path.

    ``targets`` must be the distinct comp values as a (node) column (the
    dispatcher computes+counts it anyway to pick this path).
    """
    from ..operators.numpy_cc import jump_to_roots_numpy

    p_t = parents.join(targets, on="node", how="left_semi")
    resolved = _single_task_map(
        p_t.select("node", "comp"), jump_to_roots_numpy, ("node", "comp")
    )
    r = resolved.select(F.col("node").alias("__t"), F.col("comp").alias("__r"))
    if broadcast_resolved:
        r = F.broadcast(r)
    out = (
        parents.join(r, on=parents["comp"] == r["__t"], how="left")
        .select("node", F.coalesce("__r", "comp").alias("comp"))
        .persist()
    )
    out.count()
    return out


def _pointer_jump_chained(
    parents: DataFrame,
    *,
    steps: int = 8,
    passes: int = 2,
    broadcast_parents: bool = True,
    max_iters: int = 64,
    targets: DataFrame | None = None,
) -> DataFrame:
    """Resolve parent chains by `steps` chained probes of the ORIGINAL
    depth-1 map inside ONE Spark job.

    The depth-1 map P is fixed, so comp_{k+1}(x) = P[comp_k(x)] composed
    `steps` times is `steps` joins against the SAME relation — when P fits
    the broadcast threshold these become `steps` broadcast hash probes in a
    single whole-stage-codegen map over the n-row table: one broadcast build,
    ZERO shuffles, no per-iteration driver round-trips (path doubling costs a
    materialize + moved-check job per log-step; this is the dominant
    superstep phase at bench scale). Convergence check: every comp must be a
    root of P (broadcast anti-join against the small root set). Hook forests
    are shallow on real graphs (depth <= 8 measured on rMAT s23); after
    `passes` chains (depth steps*passes) any pathological remainder (path
    graphs) falls back to `_pointer_jump` doubling, keeping the O(log depth)
    worst case.

    ``broadcast_parents=False`` keeps the same probe chain as shuffle joins;
    measured SLOWER than plain path doubling at every tested shape
    (BENCH/jump_ab.json), so the CC driver only calls this with broadcast
    probes — the shuffle variant remains for the A/B bench and as the
    explicit fallback shape.
    """
    # the probe map only needs rows whose node actually OCCURS as a comp
    # value (every probe key is a comp value by induction) — on hub-heavy
    # graphs this shrinks the broadcast build ~6x (773k of 4.6M rows on the
    # s23 bench graph); non-root rows only would not shrink it (most nodes
    # are non-roots), target-filtering does. The dispatcher passes its
    # already-computed target set in; direct/bench callers let us derive it.
    if targets is None:
        targets = parents.select(F.col("comp").alias("node")).distinct()
    P = parents.join(targets, on="node", how="left_semi").select(
        F.col("node").alias("__pn"), F.col("comp").alias("__pc")
    )
    Pb = F.broadcast(P) if broadcast_parents else P
    cur = parents
    prev_cache: DataFrame | None = None
    for _ in range(passes):
        c = cur.select("node", "comp")
        for _ in range(steps):
            c = c.join(Pb, on=c["comp"] == Pb["__pn"], how="left").select(
                "node", F.coalesce("__pc", "comp").alias("comp")
            )
        # one extra probe computes the convergence flag IN the same job:
        # a row is done iff another P step would not move it
        c = (
            c.join(Pb, on=c["comp"] == Pb["__pn"], how="left")
            .select(
                "node",
                "comp",
                (
                    F.coalesce("__pc", F.col("comp")) == F.col("comp")
                ).alias("__done"),
            )
            .persist()
        )
        # ONE job materializes the cache AND returns the convergence count
        # (caching fills whole partitions regardless of the agg's columns) —
        # fusing the former count() + filter().count() pair halves the
        # per-pass driver round-trips, a pure serial-fraction saving
        pending = int(
            c.agg(
                F.sum(
                    F.when(~F.col("__done"), F.lit(1)).otherwise(F.lit(0))
                ).alias("p")
            ).collect()[0]["p"]
            or 0
        )
        if prev_cache is not None:
            prev_cache.unpersist()
        prev_cache = c
        cur = c
        if pending == 0:
            # the projection reads through c's cache; re-persisting it would
            # copy the n-row table for nothing (measured ~15% of superstep
            # wall), while returning it bare would leak c — Spark uncaches
            # only on a same-plan match, so the caller's unpersist() would
            # no-op. Hand the cache handle along instead; callers release
            # via _release_jump_cache.
            out = cur.select("node", "comp")
            out._emcc_backing_cache = prev_cache
            return out
    # pathological depth (> steps*passes): finish with path doubling
    out = _pointer_jump(cur.select("node", "comp"), max_iters)
    if prev_cache is not None:
        prev_cache.unpersist()
    return out


def _pointer_jump_local(parents: DataFrame) -> DataFrame:
    """Pointer-jump the parent table to fixpoint in one executor task.

    A distributed jump iteration costs a full self-join + checkpoint + count
    (~seconds of fixed overhead) regardless of size; once the parent table
    fits one task (it shrinks ~2x per round), log2(depth) numpy gathers do
    the same work in milliseconds inside a mapInPandas stage — no driver
    involvement, no driver-local spill files (cluster-safe).

    The dispatcher always passes a projection of the (persisted,
    agg-materialized) hook output, so the single partition comes from
    coalesce(1): the kernel task reads the cached blocks directly instead of
    paying a repartition shuffle stage per round.
    """
    from ..operators.numpy_cc import jump_to_roots_numpy

    sp = int(
        parents.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    return _single_task_map(
        parents.select("node", "comp"),
        jump_to_roots_numpy,
        ("node", "comp"),
        out_partitions=sp,
        single_partition="coalesce",
    )


def _dispatch_jump(
    parents: DataFrame,
    n_before: int,
    *,
    jump_local_threshold: int,
    broadcast_threshold_rows: int,
    t_est: int | None = None,
) -> DataFrame:
    """Pick the pointer-jump plan by the measured size rule and return the
    materialized (node, comp) root labels.

    The plans and their crossovers (tools/bench_jump.py, BENCH/jump_ab.json,
    tools/profile_superstep.py):
    * ``n <= jump_local_threshold``: single-task numpy path doubling — one
      task beats per-job scheduling overhead below ~2M rows;
    * ``|distinct comps| <= jump_local_threshold``: targets-reduced jump —
      solve the comp-closure (typically ~6x smaller than n) in one numpy
      task, apply with one parallel probe join. The preferred big-graph
      plan: its only non-parallel work is the tiny kernel task + one
      broadcast build, vs the chained plan's K probes + convergence agg
      (measured phase eff 0.52 at 2-vs-8 cores for chained on the s23
      graph — the superstep's dominant serial slice);
    * ``n <= broadcast_threshold_rows``: chained broadcast probes — one job,
      zero shuffles, while the depth-1 map fits the broadcast budget;
    * above all: distributed path doubling — chained shuffle probes lose
      ~2x once every probe is an exchange.

    ``t_est``: size of the distinct-comp target set. The CC loop reads it as
    ``approx_count_distinct(comp)`` from the SAME aggregation job that counts
    the parent table (one driver round-trip serves both numbers — a pure
    serial-fraction saving); pass None to have it counted exactly here. It
    only picks a plan, so the ±few-% HLL error is harmless: every branch is
    exact.

    Every branch returns a persisted+materialized table; release it with
    `_release_jump_cache` (the chained branch hands its backing cache along).
    Shared by the CC driver loop and tools/profile_superstep.py so profiles
    measure the plan production runs.
    """
    if n_before <= jump_local_threshold:
        round_labels = _pointer_jump_local(parents).persist()
        round_labels.count()  # materialize before callers drop parents
        return round_labels
    targets = parents.select(F.col("comp").alias("node")).distinct()
    if t_est is None:
        t_est = targets.count()
    if t_est <= jump_local_threshold:
        return _pointer_jump_targets(
            parents, targets,
            broadcast_resolved=t_est <= broadcast_threshold_rows,
        )
    if n_before <= broadcast_threshold_rows:
        # self-cached + counted; single-job broadcast probes while the
        # parent table fits the broadcast budget
        return _pointer_jump_chained(
            parents, broadcast_parents=True, targets=targets
        )
    return _pointer_jump(parents)


def _union_find_finish(
    edges: DataFrame, single_partition: str = "coalesce"
) -> DataFrame:
    """Solve the (small) contracted edge table with the vectorized numpy CC
    kernel in one executor task; returns the (node, comp) star map.

    The reference's semi-external Kruskal base case
    (cpp/streaming/basecase/BaseKruskal.h:73-111) — run as a single
    mapInPandas task (hook + pointer-doubling over arrays, operators/numpy_cc)
    instead of a driver collect + dict union-find: ~100ms for 1M edges vs
    multiple seconds, and no driver round-trip. Roots are min members,
    matching the distributed rounds.

    ``single_partition="coalesce"`` (default) is for a MATERIALIZED edge
    table (localCheckpoint- or parquet-backed): the kernel task reads the
    stored blocks directly, skipping the repartition shuffle stage (one
    fewer fixed-latency stage in the serial finish tail). The fused finish
    passes ``"shuffle"`` instead, because there its input is the LAZY
    contract plan: repartition(1) keeps the contract running at full
    parallelism and funnels only its (small) output into the kernel task.
    """
    from ..operators.numpy_cc import solve_cc_numpy

    return _single_task_map(
        edges.select("src", "dst"), solve_cc_numpy, ("node", "comp"),
        single_partition=single_partition,
    )


def connected_components(
    edges: DataFrame,
    *,
    small_graph_threshold: int = 1_000_000,
    max_rounds: int = 64,
    broadcast_threshold_rows: int | None = None,
    checkpointer: RoundCheckpointer | None = None,
    metrics: CCMetrics | None = None,
    pre_canonicalized: bool = False,
    policy: "Policy | None" = None,
    local_solve_bucket_width: int = 0,
    jump_local_threshold: int = 2_000_000,
    heavy_hitter_split: bool = True,
    hub_seeds: list[int] | None = None,
    seed: int = 42,
    fuse_finish: bool = False,
    profile_finish: bool = False,
) -> DataFrame:
    """Exact CC labels (node, comp) with comp = min member of the component.

    ``small_graph_threshold``: edge count at which the remaining contracted
    graph is shuffled into ONE executor task and finished with the vectorized
    numpy CC kernel (operators/numpy_cc, via mapInPandas) — the Spark
    analogue of the reference's semi-external switch (Boruvka.h:32-36). No
    driver collect, no driver-local files: cluster-safe by construction.
    ``broadcast_threshold_rows``: label-table size below which relabel joins
    are forced broadcast. Default None = BYTE-GATED: derived from the
    session's memory config via tuning.broadcast_row_bound (~heap/2048 rows,
    capped at 16M — e.g. ~524k rows on 1GB executors, ~2M on 4GB), so the
    explicit hint can never exceed what the participating heaps hold; the
    ``spark.emcc.broadcast.maxRows`` conf pins it explicitly. Above the
    threshold AQE still upgrades joins it measures as small enough.
    ``checkpointer``: if given, per-round edge/label tables are persisted and
    a killed run resumes from the last completed round.
    ``policy``: optional plans.policy.Policy overriding the two thresholds and
    optionally enabling star-contraction rounds by density (variants.hpp).
    ``local_solve_bucket_width``: >0 runs one bundle-local union-find pass
    (SibeynWithBundles, G6) before the iterative loop — wins when node ids
    have locality (paths/grids/crawl order).
    ``jump_local_threshold``: parent tables at or below this row count do
    their pointer jumping as one vectorized mapInPandas task (path doubling
    on numpy index arrays) instead of log(depth) distributed self-joins — the
    jump-phase analogue of the semi-external switch. The default is the
    measured crossover (~2s/M rows single-task vs ~8s flat distributed):
    below it one task beats per-job scheduling overhead; above it the
    distributed joins win AND carry no serial fraction.
    ``hub_seeds``: known mega-hub node ids (e.g. flagged online by
    streaming.events.running_degree_monitor while the crawl frontier was
    ingesting) — the FIRST executed round arms the heavy-split relabel path
    directly from this list, skipping the degree-scan detect job entirely;
    later rounds re-detect from the (contracted) degrees as usual, since
    contraction renames nodes.
    ``fuse_finish``: opt-in — when a round's stats job predicts the NEXT
    contracted graph fits the semi-external kernel, pipe the contraction
    straight into the one-task finish inside the same job instead of
    materializing it first (one fewer job + localCheckpoint + broadcast
    rebuild). Default False by measured A/B (BENCH/fuse_ab.json): on this
    bench the unfused tail's materialized input beats the saved job.

    On convergence ``metrics.n_components`` holds the EXACT component count,
    tracked as a free by-product (root-count aggregates riding the existing
    stats job / finish Observation — see the bookkeeping comment in the
    loop); callers that previously ran ``countDistinct("comp")`` over the
    returned n-row table can read it instead, removing one full scan job
    from the solve tail. None when not tracked (KKT strategy, G6 pre-pass,
    checkpoint resume, stopped at max_rounds before convergence).
    """
    spark = edges.sparkSession
    metrics = metrics if metrics is not None else CCMetrics()
    if policy is not None:
        small_graph_threshold = policy.small_graph_edges
        broadcast_threshold_rows = policy.broadcast_rows
    if broadcast_threshold_rows is None:
        from ..tuning import broadcast_row_bound

        broadcast_threshold_rows = broadcast_row_bound(spark)

    if policy is not None and policy.strategy == "kkt":
        return _kkt_driver(
            edges,
            policy=policy,
            metrics=metrics,
            pre_canonicalized=pre_canonicalized,
            seed=seed,
            jump_local_threshold=jump_local_threshold,
            max_rounds=max_rounds,
            checkpointer=checkpointer,
        )

    e = edges if pre_canonicalized else canonicalize(edges)
    labels: DataFrame | None = None
    start_round = 0

    if checkpointer is not None:
        resumed = checkpointer.resume()
        if resumed is not None:
            start_round, e, labels = resumed

    if start_round == 0 and local_solve_bucket_width > 0:
        # --- G6 pre-pass: per-bundle union-find, then contract ---
        from .local_solve import local_unionfind_pass

        t0 = time.time()
        contracted, loc_labels = local_unionfind_pass(
            e, bucket_width=local_solve_bucket_width
        )
        identity = (
            e.select(F.col("src").alias("node"))
            .unionAll(e.select(F.col("dst").alias("node")))
            .distinct()
            .select("node", F.col("node").alias("comp"))
        )
        labels = compose_labels(identity, loc_labels).localCheckpoint(eager=True)
        e = contracted.localCheckpoint(eager=True)
        loc_labels.unpersist()
        metrics.add(round=-1, kind="local_unionfind_pass",
                    wall_sec=time.time() - t0)

    e = e.persist()
    m = e.count()
    n_prev: int | None = None
    held_labels_cache: DataFrame | None = None  # round-0 labels kept cached

    # --- exact component-count bookkeeping (zero extra jobs) -------------
    # Invariant: comp_count = number of distinct comps in the composed label
    # table so far. Per round, if the round's graph has n nodes (every one a
    # comp of the composition) and its label map has R distinct roots, then
    # comp_count' = R + comp_count - n (comps without surviving edges are
    # untouched). The base case folds in: before round 0 the labeling is the
    # identity on the n_0 graph nodes, so comp_count_0 = R_0. Each quantity
    # rides a job the solve already runs: hook roots satisfy comp == node
    # (min-hook ⇒ parent ≤ node, no cycles) and jumping never changes the
    # root set, so R is one plain SUM(node = comp) in the existing stats
    # agg; a star round removes exactly its hooked sources (break_paths
    # guarantees sources are never centers), so comp_count -= hook_count
    # (already counted); the finish kernel's (n_fin, R_fin) ride the
    # compose/checkpoint job as an Observation. This replaces the separate
    # countDistinct scan callers ran for n_components — one fewer n-row job
    # in the cc_full tail (VERDICT r4 #1b).
    comp_count: int | None = None
    comp_track = start_round == 0 and local_solve_bucket_width == 0

    for rnd in range(start_round, max_rounds):
        if m == 0:
            break
        t0 = time.time()

        if m <= small_graph_threshold:
            # --- semi-external finish: one-task vectorized CC solve ---
            local_labels = _union_find_finish(e)
            obs_fin = Observation()
            local_labels = local_labels.observe(
                obs_fin,
                F.count(F.lit(1)).alias("n_fin"),
                F.sum(
                    (F.col("node") == F.col("comp")).cast("long")
                ).alias("r_fin"),
            )
            kernel_wall = compose_wall = None
            if profile_finish:
                # attribution mode (tools/profile_cc_tail.py): materialize
                # the kernel output first so its wall separates from the
                # compose scan. Costs one extra tiny job vs the production
                # single-job finish — attribution only, never the bench path.
                t_k = time.time()
                local_labels = local_labels.localCheckpoint(eager=True)
                kernel_wall = time.time() - t_k
            t_c = time.time()
            if labels is None:
                labels = local_labels
            else:
                # the local map is small by construction -> broadcast compose
                labels = compose_labels(labels, local_labels, broadcast_inner=True)
            # materialize before dropping the cached edge table the kernel
            # task reads from
            labels = labels.localCheckpoint(eager=True)
            if profile_finish:
                compose_wall = time.time() - t_c
            if comp_track:
                try:
                    n_fin = int(obs_fin.get["n_fin"])
                    r_fin = int(obs_fin.get["r_fin"])
                    comp_count = (
                        r_fin
                        if comp_count is None
                        else r_fin + comp_count - n_fin
                    )
                except Exception:
                    comp_count = None  # observation optimized away (rare)
            if held_labels_cache is not None:
                _release_jump_cache(held_labels_cache)
                held_labels_cache = None
            fin_rec = {"round": rnd, "kind": "unionfind_finish", "m": m,
                       "wall_sec": time.time() - t0}
            if profile_finish:
                fin_rec["kernel_wall"] = kernel_wall
                fin_rec["compose_wall"] = compose_wall
            metrics.add(**fin_rec)
            e.unpersist()
            m = 0
            break

        # --- one contraction superstep (boruvka or star, per policy) ---
        strategy = "boruvka"
        if policy is not None and n_prev is not None:
            strategy = policy.contraction_strategy(n_prev, m)
        if strategy == "star":
            from .star_contraction import star_contraction_round

            round_labels = star_contraction_round(
                e, seed=seed + rnd
            ).persist()
            n_before = round_labels.count()
            if comp_track and comp_count is not None:
                # every hooked source stops being a component root; centers
                # are never sources (break_paths), so the distinct-comp
                # count drops by exactly the hook count
                comp_count -= n_before
        else:
            parents_full = _hook_parents(e).persist()
            # ONE job fills the cache and returns both dispatch inputs:
            # the node count (jumping preserves it) and the approximate
            # distinct-comp count (picks the targets-reduced jump plan)
            stats = parents_full.agg(
                F.count(F.lit(1)).alias("n"),
                F.approx_count_distinct("comp").alias("t"),
                F.sum(
                    (F.col("node") == F.col("comp")).cast("long")
                ).alias("r"),
            ).collect()[0]
            n_before, t_est = stats["n"], stats["t"]
            if comp_track:
                r_exact = int(stats["r"] or 0)
                comp_count = (
                    r_exact
                    if comp_count is None
                    else r_exact + comp_count - n_before
                )
            parents = parents_full.select("node", "comp")
            round_labels = _dispatch_jump(
                parents, n_before, t_est=t_est,
                jump_local_threshold=jump_local_threshold,
                broadcast_threshold_rows=broadcast_threshold_rows,
            )

        do_broadcast = n_before <= broadcast_threshold_rows
        heavy: list[tuple[int, int]] = []
        hub_source: str | None = None
        if strategy == "boruvka":
            if heavy_hitter_split and not do_broadcast:
                # skew trigger: a broadcast relabel has no shuffle to skew;
                # on the shuffled path one mega-hub funnels its full degree
                # into a single reducer. Detected hubs bypass the join via a
                # literal-map fast path (joins.relabel_heavy_split) while
                # AQE's skew-join splitting covers residual moderate skew.
                # Measured A/B on mega-hub stars (tools/bench_salting.py,
                # BENCH/salting.json): neutral at 10M leaves, ~7% faster at
                # 30M — fires only beyond max(4m/partitions, 1M) degree.
                if hub_seeds and rnd == start_round:
                    # seeded by the online monitor: no detect job at all —
                    # ids refer to the ORIGINAL graph, hence first round only
                    hot_ids = [int(h) for h in hub_seeds][:1024]
                    hub_source = "seeded"
                else:
                    # degree came free with the hook shuffle; the threshold
                    # scan is one cheap job over the cached n-row parent table
                    sp = int(
                        spark.conf.get("spark.sql.shuffle.partitions", "200")
                    )
                    deg_thr = max(4 * m // max(sp, 1), 1_000_000)
                    hot_ids = [
                        r["node"]
                        for r in parents_full.filter(F.col("deg") > deg_thr)
                        .select("node")
                        .limit(1024)
                        .collect()
                    ]
                    hub_source = "scan" if hot_ids else None
                if hot_ids:
                    heavy = [
                        (r["node"], r["comp"])
                        for r in round_labels.filter(
                            F.col("node").isin(hot_ids)
                        ).collect()
                    ]
            parents_full.unpersist()

        # --- fused finish (opt-in): contract straight into the kernel ---
        # When the round's free stats job says the contracted graph will fit
        # the semi-external kernel (t_est approximates its NODE count; the
        # kernel is O(m) numpy either way, so a miss is slow-but-correct,
        # never wrong), skip the per-round materialization entirely: the
        # contract plan funnels through repartition(1) into the kernel task
        # within the SAME job, and the final compose is the only n-row pass.
        # vs the unfused tail this removes one full job + one small-table
        # localCheckpoint + one broadcast rebuild — fixed serial cost.
        # MEASURED default-off: an interleaved 4-pair A/B at local[8] on the
        # 129M-edge rMAT s23 (BENCH/fuse_ab.json) gave fused 33.3s vs
        # unfused 27.9s median — the saved job does not pay for losing the
        # materialized (localCheckpoint) input that lets the kernel task
        # read stored blocks, so the fusion is kept as an opt-in for
        # workloads where round-tail materialization dominates (many tiny
        # rounds). Guards: never under a checkpointer (resume needs the
        # per-round tables), never on the last allowed round (max_rounds
        # callers measure exactly-one-superstep), boruvka only (star rounds
        # compute no t_est).
        fuse_now = (
            fuse_finish
            and strategy == "boruvka"
            and checkpointer is None
            and rnd + 1 < max_rounds
            and 0 < t_est <= small_graph_threshold
        )
        if fuse_now:
            t_hookjump = time.time() - t0
            t1 = time.time()
            e_next = contract(
                e, round_labels, broadcast_labels=do_broadcast,
                heavy_hitters=heavy,
            )
            obs = Observation()
            observed = e_next.observe(obs, F.count(F.lit(1)).alias("m_next"))
            local_labels = _union_find_finish(
                observed, single_partition="shuffle"
            )
            obs_fin = Observation()
            local_labels = local_labels.observe(
                obs_fin,
                F.count(F.lit(1)).alias("n_fin"),
                F.sum(
                    (F.col("node") == F.col("comp")).cast("long")
                ).alias("r_fin"),
            )
            mid = (
                round_labels
                if labels is None
                else compose_labels(
                    labels, round_labels, broadcast_inner=do_broadcast
                )
            )
            labels = compose_labels(mid, local_labels, broadcast_inner=True)
            labels = labels.localCheckpoint(eager=True)
            try:
                m_next = int(obs.get["m_next"])
            except Exception:
                # AQE can optimize the observed node out of the broadcast
                # subtree (seen when the contraction empties the graph and
                # empty-relation propagation eliminates the join); fall back
                # to one count over the cached-input contract plan — rare,
                # and trivial exactly when it happens
                m_next = e_next.count()
            metrics.add(
                round=rnd, kind="boruvka_superstep", m=m, m_next=m_next,
                n_nodes=n_before, wall_sec=t_hookjump,
                edges_per_sec=m / max(t_hookjump, 1e-9),
                broadcast=do_broadcast, n_heavy_hitters=len(heavy),
                hub_source=hub_source, fused_finish=True,
            )
            metrics.add(
                round=rnd + 1, kind="unionfind_finish", m=m_next,
                wall_sec=time.time() - t1, fused=True,
            )
            if comp_track:
                try:
                    n_fin = int(obs_fin.get["n_fin"])
                    r_fin = int(obs_fin.get["r_fin"])
                    # comp_count already folded this round's hook/jump via
                    # the stats update above; fold the kernel solve on top
                    comp_count = r_fin + comp_count - n_fin
                except Exception:
                    comp_count = None
            _release_jump_cache(round_labels)
            if held_labels_cache is not None:
                _release_jump_cache(held_labels_cache)
                held_labels_cache = None
            e.unpersist()
            m = 0
            break

        e_next = contract(
            e, round_labels, broadcast_labels=do_broadcast,
            heavy_hitters=heavy,
        )

        first_round = labels is None
        if first_round:
            labels = round_labels
        else:
            labels = compose_labels(
                labels, round_labels, broadcast_inner=do_broadcast
            )

        # m_next rides the checkpoint materialization job as an observed
        # metric instead of a separate count() scan — one fewer job (and one
        # fewer driver round-trip) per round, a pure serial-fraction saving
        # (VERDICT r3 #2). Works on both tails: the parquet write and the
        # eager localCheckpoint both fire the observation.
        obs = Observation()
        e_next = e_next.observe(obs, F.count(F.lit(1)).alias("m_next"))
        if checkpointer is not None:
            e_next, labels = checkpointer.save_round(
                rnd, e_next, labels,
                metrics={"m": m, "n_nodes": n_before,
                         "broadcast": do_broadcast, "kind": strategy},
            )
            _release_jump_cache(round_labels)  # labels now parquet-backed
            e.unpersist()
            # lazy cache over the round parquet — filled by the next round's
            # first scan (hook); no dedicated staging job
            e = e_next.persist()
        else:
            e_next = e_next.localCheckpoint(eager=True)
            if first_round:
                # labels IS round_labels: already persisted + materialized —
                # a localCheckpoint here would re-copy the n-row table for
                # nothing; keep the cache alive until the next composition
                held_labels_cache = round_labels
            else:
                labels = labels.localCheckpoint(eager=True)
                _release_jump_cache(round_labels)
                if held_labels_cache is not None:
                    _release_jump_cache(held_labels_cache)
                    held_labels_cache = None
            e.unpersist()
            # the eager localCheckpoint already stored every partition; a
            # second persist()+count() here would copy the table again
            e = e_next
        m_next = int(obs.get["m_next"])
        metrics.add(
            round=rnd, kind=f"{strategy}_superstep", m=m, m_next=m_next,
            n_nodes=n_before, wall_sec=time.time() - t0,
            edges_per_sec=m / max(time.time() - t0, 1e-9),
            broadcast=do_broadcast, n_heavy_hitters=len(heavy),
            hub_source=hub_source,
        )
        if strategy == "boruvka":
            n_prev = n_before  # true node count of the contracted graph
        m = m_next

    if labels is None:
        # no edges at all -> empty labeling
        labels = spark.createDataFrame([], schema="node long, comp long")
        if comp_track:
            metrics.n_components = 0
    elif comp_track and m == 0 and comp_count is not None:
        # converged (graph emptied or finish kernel ran): the bookkeeping
        # equals countDistinct(comp) of the returned table — exact, free
        metrics.n_components = comp_count
    if checkpointer is not None:
        labels = checkpointer.save_final(labels)
    return labels


def _kkt_driver(
    edges: DataFrame,
    *,
    policy: "Policy",
    metrics: CCMetrics,
    pre_canonicalized: bool,
    seed: int,
    jump_local_threshold: int,
    max_rounds: int,
    checkpointer: RoundCheckpointer | None = None,
) -> DataFrame:
    """One KKT sample-and-filter level (G8), flattened onto the iterative loop.

    Reference: FunctionalSubproblemManager's recursion
    (cpp/FunctionalSubproblemManager.h:430-757; sampling split at 785-829,
    relabel_right_edges at 181-296) as driven by run-fun-sibeyn.cpp:

        E1 ~ Bernoulli(2^-k) of E   (k = nearest_power_reciprocal(n, m))
        L1 = CC(E1)                  # solve the sample
        E2' = contract(E \\ E1, L1)  # the FILTER: edges internal to an E1
                                     # component become self-loops -> dropped
        L2 = CC(E2')
        L  = L2 ∘ (identity ∪ L1)

    Why it wins on dense graphs (m >> n): the full edge table participates in
    exactly ONE relabel join; all iterative hooking happens on E1 (~m/2^k
    rows) and on E2' (whose expected size is O(n/2^k) by the KKT sampling
    lemma), instead of every round rescanning m edges. The reference's deeper
    recursion bounds *memory*; one level is where the Spark work-saving lives
    (sub-solves reuse the iterative loop, which spills fine).

    Labels stay canonical min-members: every E1 root is the min of its
    E1-component, so the L2 solve over root ids yields the global min per
    merged component, and the composition preserves it.

    Resume (VERDICT r3 #3): the reference recursion's natural boundaries —
    split / L1 / filter / L2 — are committed as NAMED PHASES via
    checkpoint.PhaseCheckpointer under the caller's checkpoint root, and the
    two sub-solves run with nested per-round RoundCheckpointers (sub_l1 /
    sub_l2), so a killed dense-graph run resumes mid-sub-solve, not just at
    a phase edge. A completed phase is skipped entirely on rerun and its
    tables are re-read from parquet; the final labels also commit through
    the caller's RoundCheckpointer.save_final so ``checkpointer.final()``
    keeps its contract. Same resume precondition as the iterative loop:
    call again with the same input and parameters.
    """
    from ..operators.sample import bernoulli_split

    spark = edges.sparkSession
    phases = None
    sub_ckpt_root = None
    done: set[str] = set()
    if checkpointer is not None:
        from ..checkpoint import PhaseCheckpointer

        phases = PhaseCheckpointer(spark, checkpointer.root)
        sub_ckpt_root = checkpointer.root
        done = set(phases.completed())

    e = edges if pre_canonicalized else canonicalize(edges)
    e = e.persist()
    t0 = time.time()
    m = e.count()
    if m == 0:
        return spark.createDataFrame([], schema="node long, comp long")

    # --- phase: split -------------------------------------------------------
    if phases is not None and "split" in done:
        t = phases.load_phase("split")
        e1, e2 = t["e1"], t["e2"]
        k = phases.phase_metrics("split").get("power")
        metrics.add(round=-2, kind="kkt_split_resumed", m=m, power=k)
    else:
        # cheap density probe: approximate n is only used to pick the power k
        n_approx = (
            e.select(F.explode(F.array("src", "dst")).alias("node"))
            .agg(F.approx_count_distinct("node").alias("n"))
            .collect()[0]["n"]
        )
        k = policy.sample_power(n_approx, m)
        e1, e2 = bernoulli_split(e, "src", "dst", p=2.0 ** -k, seed=seed)
        if phases is not None:
            t = phases.save_phase(
                "split", {"e1": e1, "e2": e2},
                metrics={"m": m, "n_approx": n_approx, "power": k},
            )
            e1, e2 = t["e1"], t["e2"]
        metrics.add(
            round=-2, kind="kkt_split", m=m, n_approx=n_approx, power=k,
            wall_sec=time.time() - t0,
        )

    def _sub_kw(tag: str) -> dict:
        kw = dict(
            pre_canonicalized=True,  # Bernoulli filter preserves canon form
            metrics=metrics,
            jump_local_threshold=jump_local_threshold,
            max_rounds=max_rounds,
            small_graph_threshold=policy.small_graph_edges,
            broadcast_threshold_rows=policy.broadcast_rows,
            seed=seed,
        )
        if sub_ckpt_root is not None:
            kw["checkpointer"] = RoundCheckpointer(
                spark, f"{sub_ckpt_root.rstrip('/')}/{tag}"
            )
        return kw

    # --- phase: l1 (solve the sample) --------------------------------------
    if phases is not None and "l1" in done:
        labels1 = phases.load_phase("l1")["labels1"].persist()
        metrics.add(round=-2, kind="kkt_l1_resumed")
    else:
        labels1 = connected_components(e1, **_sub_kw("sub_l1")).persist()
        if phases is not None:
            labels1 = phases.save_phase(
                "l1", {"labels1": labels1}
            )["labels1"].persist()
    n1 = labels1.count()
    do_broadcast = n1 <= policy.broadcast_rows

    # --- phase: filter (one relabel of the large unsampled side) -----------
    if phases is not None and "filter" in done:
        e2c = phases.load_phase("filter")["e2c"]
        m2 = phases.phase_metrics("filter").get("m_remaining")
        metrics.add(round=-2, kind="kkt_filter_resumed", m_remaining=m2)
    else:
        t1 = time.time()
        # intra-component edges collapse to self-loops -> dropped inside
        # contract's canonicalize
        e2c = contract(e2, labels1, broadcast_labels=do_broadcast)
        e2c = e2c.localCheckpoint(eager=True)
        m2 = e2c.count()
        if phases is not None:
            e2c = phases.save_phase(
                "filter", {"e2c": e2c},
                metrics={"m_input": m, "m_remaining": m2},
            )["e2c"]
        metrics.add(
            round=-2, kind="kkt_filter", m_input=m, m_remaining=m2,
            wall_sec=time.time() - t1,
        )

    # --- phase: l2 (solve the filtered remainder) ---------------------------
    if phases is not None and "l2" in done:
        labels2 = phases.load_phase("l2")["labels2"].persist()
        metrics.add(round=-2, kind="kkt_l2_resumed")
    else:
        labels2 = connected_components(e2c, **_sub_kw("sub_l2")).persist()
        if phases is not None:
            labels2 = phases.save_phase(
                "l2", {"labels2": labels2}
            )["labels2"].persist()
    labels2.count()

    # --- compose: identity over all nodes -> L1 -> L2 -----------------------
    identity = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("comp"))
    )
    labels = compose_labels(identity, labels1, broadcast_inner=do_broadcast)
    labels = compose_labels(labels, labels2, broadcast_inner=do_broadcast)
    labels = labels.localCheckpoint(eager=True)
    e.unpersist()
    labels1.unpersist()
    labels2.unpersist()
    metrics.add(round=-2, kind="kkt_total", wall_sec=time.time() - t0)
    if checkpointer is not None:
        labels = checkpointer.save_final(labels)
    return labels


def connected_components_metrics(edges: DataFrame, **kw) -> tuple[DataFrame, CCMetrics]:
    """connected_components + its per-round metrics (rounds-to-convergence,
    edges/sec per superstep — BASELINE.json's headline metrics)."""
    metrics = CCMetrics()
    labels = connected_components(edges, metrics=metrics, **kw)
    return labels, metrics
