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
    finish:     when the contracted graph fits one task, coalesce it into a
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


def _observed(obs: Observation, name: str) -> int | float | None:
    """One metric of an Observation whose action has run, as Spark returns it
    (a long column as int, a double as float), or None when it is missing:
    when the optimizer prunes the observed node (a statically empty input),
    Spark completes the Observation with an empty row, which
    ``Observation.get`` cannot convert."""
    if obs._jo.getRow().length() == 0:
        return None
    return obs.get[name]


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


#: bound on path-doubling iterations: each doubles the hop length, so 64
#: covers any chain over long node ids
JUMP_MAX_ITERS = 64


def _pointer_jump(parents: DataFrame) -> DataFrame:
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
    for _ in range(JUMP_MAX_ITERS):
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


def _single_task_map(
    df: DataFrame, fn, out_cols: tuple[str, ...],
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
    return one.mapInPandas(run, schema=", ".join(f"{c} long" for c in out_cols))


def _pointer_jump_local(parents: DataFrame) -> DataFrame:
    """Pointer-jump the parent table to fixpoint in one executor task.

    A distributed jump iteration costs a full self-join + checkpoint + count
    (~seconds of fixed overhead) regardless of size; once the parent table
    fits one task (it shrinks ~2x per round), log2(depth) numpy gathers do
    the same work in milliseconds inside a mapInPandas stage — no driver
    involvement, no driver-local spill files (cluster-safe).

    ``_hook_and_jump`` passes a projection of the (persisted,
    agg-materialized) hook output, so the single partition comes from
    coalesce(1): the kernel task reads the cached blocks directly instead of
    paying a repartition shuffle stage per round. The kernel's output is
    fanned back out to the shuffle partitions, so downstream consumers
    (cache fill, compose joins, checkpoint writes) run parallel instead of
    inheriting the 1-partition layout.
    """
    from ..operators.numpy_cc import jump_to_roots_numpy

    sp = int(
        parents.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    out = _single_task_map(
        parents.select("node", "comp"),
        jump_to_roots_numpy,
        ("node", "comp"),
        single_partition="coalesce",
    )
    return out.repartition(sp) if sp > 1 else out


def _union_find_finish(edges: DataFrame) -> DataFrame:
    """Solve the (small) contracted edge table with the vectorized numpy CC
    kernel in one executor task; returns the (node, comp) star map.

    The reference's semi-external Kruskal base case
    (cpp/streaming/basecase/BaseKruskal.h:73-111) — run as a single
    mapInPandas task (hook + pointer-doubling over arrays, operators/numpy_cc)
    instead of a driver collect + dict union-find: ~100ms for 1M edges vs
    multiple seconds, and no driver round-trip. Roots are min members,
    matching the distributed rounds.

    The edge table must be MATERIALIZED (localCheckpoint-, cache- or
    parquet-backed): the kernel task reads the stored blocks directly via
    coalesce(1), skipping the repartition shuffle stage (one fewer
    fixed-latency stage in the serial finish tail).
    """
    from ..operators.numpy_cc import solve_cc_numpy

    return _single_task_map(
        edges.select("src", "dst"), solve_cc_numpy, ("node", "comp"),
        single_partition="coalesce",
    )


class _ComponentCount:
    """Exact component count, tracked as a free by-product of jobs the solve
    runs anyway — no extra job.

    Invariant: ``value`` = number of distinct comps in the composed label
    table so far. Per round, if the round's graph has n nodes (every one a
    comp of the composition) and its label map has R distinct roots, then
    value' = R + value - n (comps without surviving edges are untouched).
    The base case folds in: before round 0 the labeling is the identity on
    the n_0 graph nodes, so value_0 = R_0. Each quantity rides a job the
    solve already runs: hook roots satisfy comp == node (min-hook ⇒ parent ≤
    node, no cycles) and jumping never changes the root set, so R is one
    plain SUM(node = comp) in the existing stats agg; a star round removes
    exactly its hooked sources (break_paths guarantees sources are never
    centers), so value -= hook count (already counted); the finish kernel's
    (n_fin, R_fin) ride the compose/checkpoint job as an Observation. This
    replaces the separate countDistinct scan callers ran for n_components —
    one fewer n-row job in the cc_full tail (VERDICT r4 #1b).

    ``tracked`` is False on paths that start from labels the count never saw
    (G6 pre-pass, checkpoint resume), and turns False when a folded value
    was not observed.
    """

    def __init__(self, tracked: bool) -> None:
        self.tracked = tracked
        self.value: int | None = None

    def fold(self, roots: int | None, nodes: int | None) -> bool:
        """Fold in one label map over ``nodes`` graph nodes with ``roots``
        distinct roots. A missing value stops the tracking; returns False
        when it did."""
        if not self.tracked:
            return True
        if roots is None or nodes is None:
            self.tracked, self.value = False, None
            return False
        self.value = roots if self.value is None else roots + self.value - nodes
        return True

    def drop(self, hooked: int) -> None:
        """A star round: every hooked source stops being a root."""
        if self.value is not None:
            self.value -= hooked


def _hook_and_jump(
    e: DataFrame,
    m: int,
    count: _ComponentCount,
    *,
    hub_seeds: list[int] | None,
    jump_local_threshold: int,
    broadcast_threshold_rows: int,
) -> tuple[DataFrame, dict, list[tuple[int, int]]]:
    """One Boruvka hook + pointer jump over the edge table ``e`` (``m``
    rows). Returns the persisted round labels, the round's record fields
    (``n_nodes``, ``jump``, ``hub_source``) and the heavy hitters for the
    relabel.

    The jump plan (``jump``) is ``"local"`` (one numpy task,
    ``_pointer_jump_local``) when the parent table has at most
    ``jump_local_threshold`` rows, else ``"doubling"`` (``_pointer_jump``:
    distributed path doubling, the only plan with no single-task or
    broadcast step). Both return a persisted, materialized table.
    """
    parents_full = _hook_parents(e).persist()
    # ONE job fills the cache and returns the node count (jumping preserves
    # it, and it picks the jump plan); the root count rides along
    stats = parents_full.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("node") == F.col("comp")).cast("long")).alias("r"),
    ).collect()[0]
    n_before = stats["n"]
    count.fold(int(stats["r"] or 0), n_before)
    parents = parents_full.select("node", "comp")
    if n_before <= jump_local_threshold:
        jump = "local"
        round_labels = _pointer_jump_local(parents).persist()
        round_labels.count()  # materialize before parents_full is dropped
    else:
        jump = "doubling"
        round_labels = _pointer_jump(parents)
    heavy: list[tuple[int, int]] = []
    hub_source = None
    if n_before > broadcast_threshold_rows:
        # skew trigger: a broadcast relabel has no shuffle to skew; on the
        # shuffled path one mega-hub funnels its full degree into a single
        # reducer. Detected hubs bypass the join via a literal-map fast path
        # (joins.relabel_heavy_split) while AQE's skew-join splitting covers
        # residual moderate skew. Measured A/B on mega-hub stars
        # (BENCH/salting.json): neutral at 10M leaves, ~7% faster at 30M —
        # fires only beyond max(4m/partitions, 1M) degree.
        if hub_seeds:
            # seeded by the online monitor: no detect job at all
            hot_ids = [int(h) for h in hub_seeds][:1024]
            hub_source = "seeded"
        else:
            # degree came free with the hook shuffle; the threshold scan is
            # one cheap job over the cached n-row parent table
            sp = int(
                e.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
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
    rec = {"n_nodes": n_before, "jump": jump, "hub_source": hub_source}
    return round_labels, rec, heavy


def _contract_and_compose(
    e: DataFrame,
    labels: DataFrame | None,
    held: DataFrame | None,
    round_labels: DataFrame,
    *,
    broadcast: bool,
    heavy: list[tuple[int, int]],
    checkpointer: RoundCheckpointer | None,
    rnd: int,
    ckpt_metrics: dict,
) -> tuple[DataFrame, DataFrame, DataFrame | None, int]:
    """Contract ``e`` by the round's labels and compose them onto ``labels``.

    Returns the next round's materialized edge table, the composed labels,
    the round-0 labels kept cached (``held``: on the first round the labels
    ARE the persisted round labels, released at the next composition) and
    the next edge count. Drops ``e`` and ``round_labels`` once they are no
    longer read.
    """
    e_next = contract(
        e, round_labels, broadcast_labels=broadcast, heavy_hitters=heavy,
    )
    first_round = labels is None
    if first_round:
        labels = round_labels
    else:
        labels = compose_labels(labels, round_labels, broadcast_inner=broadcast)

    # m_next rides the checkpoint materialization job as an observed metric
    # instead of a separate count() scan — one fewer job (and one fewer
    # driver round-trip) per round, a pure serial-fraction saving (VERDICT
    # r3 #2). Works on both tails: the parquet write and the eager
    # localCheckpoint both fire the observation.
    obs = Observation()
    e_next = e_next.observe(obs, F.count(F.lit(1)).alias("m_next"))
    if checkpointer is not None:
        e_next, labels = checkpointer.save_round(
            rnd, e_next, labels, metrics=ckpt_metrics
        )
        round_labels.unpersist()  # labels now parquet-backed
        # lazy cache over the round parquet — filled by the next round's
        # first scan (hook); no dedicated staging job
        e_next = e_next.persist()
    else:
        # the eager localCheckpoint already stores every partition; a
        # persist()+count() on top would copy the table again
        e_next = e_next.localCheckpoint(eager=True)
        if first_round:
            # a localCheckpoint here would re-copy the n-row table for
            # nothing; keep the cache alive until the next composition
            held = round_labels
        else:
            labels = labels.localCheckpoint(eager=True)
            round_labels.unpersist()
            if held is not None:
                held.unpersist()
                held = None
    e.unpersist()
    return e_next, labels, held, int(obs.get["m_next"])


def _finish(
    e: DataFrame, labels: DataFrame | None
) -> tuple[DataFrame, int | None, int | None]:
    """Semi-external finish: solve the contracted edge table in one kernel
    task and compose it onto ``labels``. Returns the materialized labels and
    the kernel's node and root counts (None when not observed)."""
    local_labels = _union_find_finish(e)
    obs = Observation()
    local_labels = local_labels.observe(
        obs,
        F.count(F.lit(1)).alias("n_fin"),
        F.sum((F.col("node") == F.col("comp")).cast("long")).alias("r_fin"),
    )
    if labels is None:
        labels = local_labels
    else:
        # the local map is small by construction -> broadcast compose
        labels = compose_labels(labels, local_labels, broadcast_inner=True)
    # materialize before the caller drops the cached edge table the kernel
    # task reads from
    labels = labels.localCheckpoint(eager=True)
    return labels, _observed(obs, "n_fin"), _observed(obs, "r_fin")


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
    hub_seeds: list[int] | None = None,
    seed: int = 42,
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
    threshold AQE still upgrades joins it measures as small enough, and the
    relabel splits off detected mega-hubs (heavy hitters).
    ``checkpointer``: if given, per-round edge/label tables are persisted and
    a killed run resumes from the last completed round.
    ``policy``: optional plans.policy.Policy overriding
    ``small_graph_threshold``, optionally enabling star-contraction rounds
    by density (variants.hpp) or the KKT driver; the broadcast bound stays
    byte-gated (or ``broadcast_threshold_rows``) under every policy.
    ``local_solve_bucket_width``: >0 runs one bundle-local union-find pass
    (SibeynWithBundles, G6) before the iterative loop — wins when node ids
    have locality (paths/grids/crawl order).
    ``jump_local_threshold``: picks each Boruvka round's pointer-jump plan,
    named as ``jump`` in the round's record: ``"local"`` (one numpy task)
    when the round's parent table has at most this many rows, else
    ``"doubling"`` (log(depth) distributed self-joins, the plan that scales
    past one task). 0 sends every round to ``"doubling"``. The default is
    the measured crossover (~2s/M rows single-task vs ~8s flat distributed).
    ``hub_seeds``: known mega-hub node ids (e.g. flagged online by
    streaming.events.running_degree_monitor while the crawl frontier was
    ingesting) — the FIRST executed round arms the heavy-split relabel path
    directly from this list, skipping the degree-scan detect job entirely;
    later rounds re-detect from the (contracted) degrees as usual, since
    contraction renames nodes.

    On convergence ``metrics.n_components`` holds the EXACT component count,
    tracked as a free by-product (root-count aggregates riding the existing
    stats job / finish Observation — see ``_ComponentCount``); callers that
    previously ran ``countDistinct("comp")`` over the returned n-row table
    can read it instead, removing one full scan job from the solve tail.
    None when not tracked (KKT strategy, G6 pre-pass, checkpoint resume,
    stopped at max_rounds before convergence, or a finish count that was not
    observed — then the finish record carries ``n_components_unobserved``).
    """
    spark = edges.sparkSession
    metrics = metrics if metrics is not None else CCMetrics()
    if policy is not None:
        small_graph_threshold = policy.small_graph_edges
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
            broadcast_threshold_rows=broadcast_threshold_rows,
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
    held: DataFrame | None = None  # round-0 labels kept cached
    count = _ComponentCount(start_round == 0 and local_solve_bucket_width == 0)

    for rnd in range(start_round, max_rounds):
        if m == 0:
            break
        t0 = time.time()

        if m <= small_graph_threshold:
            labels, n_fin, r_fin = _finish(e, labels)
            observed = count.fold(r_fin, n_fin)
            if held is not None:
                held.unpersist()
            fin_rec = {"round": rnd, "kind": "unionfind_finish", "m": m,
                       "wall_sec": time.time() - t0}
            if not observed:
                fin_rec["n_components_unobserved"] = True
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
            count.drop(n_before)
            rec = {"n_nodes": n_before, "jump": None, "hub_source": None}
            heavy: list[tuple[int, int]] = []
        else:
            round_labels, rec, heavy = _hook_and_jump(
                e, m, count,
                hub_seeds=hub_seeds if rnd == start_round else None,
                jump_local_threshold=jump_local_threshold,
                broadcast_threshold_rows=broadcast_threshold_rows,
            )
            n_before = rec["n_nodes"]
        do_broadcast = n_before <= broadcast_threshold_rows

        e, labels, held, m_next = _contract_and_compose(
            e, labels, held, round_labels,
            broadcast=do_broadcast, heavy=heavy, checkpointer=checkpointer,
            rnd=rnd,
            ckpt_metrics={"m": m, "n_nodes": n_before,
                          "broadcast": do_broadcast, "kind": strategy},
        )
        metrics.add(
            round=rnd, kind=f"{strategy}_superstep", m=m, m_next=m_next,
            wall_sec=time.time() - t0,
            edges_per_sec=m / max(time.time() - t0, 1e-9),
            broadcast=do_broadcast, n_heavy_hitters=len(heavy), **rec,
        )
        if strategy == "boruvka":
            n_prev = n_before  # true node count of the contracted graph
        m = m_next

    if labels is None:
        # no edges at all -> empty labeling
        labels = spark.createDataFrame([], schema="node long, comp long")
        if count.tracked:
            metrics.n_components = 0
    elif m == 0 and count.tracked:
        # converged (graph emptied or finish kernel ran): the bookkeeping
        # equals countDistinct(comp) of the returned table — exact, free
        metrics.n_components = count.value
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
    broadcast_threshold_rows: int,
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
            broadcast_threshold_rows=broadcast_threshold_rows,
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
    do_broadcast = n1 <= broadcast_threshold_rows

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
