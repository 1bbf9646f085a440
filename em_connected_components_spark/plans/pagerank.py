"""PageRank — one DataFrame power-iteration loop, two contribution kernels.

No reference counterpart (the reference computes only connected components);
required by the graft contract (BASELINE.json north_star: "PageRank runs as
CSR-partitioned sparse gather-scatter SpMV in pandas UDFs", scores matching
NumPy within allclose 1e-6 at convergence).

Both executors run ``_power_iterate``: base table, dangling mass, update rule,
L1 delta, check-boundary stop and release. They differ only in how one
iteration sums the rank shares per destination:

* ``pagerank`` — a JVM join on src and groupBy(dst) sum, map-side combined
  and AQE-planned. The default and the 100 TB path.
* ``pagerank_spmv`` — a numpy gather (``np.add.at``, the CSR shape named by
  the contract) in Arrow-batched pandas UDFs over dst hash buckets.

Semantics (both): directed edges, uniform teleport, dangling mass spread
uniformly; rank vector sums to 1 every iteration.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..tuning import broadcast_row_bound
from .connected_components import _observed

#: dst hash buckets of ``pagerank_spmv``: the unit of parallelism of the
#: gather, so skewed destinations spread across tasks by bucket, not by key
SPMV_BUCKETS = 32


@dataclass
class PRMetrics:
    iterations: list[dict] = field(default_factory=list)

    def add(self, **kw) -> None:
        self.iterations.append(kw)


def _base(edges: DataFrame) -> tuple[DataFrame, int]:
    """The persisted (node, out_deg) table of every endpoint, and its size."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("out_deg")
    )
    base = nodes.join(out_deg, on="node", how="left").select(
        "node", F.coalesce("out_deg", F.lit(0)).alias("out_deg")
    ).persist()
    return base, base.count()


def _power_iterate(
    base: DataFrame,
    n: int,
    contribs: Callable[[DataFrame], DataFrame],
    damping: float,
    max_iters: int,
    tol: float,
    check_every: int,
    metrics: PRMetrics | None,
) -> DataFrame:
    """(node, rank) after power iteration from the uniform vector.

    ``contribs(shares)`` maps the (src, share) table to (node, contrib), the
    summed shares per destination. The rank table is localCheckpoint'ed each
    iteration to keep the plan flat. Releases ``base``.
    """
    if n == 0:
        base.unpersist()
        return base.select("node", F.lit(0.0).alias("rank"))
    metrics = metrics if metrics is not None else PRMetrics()
    ranks = base.select("node", F.lit(1.0 / n).alias("rank"), "out_deg")
    ranks = ranks.localCheckpoint(eager=True)

    for it in range(max_iters):
        t0 = time.time()
        # dangling mass as a broadcast 1-row relation: the scalar agg rides
        # the rank update's job instead of a driver collect
        dangling = F.broadcast(
            ranks.filter(F.col("out_deg") == 0).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm")
            )
        )
        shares = ranks.filter(F.col("out_deg") > 0).select(
            F.col("node").alias("src"),
            (F.col("rank") / F.col("out_deg")).alias("share"),
        )
        # joining onto the PREVIOUS ranks (not `base`) carries the old rank
        # through, so the L1 delta rides the checkpoint job as an Observation
        upd = (
            ranks.withColumnRenamed("rank", "__prev")
            .join(contribs(shares), on="node", how="left")
            .crossJoin(dangling)
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce("contrib", F.lit(0.0)) + F.col("__dm") / n)
                ).alias("rank"),
                "out_deg",
                "__prev",
            )
        )
        obs = Observation()
        ranks = upd.observe(
            obs, F.sum(F.abs(F.col("rank") - F.col("__prev"))).alias("l1")
        ).select("node", "rank", "out_deg").localCheckpoint(eager=True)
        # The delta is known every iteration but consulted only at
        # check_every boundaries and the last iteration. A delta Spark left
        # unobserved is recorded and never counts as converged.
        l1 = _observed(obs, "l1")
        at_check = (it + 1) % check_every == 0 or it == max_iters - 1
        delta = l1 if at_check else None
        metrics.add(
            iteration=it, wall_sec=time.time() - t0, l1_delta=delta,
            observed_l1=l1, l1_unobserved=l1 is None,
        )
        if delta is not None and delta < tol:
            break

    base.unpersist()
    return ranks.select("node", "rank")


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iters: int = 40,
    tol: float = 1e-9,
    check_every: int = 5,
    metrics: PRMetrics | None = None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """(node, rank) after power iteration; stops when L1 delta < tol.

    Per iteration: one join (shares ⋈ edges on src) and one groupBy(dst), the
    minimal shuffle count for distributed SpMV. When the node count fits
    ``tuning.broadcast_row_bound`` (byte-gated like the CC relabel joins) the
    shares side is broadcast and the edge table is never shuffled or sorted.
    Above it, the edge table's pinned hash partitioning on src feeds a
    shuffled-hash join that exchanges only the shares side.
    """
    spark = edges.sparkSession
    # Pin the edge table's hash partitioning on src once, so each iteration
    # shuffles only the shares. ``pre_partitioned=True``: the caller attests
    # the input already carries it (a src-bucketed EdgeCatalog table).
    if not pre_partitioned:
        sp = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        edges = edges.repartition(sp, "src")
    edges = edges.persist()
    base, n = _base(edges)
    broadcast = n <= broadcast_row_bound(spark)

    def contribs(shares: DataFrame) -> DataFrame:
        return (
            edges.join(F.broadcast(shares) if broadcast else shares, on="src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("contrib"))
        )

    ranks = _power_iterate(base, n, contribs, damping, max_iters, tol,
                           check_every, metrics)
    edges.unpersist()
    return ranks


def pagerank_spmv(
    edges: DataFrame,
    damping: float = 0.85,
    max_iters: int = 40,
    tol: float = 1e-9,
    check_every: int = 5,
) -> DataFrame:
    """PageRank whose per-destination sum runs as numpy in applyInPandas:
    edges are bucketed once by hash(dst), and each iteration ships the
    share-joined buckets through Arrow batches to ``np.add.at``."""
    import numpy as np
    import pandas as pd

    base, n = _base(edges)
    bucketed = edges.withColumn(
        "bucket", F.pmod(F.xxhash64("dst"), F.lit(SPMV_BUCKETS)).cast("int")
    ).persist()
    bucketed.count()

    def gather(pdf: "pd.DataFrame") -> "pd.DataFrame":
        uniq, inv = np.unique(pdf["dst"].to_numpy(), return_inverse=True)
        acc = np.zeros(len(uniq), dtype=np.float64)
        np.add.at(acc, inv, pdf["share"].to_numpy())
        return pd.DataFrame({"node": uniq, "contrib": acc})

    def contribs(shares: DataFrame) -> DataFrame:
        return (
            bucketed.join(shares, on="src")
            .select("bucket", "dst", "share")
            .groupBy("bucket")
            .applyInPandas(gather, schema="node long, contrib double")
            .groupBy("node")
            .agg(F.sum("contrib").alias("contrib"))
        )

    ranks = _power_iterate(base, n, contribs, damping, max_iters, tol,
                           check_every, None)
    bucketed.unpersist()
    return ranks
