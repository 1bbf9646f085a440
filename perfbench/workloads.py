"""The two workloads. Each one stages its inputs in ``setup`` (seeded,
repeatable), computes the oracle answer there, and then runs one unit of
work per ``op`` call, returning its wall and CPU time and whether the
engine's answer matched the oracle.

Engine thresholds are scaled with the inputs: the CC finish threshold and
the local pointer-jump threshold keep the ratio the defaults (1M / 2M rows)
have to the ~32M-edge rMAT graph the defaults were tuned on, so the scaled
graphs still run Borůvka supersteps before the one-task finish.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from em_connected_components_spark.checkpoint import RoundCheckpointer
from em_connected_components_spark.operators import normalize
from em_connected_components_spark.plans import connected_components as cc
from em_connected_components_spark.plans import decremental, incremental, pagerank
from em_connected_components_spark.web import extract

from . import inputs, oracle, procs

CC_KW = {"small_graph_threshold": 1_000_000 // 32, "jump_local_threshold": 2_000_000 // 32}
PAGERANK_ITERS = 10
# untimed ops before timing: the first op of a run is about twice as slow
# as the rest, the second op up to a fifth slower
WARM_OPS = 2


@dataclass
class OpResult:
    seconds: float
    cpu_s: float  # CPU seconds of the process tree over the same interval
    edges: int  # edges this op processed (for the per-second rates)
    ok: bool
    parts: dict = field(default_factory=dict)  # named sub-timings, seconds


class Stopwatch:
    """Wall time and process-tree CPU time since it was made."""

    def __init__(self):
        self.wall, self.cpu = time.perf_counter(), procs.cpu_s()

    def read(self) -> tuple[float, float]:
        return time.perf_counter() - self.wall, procs.cpu_s() - self.cpu


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def label_fingerprint(labels) -> tuple[int, int, int]:
    """(rows, components, sum of xxhash64(node, comp) mod 2^64) of a
    min-member labeling, in one Spark aggregation outside any timed region."""
    h = F.xxhash64("node", "comp")
    row = labels.agg(
        F.count(F.lit(1)),
        F.sum((F.col("node") == F.col("comp")).cast("long")),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))),
        F.sum(F.shiftrightunsigned(h, 32)),
    ).first()
    lo, hi = row[2] or 0, row[3] or 0
    return int(row[0]), int(row[1] or 0), (lo + (hi << 32)) % (1 << 64)


class Workload:
    name = ""

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tracer, self.seed, self.work = spark, tracer, seed, work
        self.cc_metrics: list[tuple[int, cc.CCMetrics]] = []  # (op, ...) of traced solves
        self.answers: list = []  # engine fingerprints, in op order
        self.props: dict[str, float] = {}

    def prepare(self) -> None:
        """Set-up that runs once, after the input staging."""

    def warm(self) -> None:
        """Untimed ops: the JIT, plan and worker caches fill before timing."""
        for _ in range(WARM_OPS):
            self.op()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def read(self, *paths: str):
        return self.spark.read.parquet(*paths)

    def solve(self, edges, **kw):
        """CC through the public metrics call; labels materialized."""
        with self.tracer.span("connected_components", "solve"):
            labels, m = cc.connected_components_metrics(
                edges, pre_canonicalized=True, **kw)
            materialize(labels)
        if self.tracer.enabled:  # op -1: a solve in set-up
            self.cc_metrics.append((self.tracer.op, m))
        return labels

    def check(self, labels, want: oracle.Partition) -> bool:
        got = label_fingerprint(labels)
        self.answers.append(got)
        return got == (want.nodes, want.components, want.fingerprint)

    def canonicalize(self, edges):
        with self.tracer.span("operators", "canonicalize") as c:
            out = normalize.canonicalize(edges)
            if self.tracer.enabled:  # barrier: the plan would fuse it into CC
                out = out.localCheckpoint(eager=True)
                c["edges_out"] = out.count()
        return out


class RmatCC(Workload):
    """Exact CC on raw hub-skewed rMAT edges; no checkpointer."""

    name = "rmat_cc"
    SCALE, EDGE_FACTOR = 16, 16

    def setup(self) -> None:
        raw = self.path("rmat")
        with self.tracer.span("sources", "generate") as c:
            inputs.stage_rmat(self.spark, raw, self.SCALE, self.EDGE_FACTOR, self.seed)
        src, dst = inputs.read_edges(raw)
        c["edges_raw"] = len(src)
        cs, cd = oracle.canonical_edges(src, dst)
        self.canonical = len(cs)
        self.want = oracle.partition(cs, cd)
        self.props = {
            "largest_share": self.want.largest / self.want.nodes,
            "duplicate_share": 1 - len(cs) / int(np.sum(src != dst)),
            "self_loop_share": float(np.mean(src == dst)),
            "cross_host_share": 0.0,
        }
        self.raw_path = raw

    def op(self) -> OpResult:
        watch = Stopwatch()
        labels = self.solve(self.canonicalize(self.read(self.raw_path)), **CC_KW)
        seconds, cpu = watch.read()
        return OpResult(seconds, cpu, self.canonical, self.check(labels, self.want))


class CrawlDelta(Workload):
    """Keep the crawl graph's labels current under interleaved insert and
    delete batches; one op is one insert fold followed by one delete fold.

    Set-up solves the base graph from the generated pages with the batch
    job's steps, once: pages_to_edges -> canonicalize -> checkpointed CC,
    checked against the oracle. A traced run also runs the job's PageRank
    there (10 iterations, checked) and resumes from the checkpoint; the
    folds need neither. Each op stages its batches, and the edge table the
    delete fold needs, before its timer starts."""

    name = "crawl_delta"
    PAGES, CYCLES, INSERT_EDGES, DELETE_EDGES = 20_000, 40, 1000, 50

    def setup(self) -> None:
        crawl = inputs.crawl_graph(self.seed, self.PAGES, new_pages=self.PAGES // 20)
        with self.tracer.span("sources", "generate") as c:
            urls = inputs.page_urls(crawl)
            inputs.write_pages(self.path("pages"), crawl, urls, self.seed)
        c.update(pages=crawl.pages, edges_raw=len(crawl.src))
        crawl.hash_urls(urls)
        s, d = crawl.link_ids()
        self.plan = inputs.delta_plan(crawl, self.seed, self.CYCLES,
                                      self.INSERT_EDGES, self.DELETE_EDGES)
        self.links, self.canonical = len(s), len(self.plan.base[0])
        self.want = oracle.partition(*self.plan.base)
        self.want_rank = oracle.pagerank(s, d, PAGERANK_ITERS) if self.tracer.enabled else None
        self.props = inputs.crawl_properties(crawl)

    def prepare(self) -> None:
        """Solve the base graph from the pages; every fold starts from its
        labels."""
        ck_root = self.path("checkpoints")
        t0 = time.perf_counter()
        pages = self.read(self.path("pages"))
        with self.tracer.span("web", "pages_to_edges") as c:
            # CC, the check and a traced run's PageRank read the links: materialize once
            links = extract.pages_to_edges(pages).localCheckpoint(eager=True)
            c["pages"] = self.PAGES
        ck = RoundCheckpointer(self.spark, ck_root)
        labels = self.solve(self.canonicalize(links), checkpointer=ck, **CC_KW)
        self.base_solve_s = time.perf_counter() - t0
        ok = links.count() == self.links and self.check(labels, self.want)
        if self.tracer.enabled:
            ok = ok and self._pagerank(links)
            self._trace_checkpoint(ck_root)
        if not ok:
            raise RuntimeError("the base graph from the pages does not match the oracle")
        self.labels = labels.localCheckpoint(eager=True)
        links.unpersist()
        shutil.rmtree(ck_root, ignore_errors=True)
        self.graph = self.plan.base  # the edges the labels describe
        self.cycle = 0
        self.giant_hits: list[bool] = []

    def _pagerank(self, links) -> bool:
        with self.tracer.span("pagerank", "pagerank") as c:
            metrics = pagerank.PRMetrics()
            ranks = pagerank.pagerank(links, max_iters=PAGERANK_ITERS, tol=0.0,
                                      metrics=metrics)
            materialize(ranks)
            c["iter_s"] = [it["wall_sec"] for it in metrics.iterations]
        got = ranks.toPandas().sort_values("node")
        nodes, rank = self.want_rank
        return np.array_equal(got["node"].to_numpy(), nodes) and np.allclose(
            got["rank"].to_numpy(), rank, rtol=1e-6, atol=0.0)

    def _trace_checkpoint(self, root: str) -> None:
        """Bytes the solve committed, and the cost of resuming from them."""
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, files in os.walk(root) for f in files)
        with self.tracer.span("checkpoint", "resume") as c:
            resumed = RoundCheckpointer(self.spark, root).resume()
            rounds = 0
            if resumed is not None:  # rounds are committed 0, 1, ..., next - 1
                rounds, e, lab = resumed
                e.count(), lab.count()
        c.update(bytes=size, rounds=rounds)

    def _fold(self, layer: str, batch, call) -> tuple[tuple[float, float], tuple]:
        """Time one fold (materialized), then fingerprint its labels."""
        watch = Stopwatch()
        with self.tracer.span(layer, "fold") as c:
            out = call(cc.CCMetrics()).localCheckpoint(eager=True)
        times = watch.read()
        c["delta_edges"] = len(batch[0])
        self.labels.unpersist()
        self.labels = out
        got = label_fingerprint(out)
        self.answers.append(got)
        return times, got

    def op(self) -> OpResult:
        k = self.cycle
        if k >= self.CYCLES:
            raise IndexError("delta sequence exhausted: raise CYCLES")
        self.cycle += 1
        ins, dele = self.plan.inserts[k], self.plan.deletes[k]
        grown = tuple(np.concatenate([g, i]) for g, i in zip(self.graph, ins))
        gone = np.isin(oracle.edge_keys(*grown), oracle.edge_keys(*dele))
        shrunk = (grown[0][~gone], grown[1][~gone])
        for name, edges in (("ins", ins), ("del", dele), ("cur", grown)):
            inputs.write_edges(self.path(name, str(k)), *edges)

        (t_ins, cpu_ins), got_ins = self._fold(
            "incremental", ins,
            lambda m: incremental.incremental_connected_components(
                self.labels, self.read(self.path("ins", str(k))),
                pre_canonicalized=True, metrics=m))
        (t_del, cpu_del), got_del = self._fold(
            "decremental", dele,
            lambda m: decremental.decremental_connected_components(
                self.labels, self.read(self.path("cur", str(k))),
                self.read(self.path("del", str(k))),
                pre_canonicalized=True, metrics=m))
        self.graph = shrunk
        ok = all(got == (w.nodes, w.components, w.fingerprint) for got, w in (
            (got_ins, oracle.partition(*grown)), (got_del, oracle.partition(*shrunk))))
        # did the purge touch the largest component of the graph it hit?
        nodes, comp = oracle.min_labels(*grown)
        comps, sizes = np.unique(comp, return_counts=True)
        giant = nodes[comp == comps[sizes.argmax()]]
        self.giant_hits.append(bool(np.isin(dele[0], giant).any()))
        return OpResult(t_ins + t_del, cpu_ins + cpu_del, len(ins[0]) + len(dele[0]), ok,
                        {"insert": t_ins, "delete": t_del})


WORKLOADS = {w.name: w for w in (RmatCC, CrawlDelta)}
