"""Turn op results and traced spans into the benchmark's named metrics."""

from __future__ import annotations

import json
import statistics

from .trace import Span


def _median(values, default=0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


def _quantile(values, q: int) -> float:
    """The q-th quartile (1..3) by statistics.quantiles, or the lone value."""
    values = list(values)
    if len(values) < 2:
        return _median(values)
    return float(statistics.quantiles(values, n=4)[q - 1])


def end_to_end(setup_s, results) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_cpu_s": {"value": _median(r.cpu_s for r in results), "unit": "s"},
        "edges_per_cpu_s": {"value": _median(r.edges / r.cpu_s for r in results),
                            "unit": "edges/cpu-s"},
    }


def detail(wl, results, env, attempted, failed, peak_mb) -> dict:
    """Informational figures printed beside the result line."""
    out = {
        "workload": wl.name, "seed": wl.seed, "ops": len(results),
        "peak_rss_mb": peak_mb,
        "job_s": _median(r.seconds for r in results),
        "edges_per_s": _median(r.edges / r.seconds for r in results),
        "job_s_quartiles": [_quantile([r.seconds for r in results], q) for q in (1, 2, 3)],
        "error_rate": failed / max(attempted, 1),
        "inputs": wl.props, "env": env,
    }
    if wl.name == "crawl_delta":
        out.update(base_solve_s=wl.base_solve_s, base_pages_per_s=wl.PAGES / wl.base_solve_s)
        ins = [r.parts["insert"] for r in results]
        dele = [r.parts["delete"] for r in results]
        out.update(insert_p50_s=_median(ins), insert_p75_s=_quantile(ins, 3),
                   delete_p50_s=_median(dele), samples_per_kind=len(ins))
    return out


def _by_op(items, op):
    """The items of timed ops (op >= 0) if there are any, else those of
    set-up (op -1): a layer that runs only in set-up is measured there."""
    timed = [x for x in items if op(x) >= 0]
    return timed or list(items)


def _spans(tracer, layer) -> list[Span]:
    return _by_op(tracer.of(layer), lambda s: s.op)


def _counts(spans: list[Span], prefix: str, *fields: str) -> dict:
    """Median per span of each count field."""
    return {f"{prefix}.{f}": (_median(getattr(s, f) for s in spans), "count")
            for f in fields}


def _cc_round_stats(all_metrics) -> dict:
    steps = [[r for r in m.rounds if r["kind"].endswith("_superstep")] for m in all_metrics]
    fins = [r for m in all_metrics for r in m.rounds if r["kind"] == "unionfind_finish"]
    flat = [r for s in steps for r in s]
    m_in = sum(r["m"] for r in flat)
    wall = sum(r["wall_sec"] for r in flat)
    return {
        "connected_components.rounds": (_median(m.n_rounds for m in all_metrics), "count"),
        "connected_components.superstep_s": (
            _median(sum(r["wall_sec"] for r in s) for s in steps), "s"),
        "connected_components.superstep_edges_per_s": (m_in / wall if wall else 0.0, "edges/s"),
        "connected_components.contraction_ratio": (
            sum(r["m_next"] for r in flat) / m_in if m_in else 0.0, "ratio"),
        "connected_components.broadcast_rounds": (
            _median(sum(bool(r.get("broadcast")) for r in s) for s in steps), "count"),
        "connected_components.heavy_hitters": (
            _median(sum(r.get("n_heavy_hitters", 0) for r in s) for s in steps), "count"),
        "connected_components.finish_s": (_median(r["wall_sec"] for r in fins), "s"),
        "connected_components.finish_edges": (_median(r["m"] for r in fins), "count"),
    }


def per_layer(wl, tracer, start_s, warmup_s, peak_mb, plain, traced) -> dict:
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "session.peak_rss_mb": (peak_mb, "MB"),
    }
    gen = tracer.of("sources")  # all in set-up
    counts = {k: v for s in gen for k, v in s.counts.items()}
    m["sources.generate_s"] = (sum(s.seconds for s in gen), "s")
    m["sources.edges_raw"] = (counts.get("edges_raw", 0), "count")
    m["sources.pages"] = (counts.get("pages", 0), "count")

    web = _spans(tracer, "web")
    m["web.extract_s"] = (_median(s.seconds for s in web), "s")
    m.update(_counts(web, "web", "jobs", "tasks", "failed_tasks"))
    pages = _median(s.counts.get("pages", 0) for s in web)
    m["web.pages_per_s"] = (pages / m["web.extract_s"][0] if web else 0.0, "pages/s")
    m["web.links_per_page"] = (getattr(wl, "links", 0) / pages if pages else 0.0, "ratio")

    ops = _spans(tracer, "operators")
    m["operators.canonicalize_s"] = (_median(s.seconds for s in ops), "s")
    raw = getattr(wl, "links", None) or counts.get("edges_raw", 0)
    kept = _median(s.counts.get("edges_out", 0) for s in ops)
    m["operators.keep_ratio"] = (kept / raw if ops and raw else 0.0, "ratio")
    m["operators.jobs"] = (_median(s.jobs for s in ops), "count")

    solves = _spans(tracer, "connected_components")
    m.update(_counts(solves, "connected_components", "jobs", "stages", "tasks",
                     "failed_tasks"))
    m["connected_components.solve_s"] = (_median(s.seconds for s in solves), "s")
    m.update(_cc_round_stats([cm for _, cm in _by_op(wl.cc_metrics, lambda x: x[0])]))

    pr = _spans(tracer, "pagerank")
    m["pagerank.solve_s"] = (_median(s.seconds for s in pr), "s")
    m["pagerank.iter_p50_s"] = (_median(t for s in pr for t in s.counts.get("iter_s", [])), "s")
    m.update(_counts(pr, "pagerank", "jobs", "tasks"))

    for layer in ("incremental", "decremental"):
        folds = _spans(tracer, layer)
        m[f"{layer}.fold_s"] = (_median(s.seconds for s in folds), "s")
        m[f"{layer}.jobs_per_fold"] = (_median(s.jobs for s in folds), "count")
    m["incremental.delta_edges"] = (
        _median(s.counts["delta_edges"] for s in _spans(tracer, "incremental")), "count")
    hits = getattr(wl, "giant_hits", [])
    m["decremental.giant_share"] = (sum(hits) / len(hits) if hits else 0.0, "ratio")

    ck = _spans(tracer, "checkpoint")
    written = _median(s.counts["bytes"] for s in ck)
    m["checkpoint.bytes_written"] = (written, "bytes")
    m["checkpoint.bytes_per_edge"] = (written / wl.canonical if ck else 0.0, "B/edge")
    m["checkpoint.rounds_committed"] = (_median(s.counts["rounds"] for s in ck), "count")
    m["checkpoint.resume_s"] = (_median(s.seconds for s in ck), "s")

    plain_s = _median(r.seconds for r in plain)
    traced_s = _median(r.seconds for r in traced)
    m["trace.untraced_job_s"] = (plain_s, "s")
    m["trace.traced_job_s"] = (traced_s, "s")
    m["trace.overhead_s"] = (traced_s - plain_s, "s")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def dump_spans(path, wl, tracer) -> None:
    """Every span's counts plus the engine's answers, for the self-test."""
    with open(path, "w") as fh:
        json.dump({
            "spans": [{"layer": s.layer, "name": s.name, "op": s.op, "jobs": s.jobs,
                       "stages": s.stages, "tasks": s.tasks,
                       "failed_tasks": s.failed_tasks} for s in tracer.spans],
            "rounds": [[op, m.n_rounds] for op, m in wl.cc_metrics],
            "answers": [list(a) for a in wl.answers],
        }, fh)
