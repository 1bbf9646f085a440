"""Spans around the benchmark's calls into each engine layer.

Tracing is measured from outside the engine: every public call the
benchmark makes runs inside ``Tracer.span(layer, ...)``. With tracing on, a
span sets a Spark job group for the call and afterwards reads the group's
jobs, stages, tasks and failed tasks through ``sc.statusTracker()``; spans
are kept in memory and summarized when the run ends. With tracing off a
span is a no-op, so the untraced run pays nothing for it.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    name: str
    op: int  # index of the benchmark operation that caused the span
    seconds: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    counts: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = -1
        self._groups = 0

    @contextmanager
    def span(self, layer: str, name: str):
        """Yields a dict the caller may fill with layer counts."""
        counts: dict = {}
        if not self.enabled:
            yield counts
            return
        self._groups += 1
        group = f"perfbench-{self._groups}"
        self.sc.setJobGroup(group, f"{layer}.{name}")
        t0 = time.perf_counter()
        try:
            yield counts
        finally:
            seconds = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(self._collect(group, layer, name, seconds, counts))

    def _collect(self, group, layer, name, seconds, counts) -> Span:
        tracker = self.sc.statusTracker()
        span = Span(layer, name, self.op, seconds, counts=counts)
        for job_id in tracker.getJobIdsForGroup(group):
            span.jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else []):
                stage = tracker.getStageInfo(stage_id)
                ran = stage and stage.numCompletedTasks + stage.numFailedTasks
                if not ran:
                    continue  # skipped: an earlier job's shuffle output was reused
                span.stages += 1
                span.tasks += stage.numCompletedTasks
                span.failed_tasks += stage.numFailedTasks
        return span

    def of(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer]
