"""Spans recorded from the benchmark's side of each call into the library.

A span covers one public call (catalog function, consume action, writer,
stream drain) or one whole operation (the parent). Every span runs in a
job group of its own, so the Spark jobs, stages and tasks it launched are
read back from ``SparkContext.statusTracker()`` and attached to it. Spans
are kept in memory; the runner folds them into per-layer metrics when the
run ends.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    layer: str
    group: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    children: list["Span"] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.dur - sum(c.dur for c in self.children)


def job_counts(sc, group: str) -> tuple[int, int, int, int]:
    """(jobs, stages, tasks, failed tasks) launched under a job group.
    Stages a job skipped (a reused shuffle) never ran and are not counted."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info is not None else ():
            s = st.getStageInfo(sid)
            if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                continue
            stages += 1
            tasks += s.numCompletedTasks
            failed += s.numFailedTasks
    return len(jobs), stages, tasks, failed


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op, so
    untraced runs time the bare calls."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, layer: str):
        """Time one call under a fresh job group. A caller whose jobs run
        under another group (a stream's micro-batches run under the
        query's run id) sets ``span.group`` to it before the span ends."""
        if not self.enabled:
            yield None
            return
        sp = Span(name, layer, f"perfbench-{next(self._ids)}", 0.0)
        if self._stack:
            self._stack[-1].children.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty(_GROUP_KEY, sp.group)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.jobs, sp.stages, sp.tasks, sp.failed_tasks = job_counts(self.sc, sp.group)
            parent = self._stack[-1].group if self._stack else None
            self.sc.setLocalProperty(_GROUP_KEY, parent)
            self.spans.append(sp)
