"""In-memory span recorder for the traced run.

A span has a name, a layer, a start, an end and the span that caused it.
Each span runs its Spark jobs under a job group of its own, so the jobs,
stages and tasks it caused can be read back from ``statusTracker`` once
the pass is over. Spans stay in memory and are written out at exit.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}", span.name)

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, 0.0, parent=parent.id if parent else None)
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(parent)

    def count_jobs(self, spans: list[Span]) -> None:
        """Fill each span's job/stage/task counts from ``statusTracker``.

        Called after the pass, once the listener bus has caught up, so the
        counts do not depend on how fast the bus drains."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for s in spans:
            jobs = tracker.getJobIdsForGroup(f"perfbench-{s.id}")
            stages = tasks = failed = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks
                        failed += st.numFailedTasks
            s.counts.update(jobs=len(jobs), stages=stages, tasks=tasks, failed_tasks=failed)

    def subtree(self, root: Span) -> list[Span]:
        ids, out = {root.id}, [root]
        for s in self.spans[root.id + 1 :]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def self_seconds(self, root: Span) -> dict[str, float]:
        """Self time per layer under ``root``: each span's duration minus
        the time its children cover. The layers sum to ``root.seconds``."""
        spans = self.subtree(root)
        child_s: dict[int, float] = {}
        for s in spans[1:]:
            child_s[s.parent] = child_s.get(s.parent, 0.0) + s.seconds
        out: dict[str, float] = {}
        for s in spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.seconds - child_s.get(s.id, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=0)
