"""Layer spans and Spark job-group accounting, measured from outside.

A `Tracer` wraps each call into a layer's public function.  When
tracing is on it records a span (name, layer, start, end, parent span,
trace id) and runs the call under its own Spark job group, so the jobs,
stages and tasks the call launched can be read back from
`statusTracker` and their executor time, shuffle bytes and spill from
the application status store (both work with the Spark UI disabled).
When tracing is off, `span` is a plain timer, so untraced runs pay for
nothing but two clock reads.

Stage metrics are resolved right after each top-level span closes, so
the status store never has to retain more than one operation's jobs.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# the counters resolved per span from the job group
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    trace_id: str | None
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.enabled = False
        self.sc = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._trace_id: str | None = None
        self.overhead_s = 0.0  # tracer time spent inside traced spans

    @contextmanager
    def traced(self, spark, trace_id: str):
        """Trace one operation: spans opened inside share `trace_id` and
        run under their own Spark job groups."""
        self.enabled, self.sc, self._trace_id = True, spark.sparkContext, trace_id
        try:
            yield
        finally:
            self.enabled, self.sc, self._trace_id = False, None, None

    @contextmanager
    def span(self, layer: str, name: str):
        """Time one layer call; the yielded dict gets its `wall_s`."""
        extra: dict = {}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield extra
            finally:
                extra["wall_s"] = time.perf_counter() - t0
            return
        t_enter = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=next(self._ids),
            name=name,
            layer=layer,
            trace_id=self._trace_id,
            parent=parent.span_id if parent else None,
            start=time.perf_counter(),
        )
        if self.sc is not None:
            sp.group = f"perfbench-{sp.span_id}"
            self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        t_body = time.perf_counter()
        try:
            yield extra
        finally:
            t_exit = time.perf_counter()
            sp.end = t_exit
            self._stack.pop()
            if self.sc is not None:
                if parent is not None and parent.group is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc._jsc.clearJobGroup()
            extra["wall_s"] = sp.duration
            self.spans.append(sp)
            if parent is not None:
                # the enter and exit work of a nested span lies inside
                # its parent's interval: that is the time tracing adds
                self.overhead_s += (t_body - t_enter) + (time.perf_counter() - t_exit)
            else:
                self._resolve()

    # -- job-group accounting -----------------------------------------------
    def _resolve(self) -> None:
        """Fill the Spark counters of the spans that have none yet: the
        top-level span that just closed and every span nested in it."""
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        pending = [s for s in self.spans if s.group and "jobs" not in s.counts]
        for sp in pending:
            acc = dict.fromkeys(COUNTERS, 0)
            for job_id in tracker.getJobIdsForGroup(sp.group):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                acc["jobs"] += 1
                for stage_id in info.stageIds:
                    data = store.lastStageAttempt(stage_id)
                    if data.status().toString() == "SKIPPED":
                        continue
                    acc["stages"] += 1
                    acc["tasks"] += data.numTasks()
                    acc["executor_run_s"] += data.executorRunTime() / 1000.0
                    acc["shuffle_write_bytes"] += data.shuffleWriteBytes()
                    acc["spill_bytes"] += (
                        data.memoryBytesSpilled() + data.diskBytesSpilled()
                    )
            sp.counts.update(acc)

    # -- summaries ------------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per layer: span time not covered by the span's child spans."""
        children: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent] = children.get(sp.parent, 0.0) + sp.duration
        out: dict[str, float] = {}
        for sp in self.spans:
            own = max(0.0, sp.duration - children.get(sp.span_id, 0.0))
            out[sp.layer] = out.get(sp.layer, 0.0) + own
        return out

    def named(self, name: str, trace_id: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.trace_id == trace_id]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "span_id": s.span_id,
                        "parent": s.parent,
                        "trace_id": s.trace_id,
                        "layer": s.layer,
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "counts": s.counts,
                    }
                    for s in self.spans
                ],
                fh,
                indent=1,
            )
