"""Spans around the benchmark's calls into each layer, and the Spark status
store's execution statistics for the jobs each span ran.

A span sets ``SparkContext.setJobGroup`` to its own id before the call and
restores the enclosing span's group after it, so every job a call launches is
tagged with the innermost span.  After the pass, ``layer_stats`` waits for the
listener bus to drain and sums, per layer, the stage statistics of the tagged
jobs: executor run and CPU time, GC time, shuffle bytes, spill, task count and
the slowest task.  Spans are kept in memory and written as one JSON file by
``write``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1 << 20


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict = field(default_factory=dict)


@dataclass
class LayerStats:
    s: float = 0.0  # wall time of the layer's spans, children excluded
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    input_records: int = 0
    tasks: int = 0
    max_task_s: float = 0.0
    calls: int = 0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans for one run.  ``enabled=False`` makes ``span`` a plain
    pass-through, so the untraced pass runs exactly the production calls."""

    def __init__(self, spark, run_id: str, enabled: bool = True) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _group(self, idx: int) -> str:
        return f"{self.run_id}/{idx}"

    @contextmanager
    def span(self, name: str):
        """Yields the span's ``counts`` dict for the caller to fill."""
        if not self.enabled:
            yield {}
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(name, time.perf_counter(), parent=parent)
        self.spans.append(span)
        self._stack.append(idx)
        self.sc.setJobGroup(self._group(idx), name)
        try:
            yield span.counts
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(self._group(parent), self.spans[parent].name)

    def self_time(self, idx: int) -> float:
        """Span duration minus the part its direct children cover."""
        span = self.spans[idx]
        children = sum(s.end - s.start for s in self.spans if s.parent == idx)
        return span.end - span.start - children

    def layer_stats(self) -> dict[str, LayerStats]:
        """Per span name: self time, counts, and the status store's stage
        statistics of the jobs tagged with that span's groups."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        stages_of: dict[str, set[int]] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if group.isDefined() and group.get().startswith(self.run_id + "/"):
                ids = job.stageIds()
                stages_of.setdefault(group.get(), set()).update(
                    ids.apply(k) for k in range(ids.size())
                )
        out: dict[str, LayerStats] = {}
        for idx, span in enumerate(self.spans):
            st = out.setdefault(span.name, LayerStats())
            st.s += self.self_time(idx)
            st.calls += 1
            for k, v in span.counts.items():
                st.counts[k] = st.counts.get(k, 0) + v
            for stage_id in stages_of.get(self._group(idx), ()):
                _add_stage(store, stage_id, st)
        return out

    def write(self, path: str, layers: dict[str, LayerStats], extra: dict) -> None:
        doc = {
            "run_id": self.run_id,
            "spans": [
                {
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "parent": s.parent,
                    "run_id": self.run_id,
                    "counts": s.counts,
                }
                for s in self.spans
            ],
            "layers": {k: vars(v) for k, v in layers.items()},
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)


def _add_stage(store, stage_id: int, st: LayerStats) -> None:
    try:
        sd = store.lastStageAttempt(stage_id)
    except Py4JJavaError:  # stage evicted from the store, or never submitted
        return
    if str(sd.status()) == "SKIPPED":
        return
    st.run_s += sd.executorRunTime() / 1e3
    st.cpu_s += sd.executorCpuTime() / 1e9
    st.gc_s += sd.jvmGcTime() / 1e3
    st.shuffle_mb += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / MB
    st.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
    st.input_records += sd.inputRecords()
    st.tasks += sd.numTasks()
    tasks = store.taskList(stage_id, sd.attemptId(), sd.numTasks())
    for i in range(tasks.size()):
        d = tasks.apply(i).duration()
        if d.isDefined():
            st.max_task_s = max(st.max_task_s, d.get() / 1e3)
