"""Spans and Spark job accounting, recorded from the benchmark's side.

Every timed operation is an ``op`` span. In a traced run each span also
gets its own Spark job group, and after the op ends the collector reads
the driver's status store (``statusTracker()`` for job ids and
``statusStore().job`` / ``lastStageAttempt`` for intervals and task
metrics) to attribute jobs, stages, tasks, CPU, GC, shuffle bytes and
spill to the span that launched them. Spans stay in memory and are
written out once, when the run ends.

An untraced run keeps only the op spans and reads the scheduler's job
and stage counters (two calls per op), so its timings carry no tracing
cost.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# summed per span over the Spark stages its jobs ran (StageData getters)
STAGE_FIELDS = {
    "tasks": lambda sd: sd.numCompleteTasks() + sd.numFailedTasks(),
    "task_run_s": lambda sd: sd.executorRunTime() / 1e3,
    "task_cpu_s": lambda sd: sd.executorCpuTime() / 1e9,
    "gc_s": lambda sd: sd.jvmGcTime() / 1e3,
    "shuffle_read_bytes": lambda sd: sd.shuffleReadBytes(),
    "shuffle_write_bytes": lambda sd: sd.shuffleWriteBytes(),
    "spill_bytes": lambda sd: sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
    "output_bytes": lambda sd: sd.outputBytes(),
}


@dataclass
class Span:
    id: int
    name: str
    kind: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    job_intervals: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        d = {k: getattr(self, k) for k in ("id", "name", "kind", "parent", "start", "end", "jobs", "stages")}
        d.update(self.metrics)
        return d


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seen_stages: set[int] = set()

    def counters(self) -> tuple[int, int]:
        """(jobs, stages) submitted so far in this SparkContext."""
        dag = self._jsc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId()

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}", f"{span.kind}:{span.name}")

    @contextmanager
    def span(self, name: str, kind: str):
        """Time a block. ``kind == "op"`` marks a top-level operation,
        which is recorded in every run; nested spans only when traced."""
        if kind != "op" and not self.traced:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, kind, parent.id if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        c0 = self.counters() if kind == "op" else None
        if self.traced:
            self._set_group(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.traced:
                self._set_group(parent)
            if kind == "op":
                c1 = self.counters()
                s.metrics["jobs_total"] = c1[0] - c0[0]
                s.metrics["stages_total"] = c1[1] - c0[1]
                if self.traced:
                    self._collect(s)

    def _collect(self, op: Span) -> None:
        """Attribute the op's Spark jobs to its spans (traced runs only)."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        tracker, store = self.sc.statusTracker(), self._jsc.statusStore()
        for s in self.spans[op.id:]:
            for jid in tracker.getJobIdsForGroup(f"perfbench-{s.id}"):
                s.jobs += 1
                jd = store.job(jid)
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    s.job_intervals.append((
                        jd.submissionTime().get().getTime() / 1e3,
                        jd.completionTime().get().getTime() / 1e3,
                    ))
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    if sid in self._seen_stages:
                        continue
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() not in ("COMPLETE", "FAILED"):
                        continue  # skipped: its output came from an earlier stage
                    self._seen_stages.add(sid)
                    s.stages += 1
                    for k, get in STAGE_FIELDS.items():
                        s.metrics[k] = s.metrics.get(k, 0) + get(sd)

    def last_op(self) -> Span | None:
        return next((s for s in reversed(self.spans) if s.kind == "op"), None)

    def subtree(self, root: Span) -> list[Span]:
        ids = {root.id}
        out = [root]
        for s in self.spans[root.id + 1:]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def op_layers(self, op: Span) -> dict:
        """Inclusive layer numbers for one traced op."""
        sub = self.subtree(op)
        out = {"jobs": sum(s.jobs for s in sub), "stages": sum(s.stages for s in sub)}
        for k in STAGE_FIELDS:
            out[k] = sum(s.metrics.get(k, 0) for s in sub)
        intervals = [iv for s in sub for iv in s.job_intervals]
        out["job_wall_s"] = union_length(intervals, op.start, op.end)
        out["driver_self_s"] = op.wall_s - out["job_wall_s"]
        out["wall_s"] = op.wall_s
        out["children_s"] = sum(s.wall_s for s in sub if s.parent == op.id)
        return out

    def dump(self) -> list[dict]:
        return [s.as_dict() for s in self.spans]
