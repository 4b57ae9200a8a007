"""In-memory span tracer for the traced benchmark run.

A span records (name, start, end, parent, trace id). Spans open around calls
into the package's public functions, from the benchmark's side; nothing inside
the package is instrumented. Each span sets its own Spark job group, so the
jobs, tasks and failed tasks that ran while it was the innermost open span are
read back from the SparkContext's status tracker when the trace is finished.

A span's layer is the part of its name before the first dot, so the spans
`spatial_join.build` and `spatial_join.refine` both count for `spatial_join`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None  # index of the parent span in the trace
    trace_id: str
    job_group: str = ""
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    self_s: float = 0.0
    extra_job_ids: list[int] = field(default_factory=list)  # jobs run under another group

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span: its duration minus the part of its interval that
    its direct children cover (children clipped to the parent)."""
    kids: list[list[tuple[float, float]]] = [[] for _ in spans]
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids[s.parent].append((lo, hi))
    return [(s.end - s.start) - _covered(kids[i]) for i, s in enumerate(spans)]


class Tracer:
    """Collects spans in memory; `finish()` computes self times and job counts."""

    def __init__(self, spark, trace_id: str):
        self.sc = spark.sparkContext if spark is not None else None
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._open: list[int] = []  # indices of the spans open now, innermost last

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.job_group, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(
            name=name, start=time.perf_counter(), end=None, parent=parent,
            trace_id=self.trace_id, job_group=f"{self.trace_id}/{len(self.spans)}/{name}",
        )
        self._open.append(len(self.spans))
        self.spans.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            self._set_group(self.spans[parent] if parent is not None else None)

    def record(self, name: str, start: float, end: float) -> Span:
        """A span timed before the tracer existed (the session start)."""
        s = Span(name=name, start=start, end=end, parent=None, trace_id=self.trace_id)
        self.spans.append(s)
        return s

    def _drain(self) -> None:
        from py4j.protocol import Py4JError

        try:  # job and stage status reach the tracker through the listener bus
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # an internal API; fall back to a short wait
            time.sleep(1.0)

    def jobs_in_group(self, group: str) -> set[int]:
        """Ids of the jobs run so far under a job group set outside the tracer
        (a streaming query runs its batches under its run id)."""
        self._drain()
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def _count_jobs(self) -> None:
        self._drain()
        tracker = self.sc.statusTracker()
        for s in self.spans:
            ids = list(tracker.getJobIdsForGroup(s.job_group)) if s.job_group else []
            for job_id in ids + s.extra_job_ids:
                s.jobs += 1
                job = tracker.getJobInfo(job_id)
                for stage_id in (job.stageIds if job else ()):
                    stage = tracker.getStageInfo(stage_id)
                    if stage is not None:
                        s.tasks += stage.numCompletedTasks
                        s.failed_tasks += stage.numFailedTasks

    def finish(self) -> None:
        if self.sc is not None:
            self._count_jobs()
        for s, t in zip(self.spans, self_times(self.spans)):
            s.self_s = t

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per layer: summed self seconds, jobs, tasks and failed tasks."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            d = out.setdefault(s.layer, {"self_s": 0.0, "jobs": 0, "tasks": 0, "failed_tasks": 0})
            d["self_s"] += s.self_s
            d["jobs"] += s.jobs
            d["tasks"] += s.tasks
            d["failed_tasks"] += s.failed_tasks
        return out

    def write(self, path: str, extra: dict | None = None) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = []
        for s in self.spans:
            d = asdict(s)
            d["parent_name"] = self.spans[s.parent].name if s.parent is not None else None
            d["start"] = round(s.start - t0, 6)
            d["end"] = round(s.end - t0, 6)
            d["self_s"] = round(s.self_s, 6)
            rows.append(d)
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": rows, **(extra or {})}, f, indent=1)
