"""Spans and Spark structural counts for the traced run.

A span is (name, start, end, parent, pass id); spans stay in memory and are
written out once when the run ends. Spark counts come from the driver's
status store, read right after each phase: it works with the UI disabled,
but keeps only the last ~1000 jobs, so it is never read in bulk at the end.

Jobs are attributed to a phase by job-id range: everything submitted
between the phase's start and end belongs to it, because the benchmark runs
one phase at a time. Jobs started on driver-side thread pools count too,
even when the pool dropped the job group.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    pass_id: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkCounts:
    """Reads job and stage records for a job-id range from the status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs that just ended."""
        self.jsc.listenerBus().waitUntilEmpty()

    def _jobs(self):
        """Job records, newest first (the status store lists by descending
        job id)."""
        jobs = self.jsc.statusStore().jobsList(None)
        for i in range(jobs.size()):
            yield jobs.apply(i)

    def last_job_id(self) -> int:
        self.drain()
        return next((j.jobId() for j in self._jobs()), -1)

    def jobs_after(self, first_excluded: int, group: str | None = None) -> dict:
        """Counts over the jobs with id > ``first_excluded``."""
        self.drain()
        store = self.jsc.statusStore()
        out = dict(jobs=0, stages=0, tasks=0, shuffle_bytes=0, spill_bytes=0,
                   executor_s=0.0, ungrouped=0, spans=[])
        for j in self._jobs():
            if j.jobId() <= first_excluded:
                break
            out["jobs"] += 1
            if group is not None:
                g = j.jobGroup()
                if not g.isDefined() or g.get() != group:
                    out["ungrouped"] += 1
            start, end = _opt_s(j.submissionTime()), _opt_s(j.completionTime())
            if start is not None and end is not None:
                out["spans"].append((start, end))
            sids = j.stageIds()
            for k in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(k))
                except Exception:  # noqa: BLE001 — evicted from the store
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
                out["executor_s"] += st.executorRunTime() / 1000.0
        return out


def union_s(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records spans, each with the Spark counts of the jobs it ran
    (``counts``) and its driver gap: wall time minus the union of its
    jobs' spans."""

    def __init__(self, spark) -> None:
        self.spans: list[Span] = []
        self.counts = SparkCounts(spark)
        self.pass_id = 0
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """A span around the block; ``group`` also tags its jobs' group."""
        first = self.counts.last_job_id()
        if group:
            self.counts.sc.setJobGroup(group, group)
        span = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                    pass_id=self.pass_id)
        self._stack.append(name)
        try:
            yield span
        finally:
            span.end = time.time()
            self._stack.pop()
            if group:
                self.counts.sc.setLocalProperty("spark.jobGroup.id", None)
            span.counts = self.counts.jobs_after(first, group)
            span.counts["driver_gap_s"] = span.wall - union_s(span.counts["spans"], span.start, span.end)
            self.spans.append(span)

    def self_time(self, span: Span) -> float:
        kids = [s for s in self.spans if s.parent == span.name and s.pass_id == span.pass_id]
        return span.wall - sum(k.wall for k in kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, "pass": s.pass_id,
                                    "self_s": self.self_time(s),
                                    **{k: v for k, v in s.counts.items() if k != "spans"}}) + "\n")
