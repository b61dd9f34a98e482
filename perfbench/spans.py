"""Span recording and the statistics the benchmark reports.

A `Tracer` keeps spans in memory — name, start, end, parent span and op
id — and is written out once when the run ends.  Spans are opened only
by the benchmark's own code, around calls into the program's public
functions; nothing inside the package is instrumented.

`stage_totals` reads Spark's own status store for the jobs a job group
ran, so per-task counters (CPU, input, shuffle) come from the engine and
not from timers of ours.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory span recorder.  Disabled tracers record nothing, so the
    untraced path pays one attribute check per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(len(self.spans), name, time.perf_counter(), math.nan, parent, op)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its children cover.  A tracer nests
    spans on one stack, so the children of a span never overlap."""
    out = {s.id: s.end - s.start for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.end - s.start
    return out


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile that still has at least ten samples above
    it: with n sorted samples that is the (n-10)-th one, at percentile
    100*(n-10)/n.  Returns (value, percentile, n).  Fewer than eleven
    samples leave nothing with ten beyond it; the maximum is returned at
    percentile 100 so the metric stays defined, and the sample count
    beside it says so."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------

@contextmanager
def job_group(spark, group: str):
    """Tag the jobs started inside the block with `group`."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


STAGE_FIELDS = ("jobs", "tasks", "failed_tasks", "run_s", "task_cpu_s", "input_mb",
                "shuffle_write_mb")


def stage_totals(spark, group: str) -> dict[str, float]:
    """Sum the status store's per-stage task metrics over every job the
    job group ran.  Stage attempts beyond the first are included, so
    retried work is counted."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    job_ids = tracker.getJobIdsForGroup(group)
    out["jobs"] = float(len(job_ids))
    mb = 1024.0 * 1024.0
    for jid in job_ids:
        job = tracker.getJobInfo(jid)
        if job is None:
            continue
        for sid in job.stageIds:
            attempts = store.stageData(sid, False, None, False, None)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["input_mb"] += st.inputBytes() / mb
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / mb
    return out
