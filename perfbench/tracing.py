"""Spans, job-group attribution and Spark event-log parsing.

A `Tracer` records one span per layer call the benchmark makes: name,
start, end and parent, kept in memory and written out when the run ends.
While a span is open its id is the Spark job group, so every job the
call starts carries the span's id in the event log. Jobs that carry no
group of ours (streaming micro-batches run under the query's own group)
go to the innermost span whose interval holds their submission time.
An untraced run uses `Tracer(enabled=False)`, which times the same calls
but sets no job group.

`parse_event_log` reduces a Spark event log to jobs (group, submission
time, stages), stages (executor run time, shuffle write and spill bytes)
and SQL executions (duration and output path).
"""

from __future__ import annotations

import json
import math
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = math.nan

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if not (self.enabled and self.sc is not None):
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb-{sp.id}", sp.name)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the time its direct children cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == sp.id)
        covered, cur_end = 0.0, -math.inf
        for a, b in kids:
            a = max(a, cur_end)
            if b > a:
                covered += b - a
                cur_end = b
        return sp.s - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "id": s.id,
                        "name": s.name,
                        "parent": s.parent,
                        "start": s.start,
                        "end": s.end,
                        "self_s": self.self_time(s),
                    }
                    for s in self.spans
                ],
                fh,
            )


# ---------------------------------------------------------------- event log

_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_b",
    "internal.metrics.memoryBytesSpilled": "spill_b",
    "internal.metrics.diskBytesSpilled": "spill_b",
}
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
# the write command's details in the formatted physical plan:
#   (3) Execute InsertIntoHadoopFsRelationCommand
#   Input: []
#   Arguments: file:/.../bronze/raw, false, Parquet, ...
_OUT_PATH = re.compile(r"\) Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: ([^,\s]+)")


@dataclass
class Job:
    id: int
    group: str | None
    submitted: float  # epoch seconds
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: list[Job]
    stages: dict[int, dict]  # stage id -> {run_ms, shuffle_write_b, spill_b}
    sql: list[dict]  # {id, start, end, path}

    def stage_totals(self, jobs: list[Job]) -> dict:
        tot = {"run_ms": 0, "shuffle_write_b": 0, "spill_b": 0}
        for sid in {s for j in jobs for s in j.stages}:
            for k, v in self.stages.get(sid, {}).items():
                tot[k] += v
        return tot


def parse_event_log(lines) -> EventLog:
    jobs, stages, sql_start, sql_end = [], {}, {}, {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs.append(Job(ev["Job ID"], group, ev["Submission Time"] / 1000, ev["Stage IDs"]))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            m = {"run_ms": 0, "shuffle_write_b": 0, "spill_b": 0}
            for acc in info.get("Accumulables", []):
                key = _ACC.get(acc.get("Name"))
                if key:
                    m[key] += int(acc.get("Value", 0))
            # a retried stage attempt replaces, not adds to, the first
            stages[info["Stage ID"]] = m
        elif kind == _SQL_START:
            found = _OUT_PATH.search(ev.get("physicalPlanDescription", ""))
            sql_start[ev["executionId"]] = (ev["time"] / 1000, found.group(1) if found else None)
        elif kind == _SQL_END:
            sql_end[ev["executionId"]] = ev["time"] / 1000
    sql = [
        {"id": i, "start": t0, "end": sql_end[i], "path": path}
        for i, (t0, path) in sorted(sql_start.items())
        if i in sql_end
    ]
    return EventLog(jobs, stages, sql)


def attribute(tracer: Tracer, log: EventLog) -> dict[int, list[Job]]:
    """Jobs per span id: by job group when the group is one of ours,
    else by the innermost span open at the job's submission time."""
    by_span: dict[int, list[Job]] = {s.id: [] for s in tracer.spans}
    for job in log.jobs:
        sid = None
        if job.group and job.group.startswith("pb-"):
            sid = int(job.group[3:])
        else:
            open_ = [s for s in tracer.spans if s.start <= job.submitted <= s.end]
            if open_:
                sid = max(open_, key=lambda s: s.start).id
        if sid in by_span:
            by_span[sid].append(job)
    return by_span


# ---------------------------------------------------------------- statistics


def median(xs: list[float]) -> float:
    ys = sorted(xs)
    n = len(ys)
    return ys[n // 2] if n % 2 else (ys[n // 2 - 1] + ys[n // 2]) / 2


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile, p in [0, 100]."""
    ys = sorted(xs)
    k = (len(ys) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(ys) - 1)
    return ys[lo] + (ys[hi] - ys[lo]) * (k - lo)


TAIL_PCTS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest of TAIL_PCTS whose nearest-rank sample still has at
    least `beyond` of `n` samples above it (p75 of 40 samples is the
    30th, with 10 above), or None when even the median has fewer."""
    for p in TAIL_PCTS:
        if n - math.ceil(n * p / 100 - 1e-9) >= beyond:
            return p
    return None
