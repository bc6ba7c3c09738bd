"""Spans recorded around each call into the package, and the Spark event
log that attributes jobs, stages and task metrics to them.

A span sets the Spark job group to its own id while it is open, so
every job it starts carries that id in the event log.  Spans are kept
in memory and written out when the run ends.
"""

from __future__ import annotations

import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    span_id: str
    parent: str | None
    run_id: str
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``sc`` given, each span owns a Spark job group."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"{self.run_id}:{next(self._ids)}", parent.span_id if parent else None, self.run_id, time.time())
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.span_id, s.name)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans], indent=1))


# ---------------------------------------------------------------------------
# interval arithmetic
# ---------------------------------------------------------------------------


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part its child spans cover."""
    children = [(c.start, c.end) for c in spans if c.parent == span.span_id]
    return span.duration - covered(children, span.start, span.end)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    group: str | None
    start: float  # epoch seconds
    end: float | None = None
    sql_execution: str | None = None
    call_site: str = ""


@dataclass
class GroupTotals:
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    disk_spill_bytes: int = 0
    tasks: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_group: dict[int, str | None] = field(default_factory=dict)
    totals: dict[str, GroupTotals] = field(default_factory=lambda: defaultdict(GroupTotals))

    @classmethod
    def load(cls, log_dir: Path) -> EventLog:
        """Parse every uncompressed event file under ``log_dir`` (plain
        files and Spark 4's rolling ``eventlog_v2_*`` directories)."""
        log = cls()
        for f in sorted(p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith((".", "appstatus"))):
            with open(f) as fh:
                log.feed(json.loads(line) for line in fh if line.strip())
        return log

    def feed(self, events) -> None:
        stage_group = self.stage_group
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = Job(
                    props.get("spark.jobGroup.id"),
                    e["Submission Time"] / 1000.0,
                    sql_execution=props.get("spark.sql.execution.id"),
                    call_site=props.get("callSite.short") or "",
                )
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(e["Job ID"])
                if job is not None:
                    job.end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"])
                m = e.get("Task Metrics")
                if group is None or not m:
                    continue
                t = self.totals[group]
                t.tasks += 1
                t.cpu_ns += m.get("Executor CPU Time", 0)
                t.disk_spill_bytes += m.get("Disk Bytes Spilled", 0)
                t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)

    def jobs_of(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]

    def actions_of(self, group: str, prefix: str) -> int:
        """Distinct driver actions (SQL executions) in ``group`` whose
        call site starts with ``prefix``, e.g. ``"collect at"``."""
        return len({j.sql_execution for j in self.jobs_of(group) if j.call_site.startswith(prefix)})


def step_fields(span: Span, log: EventLog) -> dict[str, float]:
    """The per-step layer numbers for one span."""
    jobs = log.jobs_of(span.span_id)
    busy = covered([(j.start, j.end if j.end is not None else span.end) for j in jobs], span.start, span.end)
    t = log.totals.get(span.span_id, GroupTotals())
    return {
        "s": span.duration,
        "jobs": float(len(jobs)),
        "task_cpu_s": t.cpu_ns / 1e9,
        "outside_jobs_s": span.duration - busy,
        "shuffle_write_mb": t.shuffle_write_bytes / MB,
        "spill_disk_mb": t.disk_spill_bytes / MB,
    }
