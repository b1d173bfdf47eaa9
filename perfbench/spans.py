"""Spans recorded around calls into the program's layers, and the
Spark event log that attributes jobs to them.

A span has a name, a start and end (epoch seconds, so they line up
with the event log's millisecond timestamps), the span that caused it
and the run's trace id. Spans are kept in memory and written out once
at the end. With tracing off, `span()` records nothing.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, trace_id: str, enabled: bool):
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, time.time(),
                 parent=self._stack[-1].id if self._stack else None,
                 trace=self.trace_id, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's self time: its duration minus the part of its interval
    that its child spans cover (overlapping children count once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        cover = [(max(c.start, s.start), min(c.end, s.end))
                 for c in kids.get(s.id, [])]
        out[s.id] = s.dur - union_length([c for c in cover if c[1] > c[0]])
    return out


def innermost(spans: list[Span], t: float) -> Span | None:
    """The deepest span whose interval contains time t. Spans nest, so
    among the spans containing t the one that started last is the
    deepest."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def descendants(spans: list[Span], root: Span) -> set[int]:
    out, todo = {root.id}, [root.id]
    while todo:
        pid = todo.pop()
        for s in spans:
            if s.parent == pid and s.id not in out:
                out.add(s.id)
                todo.append(s.id)
    return out


# ------------------------------------------------------------ event log

@dataclass
class Job:
    id: int
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    props: dict = field(default_factory=dict)
    run_s: float = 0.0            # sum of task executor run time
    shuffle_write: int = 0
    spill: int = 0
    span: int | None = None       # attributed span id

    @property
    def streaming(self) -> bool:
        return "sql.streaming.queryId" in self.props


class EventLog:
    """Jobs, their task totals and streaming progress events parsed
    from the event log files in one directory."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, Job] = {}
        self.progress: list[dict] = []
        stage_job: dict[int, int] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event", "")
                    if kind == "SparkListenerJobStart":
                        j = Job(ev["Job ID"], ev["Submission Time"] / 1e3,
                                stages=list(ev.get("Stage IDs", [])),
                                props=ev.get("Properties") or {})
                        self.jobs[j.id] = j
                        for sid in j.stages:
                            stage_job[sid] = j.id
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in self.jobs:
                            self.jobs[ev["Job ID"]].end = \
                                ev["Completion Time"] / 1e3
                    elif kind == "SparkListenerTaskEnd":
                        j = self.jobs.get(stage_job.get(ev["Stage ID"]))
                        m = ev.get("Task Metrics")
                        if j is None or not m:
                            continue
                        j.run_s += m.get("Executor Run Time", 0) / 1e3
                        j.shuffle_write += m.get(
                            "Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0)
                        j.spill += (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0))
                    elif kind.endswith("QueryProgressEvent"):
                        self.progress.append(ev["progress"])

    def attribute(self, spans: list[Span]) -> None:
        """Assign each job to the innermost span open at its
        submission. Each workload has one client, so submission time
        identifies the caller even where the program drops job tags."""
        for j in self.jobs.values():
            s = innermost(spans, j.submit)
            j.span = s.id if s is not None else None

    def jobs_in(self, ids: set[int]) -> list[Job]:
        return [j for j in self.jobs.values() if j.span in ids]

    def stage_count(self, jobs: list[Job]) -> int:
        return sum(len(j.stages) for j in jobs)
