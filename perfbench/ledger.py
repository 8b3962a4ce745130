"""Spans kept in memory, and a per-span roll-up of a Spark event log.

The benchmark wraps each call it makes into a crawlspark module in a
span (name, start, end, parent, run id). A traced run also writes an
uncompressed Spark event log. `rollup` assigns every Spark job to the
innermost span whose time window contains the job's submission time,
then sums the job's stages and tasks into that span's row. Window
attribution needs no job group, so jobs submitted from helper threads
(the catalog's parallel staged writes) land in the right span too.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run_id: str
    id: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; `dump` writes them out at the end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time(), 0.0, self._stack[-1] if self._stack else None,
                 self.run_id, id=len(self.spans))
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None) -> Span:
        """Record a span measured elsewhere (phase windows of a cycle)."""
        s = Span(name, start, end, parent, self.run_id, id=len(self.spans))
        self.spans.append(s)
        return s

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def dump(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(asdict(s)) for s in self.spans) + "\n")


@dataclass
class Job:
    id: int
    submit_ms: int
    stage_ids: list[int]


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    shuffle_read: int
    shuffle_write: int
    spill: int


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: dict[int, int] = field(default_factory=dict)  # completed stage -> n tasks
    tasks: list[Task] = field(default_factory=list)


def read_event_log(path: Path) -> EventLog:
    """Parse the events the ledger needs from one uncompressed log file."""
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                log.jobs.append(Job(ev["Job ID"], ev["Submission Time"], ev["Stage IDs"]))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                log.stages[info["Stage ID"]] = info["Number of Tasks"]
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                rd, wr = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                log.tasks.append(Task(
                    stage_id=ev["Stage ID"],
                    launch_ms=info["Launch Time"],
                    finish_ms=info["Finish Time"],
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    shuffle_read=rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    shuffle_write=wr.get("Shuffle Bytes Written", 0),
                    spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                ))
    return log


def find_event_log(log_dir: Path) -> Path:
    files = [p for p in Path(log_dir).iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    return files[0]


def attribute(jobs: list[Job], spans: list[Span]) -> dict[int, Span]:
    """Job id -> innermost span (latest start) containing its submission."""
    out: dict[int, Span] = {}
    for j in jobs:
        t = j.submit_ms / 1000.0
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        if best is not None:
            out[j.id] = best
    return out


@dataclass
class Row:
    """Spark work attributed to one span."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    shuffle_mb: float = 0.0  # shuffle bytes written
    spill_mb: float = 0.0
    task_ms: dict[int, list[int]] = field(default_factory=dict)  # stage -> task walls

    def task_skew(self) -> float:
        """Max over stages of (max task wall / median task wall)."""
        worst = 0.0
        for walls in self.task_ms.values():
            med = statistics.median(walls)
            if len(walls) > 1 and med > 0:
                worst = max(worst, max(walls) / med)
        return worst


def rollup(log: EventLog, spans: list[Span]) -> dict[int, Row]:
    """Span id -> Row. Each stage counts once, under the first job that
    lists it (later jobs that list it skip it and run no tasks)."""
    owner = attribute(log.jobs, spans)
    rows: dict[int, Row] = {}
    stage_span: dict[int, int] = {}
    for j in sorted(log.jobs, key=lambda j: j.id):
        s = owner.get(j.id)
        if s is None:
            continue
        rows.setdefault(s.id, Row()).jobs += 1
        for sid in j.stage_ids:
            stage_span.setdefault(sid, s.id)
    for sid, n_tasks in log.stages.items():
        if sid in stage_span:
            rows[stage_span[sid]].stages += 1
    for t in log.tasks:
        sp = stage_span.get(t.stage_id)
        if sp is None:
            continue
        r = rows[sp]
        r.tasks += 1
        r.cpu_s += t.cpu_ns / 1e9
        r.run_s += t.run_ms / 1000.0
        r.shuffle_mb += t.shuffle_write / MB
        r.spill_mb += t.spill / MB
        r.task_ms.setdefault(t.stage_id, []).append(t.finish_ms - t.launch_ms)
    return rows


def merge(rows: list[Row]) -> Row:
    out = Row()
    for r in rows:
        out.jobs += r.jobs
        out.stages += r.stages
        out.tasks += r.tasks
        out.cpu_s += r.cpu_s
        out.run_s += r.run_s
        out.shuffle_mb += r.shuffle_mb
        out.spill_mb += r.spill_mb
        for k, v in r.task_ms.items():
            out.task_ms.setdefault(k, []).extend(v)
    return out


def rows_named(rows: dict[int, Row], spans: list[Span], name: str) -> list[Row]:
    """One Row per span called `name`, including the Spark work of
    its descendant spans."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.id)

    def subtree(i: int) -> list[Row]:
        got = [rows[i]] if i in rows else []
        for c in children.get(i, []):
            got.extend(subtree(c))
        return got

    return [merge(subtree(s.id)) for s in spans if s.name == name]
