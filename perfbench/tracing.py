"""Spans recorded around calls into the engine, Spark's event log, and the
attribution of Spark jobs to spans.

Spans are kept in memory and written out when the run ends. Each one has a
name, a start and an end (epoch seconds, the clock Spark's event log also
uses), a parent and the run id. Spark's task metrics come from the event
log: every job is assigned to the innermost span that was open when the
job was submitted. Submission time is the only link that also reaches jobs
started from the engine's own driver threads (build_index's stage-1 pool),
which job groups and call sites do not.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Dict, Iterable, Iterator, List, Optional, Tuple

# event-log submission times are whole milliseconds, truncated
_MS = 1e-3


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    run: str
    start: float
    end: Optional[float] = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans from one driver thread. A disabled tracer
    records nothing, so untraced runs pay only the context manager."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: List[Span] = []
        self._open: List[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Optional[Span]]:
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, parent, self.run_id, time.time())
        self.spans.append(s)
        self._open.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()


# ---------------------------------------------------------------------------
# event log

@dataclass
class Task:
    stage: int
    run_ms: int
    gc_ms: int
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: Optional[float]
    stages: List[int]
    tasks: List[Task] = field(default_factory=list)


def parse_event_log(lines: Iterable[str]) -> List[Job]:
    """Jobs with their tasks from an uncompressed, non-rolling Spark event
    log. A stage belongs to the first job that lists it; later jobs that
    list it again skipped it and ran none of its tasks."""
    jobs: Dict[int, Job] = {}
    stage_job: Dict[int, int] = {}
    tasks: List[Task] = []
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(e["Job ID"], e["Submission Time"] * _MS, None, list(e["Stage IDs"]))
            jobs[job.id] = job
            for st in job.stages:
                stage_job.setdefault(st, job.id)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] * _MS
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append(Task(
                stage=e["Stage ID"],
                run_ms=int(m.get("Executor Run Time", 0)),
                gc_ms=int(m.get("JVM GC Time", 0)),
                input_bytes=int((m.get("Input Metrics") or {}).get("Bytes Read", 0)),
                shuffle_read_bytes=int(sr.get("Remote Bytes Read", 0))
                + int(sr.get("Local Bytes Read", 0)),
                shuffle_write_bytes=int(sw.get("Shuffle Bytes Written", 0)),
                spill_bytes=int(m.get("Disk Bytes Spilled", 0)),
            ))
    for t in tasks:
        j = stage_job.get(t.stage)
        if j is not None:
            jobs[j].tasks.append(t)
    out = sorted(jobs.values(), key=lambda j: j.id)
    for j in out:
        if j.end is None:  # log cut short: the job ran to the log's end
            j.end = j.submit
    return out


# ---------------------------------------------------------------------------
# attribution

def attribute_jobs(spans: List[Span], jobs: List[Job]) -> Dict[int, List[Job]]:
    """span id -> jobs submitted while it was the innermost open span.
    Jobs submitted outside every span are dropped."""
    out: Dict[int, List[Job]] = {s.id: [] for s in spans}
    for job in jobs:
        best = None
        for s in spans:
            # a truncated millisecond may read up to 1 ms before the span
            if s.start - _MS <= job.submit <= s.end:
                if best is None or s.start >= best.start:
                    best = s
        if best is not None:
            out[best.id].append(job)
    return out


def _covered(lo: float, hi: float, intervals: Iterable[Tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
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


class Attribution:
    """Spans joined with the jobs the event log saw."""

    def __init__(self, spans: List[Span], jobs: List[Job]):
        self.spans = spans
        self.jobs = jobs
        self.direct = attribute_jobs(spans, jobs)
        self.children: Dict[int, List[Span]] = {s.id: [] for s in spans}
        for s in spans:
            if s.parent is not None:
                self.children[s.parent].append(s)

    def named(self, name: str) -> List[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree_jobs(self, span: Span) -> List[Job]:
        out = list(self.direct[span.id])
        for c in self.children[span.id]:
            out.extend(self.subtree_jobs(c))
        return out

    def self_time(self, span: Span) -> float:
        """Span time minus the part its child spans cover."""
        kids = [(c.start, c.end) for c in self.children[span.id]]
        return span.seconds - _covered(span.start, span.end, kids)

    def job_time(self, span: Span) -> float:
        """Span time during which at least one Spark job was running."""
        return _covered(span.start, span.end, ((j.submit, j.end) for j in self.jobs))

    def driver_time(self, span: Span) -> float:
        """Span time covered by no Spark job."""
        return span.seconds - self.job_time(span)

    def totals(self, span: Span) -> dict:
        """Task metrics summed over the jobs of a span and its children."""
        jobs = self.subtree_jobs(span)
        tasks = [t for j in jobs for t in j.tasks]
        return {
            "jobs": len(jobs),
            "tasks": len(tasks),
            "input_bytes": sum(t.input_bytes for t in tasks),
            "shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
            "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
            "spill_bytes": sum(t.spill_bytes for t in tasks),
            "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        }

    def task_skew(self, span: Span) -> float:
        """max / median task run time in the widest stage that reads a
        shuffle (most tasks; ties to the lower stage id). 1.0 when the span
        ran no shuffle-reading stage."""
        by_stage: Dict[int, List[Task]] = {}
        for j in self.subtree_jobs(span):
            for t in j.tasks:
                by_stage.setdefault(t.stage, []).append(t)
        shuffled = [(st, ts) for st, ts in by_stage.items()
                    if any(t.shuffle_read_bytes for t in ts)]
        if not shuffled:
            return 1.0
        _, widest = max(shuffled, key=lambda kv: (len(kv[1]), -kv[0]))
        runs = [t.run_ms for t in widest]
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 1.0

    def report(self) -> List[dict]:
        """One row per span, for the trace file."""
        rows = []
        for s in self.spans:
            row = asdict(s)
            row.update(seconds=s.seconds, self_s=self.self_time(s),
                       driver_s=self.driver_time(s),
                       direct_jobs=[j.id for j in self.direct[s.id]])
            rows.append(row)
        return rows
