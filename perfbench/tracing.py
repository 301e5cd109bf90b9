"""Spans around the benchmark's calls, and the per-layer breakdown of
each span read from the Spark event log.

The benchmark is the only caller and its spans never overlap, so every
Spark job belongs to the span whose [start, end) interval contains the
job's submission time. Task metrics reach a span through their stage's
job. ``driver_gap_s`` is the part of a span's wall time that no job of
the span covers: planning, leases, file-system renames, footer counts
and Python between calls.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass, field

#: the seven metrics reported for every span, in report order
SPAN_METRICS = (
    "wall_s", "jobs", "task_s", "gc_s", "shuffle_write_mb", "output_mb",
    "driver_gap_s",
)
_MB = 1e6


@dataclass
class Span:
    name: str
    op: int
    t0: float  # epoch seconds
    t1: float

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


class SpanRecorder:
    """Spans kept in memory. ``begin`` closes the open span and opens the
    next one, so spans that only know where they start (the corpus
    stages) tile the op; ``span`` is the begin/end pair for a call."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = -1
        self._open: tuple[str, float] | None = None

    def begin(self, name: str) -> None:
        now = time.time()
        self._close(now)
        self._open = (name, now)

    def end(self) -> None:
        self._close(time.time())

    def _close(self, now: float) -> None:
        if self._open is not None:
            name, t0 = self._open
            self.spans.append(Span(name, self.op, t0, now))
            self._open = None

    def span(self, name: str):
        return _SpanContext(self, name)

    def of_op(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]


class _SpanContext:
    def __init__(self, rec: SpanRecorder, name: str) -> None:
        self.rec, self.name = rec, name

    def __enter__(self):
        self.rec.begin(self.name)
        return self

    def __exit__(self, *exc) -> None:
        self.rec.end()


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float | None = None
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0


def read_jobs(path: str) -> list[Job]:
    """Jobs of one uncompressed, non-rolling Spark event log, each with
    the summed metrics of the tasks of its stages. A stage listed by
    several jobs (a reused shuffle) belongs to the first that lists it;
    later jobs skip it and run no tasks for it."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue  # a torn last line of a log still being written
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = Job(jid, ev["Submission Time"] / 1000.0)
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                if job is None:
                    continue
                m = ev.get("Task Metrics") or {}
                job.tasks += 1
                job.task_s += m.get("Executor Run Time", 0) / 1000.0
                job.gc_s += m.get("JVM GC Time", 0) / 1000.0
                job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                job.output_bytes += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
    return sorted(jobs.values(), key=lambda j: j.submit)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class Attribution:
    #: one dict of SPAN_METRICS (plus name/op/tasks) per recorded span
    spans: list[dict] = field(default_factory=list)
    #: jobs submitted outside every span (set-up, checks, warm-up)
    unattributed_jobs: int = 0


def attribute(spans: list[Span], jobs: list[Job]) -> Attribution:
    out = Attribution()
    ordered = sorted(spans, key=lambda s: s.t0)
    per_span: list[list[Job]] = [[] for _ in ordered]
    for job in jobs:
        for k, s in enumerate(ordered):
            if s.t0 <= job.submit < s.t1:
                per_span[k].append(job)
                break
        else:
            out.unattributed_jobs += 1
    for s, js in zip(ordered, per_span):
        busy = _covered(
            [(max(j.submit, s.t0), min(j.end or s.t1, s.t1)) for j in js]
        )
        out.spans.append(
            {
                "name": s.name,
                "op": s.op,
                "wall_s": s.wall_s,
                "jobs": len(js),
                "tasks": sum(j.tasks for j in js),
                "task_s": sum(j.task_s for j in js),
                "gc_s": sum(j.gc_s for j in js),
                "shuffle_write_mb": sum(j.shuffle_write_bytes for j in js) / _MB,
                "output_mb": sum(j.output_bytes for j in js) / _MB,
                "driver_gap_s": max(0.0, s.wall_s - busy),
            }
        )
    return out


def span_medians(rows: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name, the median of each metric over its occurrences."""
    names = sorted({r["name"] for r in rows})
    return {
        n: {
            m: statistics.median(r[m] for r in rows if r["name"] == n)
            for m in SPAN_METRICS
        }
        for n in names
    }
