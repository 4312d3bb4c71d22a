"""Spans, the Spark event-log fold and the percentile helper.

Standard library only, so the fold runs (and is tested) without Spark.

A span is one timed call into a layer, recorded from the benchmark's own
side of the call. Spans stay in memory and are written out once, when the
run ends. The fold reads Spark's uncompressed JSON event log, sums each
job's ``TaskEnd`` metrics, and hands every job to the operation span that
started it: by job group when the job carries one, otherwise by the
submission time falling inside the operation (jobs submitted from the
pipeline runner's worker threads carry no group).
"""

from __future__ import annotations

import json
import math
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# A percentile is reported only when at least this many samples lie
# beyond it; with fewer, one slow sample decides its value.
MIN_BEYOND = 10


def percentile(values: Iterable[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile of ``values``.

    Raises ``ValueError`` when fewer than ``MIN_BEYOND`` samples rank
    above it, so a p90 needs at least 100 samples."""
    xs = sorted(values)
    n = len(xs)
    if not 0 < p < 100:
        raise ValueError(f"percentile {p} outside (0, 100)")
    rank = max(1, math.ceil(p / 100 * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{p} of {n} samples has {n - rank} beyond it; "
            f"need {MIN_BEYOND}")
    return xs[rank - 1]


@dataclass
class Span:
    """One call into a layer. ``start``/``end`` are epoch seconds;
    duration-only spans (pipeline nodes and corpus stages, whose runner
    reports seconds but no start time) have ``start`` None."""
    name: str
    kind: str
    parent: int | None
    start: float | None
    end: float | None = None
    seconds: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder on a monotonic clock mapped to epoch time
    (the event log stamps jobs and tasks in epoch milliseconds)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._perf0 = time.perf_counter()
        self._wall0 = time.time()

    def now(self) -> float:
        return self._wall0 + (time.perf_counter() - self._perf0)

    @contextmanager
    def span(self, name: str, kind: str, parent: int | None = None,
             **attrs) -> Iterator[int]:
        i = len(self.spans)
        self.spans.append(Span(name, kind, parent, self.now(), attrs=attrs))
        try:
            yield i
        finally:
            s = self.spans[i]
            s.end = self.now()
            s.seconds = s.end - s.start

    def add(self, name: str, kind: str, parent: int, seconds: float,
            **attrs) -> int:
        """Record a duration-only child span."""
        self.spans.append(Span(name, kind, parent, None, None, seconds,
                               attrs))
        return len(self.spans) - 1

    def children(self, i: int) -> list[int]:
        return [j for j, s in enumerate(self.spans) if s.parent == i]

    def self_seconds(self, i: int) -> float:
        """Duration minus the part of it that timed child spans cover."""
        s = self.spans[i]
        covered = [(c.start, c.end) for c in
                   (self.spans[j] for j in self.children(i))
                   if c.start is not None]
        return s.seconds - union_length(covered, s.start, s.end)

    def dump(self) -> list[dict]:
        return [dict(asdict(s), id=i, self_s=(self.self_seconds(i)
                                              if s.start is not None
                                              else s.seconds))
                for i, s in enumerate(self.spans)]


def union_length(intervals: Iterable[tuple[float, float]], lo: float,
                 hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
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


COUNTERS = ("stages", "tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "input_bytes", "output_bytes")


@dataclass
class Job:
    """One Spark job and the summed metrics of every task it ran."""
    job_id: int
    group: str | None
    submit_ms: int
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    task_ms: list[tuple[int, int]] = field(default_factory=list)


def read_event_log(path: str) -> Iterator[dict]:
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def fold_events(events: Iterable[dict]) -> dict[int, Job]:
    """Fold event-log records into per-job totals.

    A stage belongs to the first job that lists it; later jobs that list
    the same stage skip it and run none of its tasks."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                      ev["Submission Time"])
            jobs[job.job_id] = job
            for sid in ev.get("Stage IDs", ()):
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                jobs[stage_job[sid]].stages += 1
        elif kind == "SparkListenerTaskEnd":
            if ev["Stage ID"] not in stage_job:
                continue
            job = jobs[stage_job[ev["Stage ID"]]]
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            job.tasks += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                job.failed_tasks += 1
            job.task_ms.append((info["Launch Time"], info["Finish Time"]))
            job.run_ms += m.get("Executor Run Time", 0)
            job.cpu_ns += m.get("Executor CPU Time", 0)
            job.gc_ms += m.get("JVM GC Time", 0)
            job.spill_bytes += m.get("Disk Bytes Spilled", 0)
            job.peak_exec_mem_bytes = max(job.peak_exec_mem_bytes,
                                          m.get("Peak Execution Memory", 0))
            sr = m.get("Shuffle Read Metrics") or {}
            job.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            job.input_bytes += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            job.output_bytes += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
    return jobs


def attribute(jobs: dict[int, Job], tracer: Tracer,
              op_spans: list[int]) -> dict[int, list[Job]]:
    """Map each operation span to the jobs it started: a job whose group
    names an operation belongs to it; a job without a group belongs to the
    operation whose interval holds its submission time."""
    by_group = {tracer.spans[i].attrs["group"]: i for i in op_spans}
    out: dict[int, list[Job]] = {i: [] for i in op_spans}
    for job in jobs.values():
        i = by_group.get(job.group)
        if i is None and job.group is None:
            t = job.submit_ms / 1000
            i = next((k for k in op_spans
                      if tracer.spans[k].start <= t <= tracer.spans[k].end),
                     None)
        if i is not None:
            out[i].append(job)
    return out


def spark_totals(jobs: list[Job], start: float, end: float,
                 cores: int) -> dict[str, float]:
    """The ``spark.*`` layer metrics of the jobs run in ``[start, end]``
    (epoch seconds) on ``cores`` executor cores."""
    tot = {c: sum(getattr(j, c) for j in jobs) for c in COUNTERS}
    wall = end - start
    busy = union_length(((a / 1000, b / 1000) for j in jobs
                         for a, b in j.task_ms), start, end)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.failed_tasks": tot["failed_tasks"],
        "spark.executor_run_s": tot["run_ms"] / 1000,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9,
        "spark.task_busy_frac": tot["run_ms"] / 1000 / (wall * cores),
        "spark.no_task_frac": 1 - busy / wall,
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.spill_bytes": tot["spill_bytes"],
        "spark.input_bytes": tot["input_bytes"],
        "spark.output_bytes": tot["output_bytes"],
        "spark.peak_exec_mem_bytes": max(
            (j.peak_exec_mem_bytes for j in jobs), default=0),
    }
