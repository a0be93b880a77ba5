"""Spans around the benchmark's calls into the engine, and attribution
of a Spark event log to them.

The benchmark wraps each public call it makes (``read_vcf``,
``write_vcfdb``, ``filter_test``, ...) in a span.  After the session
stops, every Spark job in the event log is assigned to the innermost
span that contains its submission time, and its tasks' run time and
byte counts go with it.  Attribution is by time, not by job group: the
engine's concurrent write pools submit jobs from threads that do not
inherit the caller's thread-local job group.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float
    depth: int

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000

    def contains(self, t_ms: float) -> bool:
        return self.start_ms <= t_ms <= self.end_ms


class Tracer:
    """Records nested spans on the wall clock the JVM also stamps
    event-log times with (milliseconds since the epoch)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._depth = 0

    @contextmanager
    def span(self, name: str):
        start = time.time() * 1000
        depth = self._depth
        self._depth += 1
        try:
            yield
        finally:
            self._depth -= 1
            self.spans.append(Span(name, start, time.time() * 1000, depth))


@dataclass
class Job:
    job_id: int
    submit_ms: float
    end_ms: float
    stages: list[int]
    task_s: float = 0.0
    input_bytes: int = 0
    records_read: int = 0
    output_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(lines) -> list[Job]:
    """Jobs with their tasks' metrics summed, from event-log JSON lines.

    A task belongs to the latest job that lists its stage and was
    submitted before the task launched (a stage reused by a later job
    is listed there as skipped, but its tasks ran under the first)."""
    jobs: dict[int, Job] = {}
    by_stage: dict[int, list[Job]] = defaultdict(list)
    tasks = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"], ev["Submission Time"], ev["Submission Time"], ev["Stage IDs"])
            jobs[job.job_id] = job
            for s in job.stages:
                by_stage[s].append(job)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
    for ev in tasks:
        launch = ev.get("Task Info", {}).get("Launch Time", 0)
        owners = [j for j in by_stage.get(ev["Stage ID"], []) if j.submit_ms <= launch]
        if not owners:
            continue
        job = max(owners, key=lambda j: j.submit_ms)
        m = ev.get("Task Metrics") or {}
        job.task_s += m.get("Executor Run Time", 0) / 1000
        job.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
        job.records_read += m.get("Input Metrics", {}).get("Records Read", 0)
        job.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
        job.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.submit_ms)


def _union_ms(intervals) -> float:
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


@dataclass
class LayerStats:
    """What the jobs of one span name did, summed over its calls."""

    calls: int = 0
    wall_s: float = 0.0
    driver_s: float = 0.0  # self wall time not covered by a job
    jobs: int = 0
    task_s: float = 0.0
    input_bytes: int = 0
    records_read: int = 0
    output_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def attribute(spans: list[Span], jobs: list[Job]) -> dict[str, LayerStats]:
    """Per span name: its jobs (each to the innermost span containing
    the job's submission time) and its driver time (self wall time
    minus the union of its own jobs' runs; child spans' wall time is
    their own)."""
    owned: dict[int, list[Job]] = defaultdict(list)
    for job in jobs:
        inner = [i for i, s in enumerate(spans) if s.contains(job.submit_ms)]
        if inner:
            best = max(inner, key=lambda i: (spans[i].depth, spans[i].start_ms))
            owned[best].append(job)
    out: dict[str, LayerStats] = defaultdict(LayerStats)
    for i, sp in enumerate(spans):
        st = out[sp.name]
        mine = owned.get(i, [])
        child_ms = sum(
            c.end_ms - c.start_ms
            for c in spans
            if c.depth == sp.depth + 1 and sp.start_ms <= c.start_ms and c.end_ms <= sp.end_ms
        )
        busy_ms = _union_ms(
            (max(j.submit_ms, sp.start_ms), min(j.end_ms, sp.end_ms)) for j in mine
        )
        st.calls += 1
        st.wall_s += sp.wall_s
        st.driver_s += max(0.0, sp.end_ms - sp.start_ms - child_ms - busy_ms) / 1000
        st.jobs += len(mine)
        for j in mine:
            st.task_s += j.task_s
            st.input_bytes += j.input_bytes
            st.records_read += j.records_read
            st.output_bytes += j.output_bytes
            st.shuffle_bytes += j.shuffle_bytes
            st.spill_bytes += j.spill_bytes
    return dict(out)
