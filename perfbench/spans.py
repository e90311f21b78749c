"""In-memory spans, Spark event-log attribution and self-time arithmetic.

A ``Tracer`` records one span per call into a layer from the benchmark's own
code and tags every Spark job started inside it with
``sc.setJobGroup("<pass>/<span path>")``.  ``EventLog`` reads the
JSON-lines event log Spark writes (``spark.eventLog.enabled``) and sums the
task metrics of the jobs whose group falls under a span.  ``NullTracer`` is
the untraced stand-in: the same calls, no recording, no job groups.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    pass_id: str
    path: str  # "/"-joined names of the enclosing spans and this one
    start: float
    end: float | None = None

    @property
    def group(self) -> str:
        return f"{self.pass_id}/{self.path}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced runs: spans cost one generator frame and record nothing."""

    pass_id = ""

    @contextmanager
    def span(self, name: str):
        yield


class Tracer:
    """Records spans in memory; each open span names the Spark job group."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.pass_id = ""
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def open(self, name: str) -> Span:
        path = f"{self._stack[-1].path}/{name}" if self._stack else name
        s = Span(self.pass_id, path, time.perf_counter())
        self._stack.append(s)
        self.sc.setJobGroup(s.group, path)
        return s

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.remove(span)
        self.spans.append(span)
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(top.group, top.path)
        else:
            self.sc.setJobGroup(f"{self.pass_id}/-", "untraced")

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def durations(self, path: str) -> list[float]:
        """Seconds of every closed span with this path, in pass order."""
        return [s.seconds for s in self.spans if s.path == path]


def prefix_self_times(prefix_walls: dict[str, float], order: list[str]) -> dict[str, float]:
    """Cumulative-prefix method: layer k's self time is prefix_k − prefix_{k−1}.

    ``prefix_walls[layer]`` is the wall of running the chain up to and
    including ``layer``; a layer missing from the dict did no work and gets
    self time 0 (its prefix equals the previous one)."""
    out, prev = {}, 0.0
    for layer in order:
        if layer in prefix_walls:
            out[layer] = prefix_walls[layer] - prev
            prev = prefix_walls[layer]
        else:
            out[layer] = 0.0
    return out


@dataclass
class TaskTotals:
    """Task metrics summed over a set of jobs."""

    jobs: int = 0
    stages: int = 0
    single_task_stages: int = 0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0
    # Σ over stages of the slowest task's run time; divided by
    # executor_run_s it is the slowest task's share of its stage
    max_task_run_s: float = 0.0

    @property
    def max_task_share(self) -> float:
        return self.max_task_run_s / self.executor_run_s if self.executor_run_s else 0.0


@dataclass
class EventLog:
    """Per-job groups and per-stage task metrics of one Spark event log."""

    job_group: dict[int, str] = field(default_factory=dict)
    job_stages: dict[int, list[int]] = field(default_factory=lambda: defaultdict(list))
    completed_stages: dict[int, int] = field(default_factory=dict)  # stage → attempt tasks
    stage_tasks: dict[int, list[dict]] = field(default_factory=lambda: defaultdict(list))

    @classmethod
    def parse(cls, lines) -> "EventLog":
        log = cls()
        for line in lines:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                log.job_group[ev["Job ID"]] = props.get("spark.jobGroup.id", "")
                log.job_stages[ev["Job ID"]] = list(ev.get("Stage IDs", []))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Failure Reason" not in info:
                    log.completed_stages[info["Stage ID"]] = info["Number of Tasks"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if m and ev.get("Task End Reason", {}).get("Reason") == "Success":
                    log.stage_tasks[ev["Stage ID"]].append(m)
        return log

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as f:
            return cls.parse(f)

    def totals(self, group_prefix: str) -> TaskTotals:
        """Sum over every job whose group is ``group_prefix`` or lies under it."""
        t = TaskTotals()
        # a stage listed by several jobs (a reused shuffle) ran in the first
        owner: dict[int, int] = {}
        for job in sorted(self.job_stages):
            for sid in self.job_stages[job]:
                owner.setdefault(sid, job)
        jobs = {
            job for job, group in self.job_group.items()
            if group == group_prefix or group.startswith(group_prefix + "/")
        }
        t.jobs = len(jobs)
        for sid in sorted(s for s, job in owner.items() if job in jobs and s in self.completed_stages):
            tasks = self.stage_tasks.get(sid, [])
            t.stages += 1
            t.single_task_stages += self.completed_stages[sid] == 1
            runs = [m["Executor Run Time"] / 1e3 for m in tasks]
            t.executor_run_s += sum(runs)
            t.max_task_run_s += max(runs, default=0.0)
            for m in tasks:
                t.executor_cpu_s += m["Executor CPU Time"] / 1e9
                t.gc_s += m["JVM GC Time"] / 1e3
                t.spill_bytes += m["Disk Bytes Spilled"]
                sr = m.get("Shuffle Read Metrics", {})
                t.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                t.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                t.input_records += m.get("Input Metrics", {}).get("Records Read", 0)
        return t
