"""Span recorder and Spark event-log attribution for the traced run.

Spans are recorded from the benchmark's side, around calls into the
program's public functions: name, start, end, parent span and run id,
held in memory and written out once when the run ends.  Each span also
sets the Spark job group to its own id, so the jobs it submits can be
found again in the event log and their task metrics summed per span.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self, run_id: str, sc=None) -> None:
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"{self.run_id}.{len(self.spans)}",
            name=name,
            parent=parent.id if parent else None,
            run_id=self.run_id,
            start=time.time(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1].id if self._stack else None)

    def _set_group(self, gid: str | None) -> None:
        if self.sc is None:
            return
        if gid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(gid, gid)

    def self_times(self) -> dict[str, float]:
        """span id -> duration minus the part its children cover."""
        kids: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.parent:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur = 0.0, s.start
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s.id] = s.dur - covered
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "dur": s.dur, "self": selfs[s.id]}) + "\n")


# ------------------------------------------------------------ event log


@dataclass
class TaskRow:
    stage: int
    run_ms: float
    gc_ms: float
    sched_delay_ms: float
    shuffle_write: int
    spill: int


@dataclass
class EventLog:
    job_group: dict[int, str | None]   # job id -> job group
    job_submit: dict[int, float]       # job id -> submission time (s)
    stage_job: dict[int, int]          # stage id -> job that ran it
    tasks: list[TaskRow]

    def span_jobs(self, rec: Recorder) -> dict[str, set[int]]:
        """span id -> jobs it submitted: by job group when the job carries
        a span id, otherwise (streaming queries set their own group) by
        the innermost span whose interval holds the submission time."""
        ids = {s.id for s in rec.spans}
        by_span: dict[str, set[int]] = {s.id: set() for s in rec.spans}
        for job, group in self.job_group.items():
            if group in ids:
                by_span[group].add(job)
                continue
            t = self.job_submit.get(job, 0.0)
            inner = [s for s in rec.spans if s.start <= t <= s.end]
            if inner:
                by_span[max(inner, key=lambda s: s.start).id].add(job)
        return by_span

    def totals(self, jobs: set[int]) -> dict:
        stages = {st for st, j in self.stage_job.items() if j in jobs}
        tasks = [t for t in self.tasks if t.stage in stages]
        # skew of the heaviest stage: max / median task run time
        skew = 1.0
        if tasks:
            per_stage: dict[int, list[float]] = {}
            for t in tasks:
                per_stage.setdefault(t.stage, []).append(t.run_ms)
            heavy = max(per_stage.values(), key=sum)
            med = statistics.median(heavy)
            skew = max(heavy) / med if med > 0 else 1.0
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(tasks),
            "exec_run_s": sum(t.run_ms for t in tasks) / 1e3,
            "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
            "sched_delay_s": sum(t.sched_delay_ms for t in tasks) / 1e3,
            "shuffle_mb": sum(t.shuffle_write for t in tasks) / 2**20,
            "spill_mb": sum(t.spill for t in tasks) / 2**20,
            "task_skew": skew,
        }


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    files = [f for f in files if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    return files[0]


def parse_event_log(path: str) -> EventLog:
    job_group: dict[int, str | None] = {}
    job_submit: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    tasks: list[TaskRow] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                job_group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_submit[job] = ev.get("Submission Time", 0) / 1e3
                for st in ev.get("Stage IDs", []):
                    stage_job.setdefault(st, job)
            elif kind == "SparkListenerTaskEnd":
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                run = m.get("Executor Run Time", 0)
                overhead = (
                    m.get("Executor Deserialize Time", 0)
                    + m.get("Result Serialization Time", 0)
                )
                getting = info.get("Getting Result Time", 0)
                fetch = info.get("Finish Time", 0) - getting if getting else 0
                tasks.append(TaskRow(
                    stage=ev["Stage ID"],
                    run_ms=run,
                    gc_ms=m.get("JVM GC Time", 0),
                    sched_delay_ms=max(0, dur - run - overhead - fetch),
                    shuffle_write=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    spill=m.get("Disk Bytes Spilled", 0),
                ))
    return EventLog(job_group, job_submit, stage_job, tasks)
