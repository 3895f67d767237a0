"""Spans around calls into the engine's layers, and the Spark event-log
fold that turns them into per-layer numbers.

A span names one call from the benchmark into one of the package's
modules: ``<workload>/<layer>/<function>``.  While a span is open every
Spark job the calling thread submits carries that name as its job group,
so the event log attributes each task to the span that caused it.  Spans
stay in memory; ``read_event_logs`` reads the log after the session
stops, and ``span_fold`` sums the task metrics of one span's jobs.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    py_cpu_s: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def _proc_cpu_s(pid: int) -> float:
    """utime+stime of one process plus its reaped children, in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        rest = f.read().rsplit(")", 1)[1].split()
    ticks = os.sysconf("SC_CLK_TCK")
    # fields 14-17 of stat: utime stime cutime cstime (rest[0] is field 3)
    return sum(int(x) for x in rest[11:15]) / ticks


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid`` (the JVM's Python workers)."""
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids[ppid].append(int(name))
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's Python worker processes.

    Executor CPU in the event log covers JVM task threads only; pandas
    UDF work (the avro and msgpack encoders) runs in these workers.
    """
    total = 0.0
    for p in descendants(jvm_pid):
        try:
            total += _proc_cpu_s(p)
        except OSError:  # a worker exited between listing and reading
            continue
    return total


def box_cpu_s() -> dict:
    """Box-wide CPU seconds so far from /proc/stat: busy, idle, and
    steal (time the host ran another guest while this one was ready)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return {"busy": (v[0] + v[1] + v[2] + v[5] + v[6]) / hz,
            "idle": (v[3] + v[4]) / hz, "steal": v[7] / hz}


class CpuClock:
    """CPU seconds used so far by the JVM, its Python workers and this
    process: the work the program did, where wall time also counts the
    time it waited."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def now(self) -> float:
        return (_proc_cpu_s(self.jvm_pid) + python_worker_cpu_s(self.jvm_pid)
                + time.process_time())


class Tracer:
    """Opens spans.  Disabled, it only times them: no job groups are set
    and no process CPU is read, so untraced runs pay nothing extra."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self._jvm_pid = (self.sc._jvm.java.lang.ProcessHandle.current().pid()
                         if enabled else 0)

    @contextmanager
    def span(self, layer: str, function: str):
        name = f"{self.workload}/{layer}/{function}"
        sp = Span(name, self._stack[-1] if self._stack else None, 0.0)
        if self.enabled:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(name, name)
            cpu0 = python_worker_cpu_s(self._jvm_pid)
        self._stack.append(name)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.enabled:
                sp.py_cpu_s = python_worker_cpu_s(self._jvm_pid) - cpu0
                if prev is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(prev, prev)
            self.spans.append(sp)

    def named(self, layer: str, function: str) -> list[Span]:
        name = f"{self.workload}/{layer}/{function}"
        return [s for s in self.spans if s.name == name]


# --- event-log fold ----------------------------------------------------------

@dataclass
class Fold:
    """Task metrics summed over a set of jobs."""

    jobs: int = 0
    stages: int = 0
    stages_skipped: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    intervals: list = field(default_factory=list)

    def add(self, other: "Fold") -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)

    @property
    def job_s(self) -> float:
        """Wall time covered by at least one job (union of intervals)."""
        total, end = 0.0, float("-inf")
        for a, b in sorted(self.intervals):
            if b <= end:
                continue
            total += b - max(a, end)
            end = b
        return total


@dataclass
class Job:
    job_id: int
    group: str | None
    description: str | None
    call_site: str | None
    start: float
    end: float
    fold: Fold


def _task_fold(ev: dict) -> Fold:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return Fold(
        tasks=1,
        run_s=m.get("Executor Run Time", 0) / 1e3,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1e3,
        shuffle_read_bytes=(sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0)),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        spill_bytes=(m.get("Memory Bytes Spilled", 0)
                     + m.get("Disk Bytes Spilled", 0)),
        input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
        output_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
        output_records=(m.get("Output Metrics") or {}).get("Records Written", 0),
    )


def parse_event_log(lines) -> list[Job]:
    """Jobs of one application with their tasks' metrics folded in.

    A stage belongs to the first job that lists it; a stage a job lists
    but does not run itself was skipped (its shuffle output was reused).
    """
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    listed: dict[int, set] = {}
    ran: set = set()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = Job(jid, props.get("spark.jobGroup.id"),
                            props.get("spark.job.description"),
                            props.get("callSite.short"),
                            ev["Submission Time"] / 1e3, 0.0, Fold(jobs=1))
            listed[jid] = set(ev.get("Stage IDs", []))
            for sid in listed[jid]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            ran.add(sid)
            jid = stage_job.get(sid)
            if jid is not None:
                jobs[jid].fold.stages += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is not None:
                jobs[jid].fold.add(_task_fold(ev))
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1e3
    for jid, job in jobs.items():
        own = {sid for sid in ran if stage_job.get(sid) == jid}
        job.fold.stages_skipped = len(listed[jid] - own)
        job.fold.intervals = [(job.start, job.end or job.start)]
    return sorted(jobs.values(), key=lambda j: j.job_id)


def read_event_logs(log_dir: str) -> list[Job]:
    """Every application's jobs under ``log_dir`` (plain or rolled logs)."""
    out: list[Job] = []
    for root, _, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(("events_", "local-", "app-")):
                with open(os.path.join(root, name)) as f:
                    out.extend(parse_event_log(f))
    return out


def fold_by(jobs: list[Job], key) -> dict[str, Fold]:
    """Sum job folds by ``key(job)``; jobs whose key is None are dropped."""
    out: dict[str, Fold] = defaultdict(Fold)
    for job in jobs:
        k = key(job)
        if k is not None:
            out[k].add(job.fold)
    return dict(out)


def span_jobs(span: Span, jobs: list[Job]) -> list[Job]:
    """The jobs ``span`` caused: its job group, submitted while it was
    open (one function called repeatedly opens spans of one name).  The
    event log stamps milliseconds, hence the small slack."""
    return [j for j in jobs if j.group == span.name
            and span.start - 0.01 <= j.start <= span.end]


def span_fold(span: Span, jobs: list[Job]) -> Fold:
    total = Fold()
    for j in span_jobs(span, jobs):
        total.add(j.fold)
    return total


def span_metrics(span: Span, fold: Fold) -> dict[str, float]:
    """The per-span numbers the layer table reports.

    ``cpu_s`` is JVM task CPU plus Python worker CPU; ``offcpu_s`` is task
    run time not spent on either (waiting for a core, I/O, locks);
    ``driver_gap_s`` is span wall time during which no job of the span
    ran (planning, Python, scheduling between jobs).
    """
    cpu = fold.cpu_s + span.py_cpu_s
    return {
        "wall_s": span.wall_s,
        "cpu_s": cpu,
        "offcpu_s": fold.run_s - cpu,
        "gc_s": fold.gc_s,
        "shuffle_bytes": fold.shuffle_write_bytes,
        "stages": fold.stages,
        "stages_skipped": fold.stages_skipped,
        "tasks": fold.tasks,
        "jobs": fold.jobs,
        "driver_gap_s": span.wall_s - fold.job_s,
    }
