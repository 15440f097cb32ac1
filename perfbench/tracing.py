"""Spans recorded around calls into each layer, and the Spark event-log
reader that attributes engine work to them.

A span is (path, start, end) within one pass. While a traced span is open the
benchmark sets the Spark job description to ``pb|<pass>|<path>``, so every
job, stage and task in the event log names the innermost span that started
it. Untraced passes use :class:`Phases`, which only keeps top-level
wall-clock times and touches no Spark state.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

DESC_PREFIX = "pb"
# spans that exist only in traced passes (noop-forced layers, output
# statistics); they are left out of the pass's engine totals
PROBES = ("force", "probe")


class Phases:
    """Untraced recorder: wall clock of top-level phases, nothing else."""

    traced = False

    def __init__(self) -> None:
        self.times: dict[str, float] = {}
        self.counts: dict[str, float] = {}
        self._depth = 0

    @contextlib.contextmanager
    def span(self, name: str):
        self._depth += 1
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._depth -= 1
            if self._depth == 0:
                self.times[name] = time.perf_counter() - t0


@dataclass
class Span:
    path: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float


@dataclass
class Tracer:
    """Traced recorder for one pass: nested spans plus named counts."""

    sc: object
    pass_no: int
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    traced = True

    def __post_init__(self) -> None:
        self._stack: list[str] = []

    @property
    def times(self) -> dict[str, float]:
        """Top-level phase wall clock, same shape as :class:`Phases`."""
        return {s.path: s.end - s.start for s in self.spans
                if "/" not in s.path}

    @contextlib.contextmanager
    def span(self, name: str):
        self._stack.append(name)
        path = "/".join(self._stack)
        self.sc.setJobDescription(f"{DESC_PREFIX}|{self.pass_no}|{path}")
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.spans.append(Span(path, t0, t1))
            self._stack.pop()
            parent = "/".join(self._stack)
            self.sc.setJobDescription(
                f"{DESC_PREFIX}|{self.pass_no}|{parent}" if parent else None)

    def duration(self, path: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.path == path)

    def probe_s(self) -> float:
        return sum(s.end - s.start for s in self.spans
                   if s.path.rsplit("/", 1)[-1] in PROBES)


class TimedIter:
    """Wraps an iterator and sums the time spent waiting on ``next``."""

    def __init__(self, it) -> None:
        self._it = iter(it)
        self.wait_s = 0.0

    def __iter__(self):
        return self

    def __next__(self):
        t0 = time.perf_counter()
        try:
            return next(self._it)
        finally:
            self.wait_s += time.perf_counter() - t0


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------

PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class Task:
    stage: int
    duration_s: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int
    bytes_written: int
    records_written: int
    py_run_s: float
    py_boot_s: float
    py_sent: int
    py_recv: int


@dataclass
class Job:
    desc: str
    start: float
    end: float


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stage_desc: dict[int, str]
    stage_ran: set[int]
    tasks: list[Task]

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        files = [p for p in glob.glob(f"{log_dir}/*")
                 if not p.endswith(".crc")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, "
                               f"found {len(files)}")
        jobs: dict[int, Job] = {}
        stage_desc: dict[int, str] = {}
        stage_ran: set[int] = set()
        tasks: list[Task] = []
        with open(files[0], encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    start = ev["Submission Time"] / 1000.0
                    jobs[ev["Job ID"]] = Job(desc, start, start)
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_desc[sid] = (ev.get("Properties") or {}).get(
                        "spark.job.description") or ""
                elif kind == "SparkListenerStageCompleted":
                    stage_ran.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task(ev))
        return cls(jobs, stage_desc, stage_ran, tasks)

    # -- selection ---------------------------------------------------------

    @staticmethod
    def _match(desc: str, pass_no: int, prefix: str) -> bool:
        """Work of span ``prefix`` (and its children) in pass ``pass_no``;
        an empty prefix selects the pass without its probe spans."""
        head = f"{DESC_PREFIX}|{pass_no}|"
        if not desc.startswith(head):
            return False
        path = desc[len(head):]
        if not prefix:
            return not any(part in PROBES for part in path.split("/"))
        return path == prefix or path.startswith(prefix + "/")

    def jobs_in(self, pass_no: int, prefix: str = "") -> list[Job]:
        return [j for j in self.jobs.values()
                if self._match(j.desc, pass_no, prefix)]

    def stages_in(self, pass_no: int, prefix: str = "") -> list[int]:
        return [s for s, d in self.stage_desc.items()
                if s in self.stage_ran and self._match(d, pass_no, prefix)]

    def tasks_in(self, pass_no: int, prefix: str = "") -> list[Task]:
        stages = set(self.stages_in(pass_no, prefix))
        return [t for t in self.tasks if t.stage in stages]

    # -- aggregates --------------------------------------------------------

    def engine(self, pass_no: int, prefix: str = "") -> dict[str, float]:
        """Engine totals of span ``prefix`` in a pass (see ``_match``)."""
        tasks = self.tasks_in(pass_no, prefix)
        return {
            "executor_run_s": sum(t.run_s for t in tasks),
            "executor_cpu_s": sum(t.cpu_s for t in tasks),
            "gc_s": sum(t.gc_s for t in tasks),
            "shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
            "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
            "spill_bytes": sum(t.spill for t in tasks),
            "bytes_written": sum(t.bytes_written for t in tasks),
            "records_written": sum(t.records_written for t in tasks),
            "python_s": sum(t.py_run_s for t in tasks),
            "python_boot_s": sum(t.py_boot_s for t in tasks),
            "python_bytes_sent": sum(t.py_sent for t in tasks),
            "python_bytes_received": sum(t.py_recv for t in tasks),
            "jobs": len(self.jobs_in(pass_no, prefix)),
            "stages": len(self.stages_in(pass_no, prefix)),
            "tasks": len(tasks),
            "task_skew": task_skew(tasks),
        }

    def busy_s(self, pass_no: int) -> float:
        """Wall time during which at least one job of the pass ran."""
        spans = sorted((j.start, j.end) for j in self.jobs_in(pass_no))
        total, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total


def task_skew(tasks: list[Task]) -> float:
    """Largest max/median task duration over the stages with >= 2 tasks."""
    by_stage: dict[int, list[float]] = defaultdict(list)
    for t in tasks:
        by_stage[t.stage].append(t.duration_s)
    worst = 1.0 if tasks else 0.0
    for durs in by_stage.values():
        med = statistics.median(durs)
        if len(durs) >= 2 and med > 0:
            worst = max(worst, max(durs) / med)
    return worst


def _task(ev: dict) -> Task:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    acc: dict[str, float] = defaultdict(float)
    for a in info.get("Accumulables") or []:
        name = a.get("Name")
        if name in (PY_RUN, PY_BOOT, PY_SENT, PY_RECV):
            try:
                acc[name] += float(a.get("Update") or 0)
            except (TypeError, ValueError):
                pass
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    out = m.get("Output Metrics") or {}
    return Task(
        stage=ev["Stage ID"],
        duration_s=(info.get("Finish Time", 0)
                    - info.get("Launch Time", 0)) / 1000.0,
        run_s=m.get("Executor Run Time", 0) / 1000.0,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1000.0,
        shuffle_read=sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        bytes_written=out.get("Bytes Written", 0),
        records_written=out.get("Records Written", 0),
        # the Python timing SQL metrics are in milliseconds
        py_run_s=acc[PY_RUN] / 1000.0,
        py_boot_s=acc[PY_BOOT] / 1000.0,
        py_sent=int(acc[PY_SENT]),
        py_recv=int(acc[PY_RECV]),
    )
