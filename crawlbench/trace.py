"""Tracing from outside the program: spans, py4j counts, Spark event log.

The tracer wraps public functions by patching module or class attributes
for the duration of a traced phase and restores them afterwards; nothing
under ``mr_crawly_spark/`` is edited. Spans are kept in memory and written
once, when the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from crawlbench.hostinfo import cpu_between, cpu_sample


@dataclass
class Span:
    id: int
    name: str
    start: float          # epoch seconds, the clock the event log uses
    end: float
    parent: int | None
    round_id: int | None  # spans of one crawl round share it
    py4j_calls: int = 0   # gateway calls made while the span was open
    info: dict = field(default_factory=dict)
    cpu: dict = field(default_factory=dict)  # CPU seconds by part, if sampled

    @property
    def duration(self) -> float:
        return self.end - self.start


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


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.py4j_calls = 0
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object, bool]] = []

    # ------------------------------------------------------------ spans ---
    @contextmanager
    def span(self, name: str, round_id: int | None = None, cpu: bool = False):
        """A span; with ``cpu``, also the CPU seconds the process tree used
        while it was open (``hostinfo.cpu_between``)."""
        parent = self._stack[-1] if self._stack else None
        if round_id is None and parent is not None:
            round_id = parent.round_id
        s = Span(len(self.spans), name, time.time(), 0.0,
                 parent.id if parent else None, round_id)
        self.spans.append(s)
        self._stack.append(s)
        calls0 = self.py4j_calls
        cpu0 = cpu_sample() if cpu else None
        try:
            yield s
        finally:
            s.end = time.time()
            if cpu0 is not None:
                s.cpu = cpu_between(cpu0, cpu_sample())
            s.py4j_calls = self.py4j_calls - calls0
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, round_of=None, on_result=None,
             cpu: bool = False) -> None:
        """Record a span around every call of ``owner.attr`` until
        ``restore()``. ``round_of(*args)`` gives the round id of a call
        that starts a round; ``on_result(span, result, args)`` runs after the
        span has closed, so its own cost stays out of the span."""
        had_own = attr in vars(owner)
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            rid = round_of(*args) if round_of else None
            with tracer.span(name, rid, cpu) as s:
                result = orig(*args, **kwargs)
            if on_result is not None:
                on_result(s, result, args)
            return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig, had_own))

    def count_py4j(self, spark) -> None:
        """Count every command the driver sends through the gateway."""
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def counted(*args, **kwargs):
            tracer.py4j_calls += 1
            return orig(*args, **kwargs)

        had_own = "send_command" in vars(client)
        client.send_command = counted
        self._patches.append((client, "send_command", orig, had_own))

    def restore(self) -> None:
        for owner, attr, orig, had_own in reversed(self._patches):
            if had_own:
                setattr(owner, attr, orig)
            else:  # the attribute came from a class: drop the override
                delattr(owner, attr)
        self._patches.clear()

    # ------------------------------------------------------------ views ---
    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        return span.duration - union_length(
            (c.start, c.end) for c in self.children(span)
        )

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([dict(asdict(s), self_s=self.self_time(s)) for s in self.spans], f)


# -------------------------------------------------------- Spark event log ---


def event_log_conf(event_dir: str) -> dict[str, str]:
    """Session conf for a plain, uncompressed, single-file event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": event_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def flush_event_log(spark) -> None:
    """Make every event up to now reach the file: a job end flushes the
    log writer, and the listener bus is drained before reading."""
    spark.sparkContext.parallelize([0], 1).count()
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # py4j cannot reach the bus here: give it time
        time.sleep(2.0)


@dataclass
class Job:
    id: int
    start: float
    end: float
    stage_ids: list[int]
    broadcast: bool


@dataclass
class Task:
    stage_id: int
    launch: float
    finish: float
    run_s: float
    shuffle_read: int
    shuffle_write: int
    output_bytes: int
    python_s: float      # SQL metrics of the task's Python UDF nodes
    python_bytes: int


# SQL metrics Spark keeps for every Python UDF node (ms, bytes), logged as
# task accumulables
_PYTHON_TIME = "time to run Python workers"
_PYTHON_SENT = "data sent to Python workers"
_PYTHON_METRICS = (_PYTHON_TIME, _PYTHON_SENT)


class EventLog:
    """Jobs, stages and tasks parsed from one application's event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, int] = {}   # completed stages only
        self.tasks: list[Task] = []
        with open(path) as f:
            for line in f:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:  # a partly written last line
                    continue
                self._add(e)

    @classmethod
    def from_dir(cls, event_dir: str) -> EventLog:
        files = sorted(glob.glob(os.path.join(event_dir, "*")), key=os.path.getmtime)
        if not files:
            raise FileNotFoundError(f"no event log in {event_dir}")
        return cls(files[-1])

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            tags = str(e.get("Properties", {}).get("spark.job.tags", ""))
            job = Job(e["Job ID"], e["Submission Time"] / 1e3, float("inf"),
                      list(e.get("Stage IDs", [])), "broadcast exchange" in tags)
            self.jobs[job.id] = job
            for sid in job.stage_ids:
                self.stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics", {})
            acc = {}
            for a in info.get("Accumulables", []):
                if a.get("Name") in _PYTHON_METRICS:
                    acc[a["Name"]] = acc.get(a["Name"], 0) + int(a.get("Update") or 0)
            self.tasks.append(Task(
                e["Stage ID"], info["Launch Time"] / 1e3, info["Finish Time"] / 1e3,
                m.get("Executor Run Time", 0) / 1e3,
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                m.get("Output Metrics", {}).get("Bytes Written", 0),
                acc.get(_PYTHON_TIME, 0) / 1e3, acc.get(_PYTHON_SENT, 0),
            ))

    def jobs_between(self, t0: float, t1: float) -> list[Job]:
        """Jobs submitted inside [t0, t1]."""
        return [j for j in self.jobs.values() if t0 <= j.start <= t1]

    def stages_of(self, jobs) -> list[int]:
        ids = {j.id for j in jobs}
        return sorted(s for s in self.stage_tasks if self.stage_job.get(s) in ids)

    def tasks_of(self, jobs) -> list[Task]:
        stages = set(self.stages_of(jobs))
        return [t for t in self.tasks if t.stage_id in stages]

    @staticmethod
    def busy(jobs, t0: float, t1: float) -> float:
        """Wall time inside [t0, t1] during which any of ``jobs`` ran."""
        return union_length(
            (max(j.start, t0), min(j.end, t1)) for j in jobs
            if min(j.end, t1) > max(j.start, t0)
        )

    def totals(self, jobs) -> dict[str, float]:
        tasks = self.tasks_of(jobs)
        return {
            "shuffle_read_bytes": float(sum(t.shuffle_read for t in tasks)),
            "shuffle_write_bytes": float(sum(t.shuffle_write for t in tasks)),
            "output_bytes": float(sum(t.output_bytes for t in tasks)),
            "task_s": sum(t.run_s for t in tasks),
        }
