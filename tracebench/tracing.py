"""Traced-run instrumentation, entirely outside the engine.

``Tracer`` records a span around each call the benchmark makes into an
engine layer (name, start, end, parent span, request id) and keeps the
spans in memory. While a span is open, its id rides on the Spark local
property ``tracebench.span``, so every Spark job the call launches carries
it. After the session stops, ``EventLog`` reads Spark's event log and
attributes jobs, tasks, executor time, GC, shuffle bytes, scan metrics and
Python-exchange bytes to the span that launched them.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PROPERTY = "tracebench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around engine calls. A disabled tracer records nothing and
    makes no Spark calls, so untraced runs pay nothing for it."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._request: int | None = None

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, parent.id if parent else None, self._request, time.time())
        if parent is None:  # a top-level span starts a request
            s.request = self._request = s.id
        self.spans.append(s)
        self._open.append(s)
        self.sc.setLocalProperty(PROPERTY, str(s.id))
        try:
            yield
        finally:
            s.end = time.time()
            self._open.pop()
            self.sc.setLocalProperty(PROPERTY, str(parent.id) if parent else None)

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def dump(self, out) -> None:
        """Write every span as a ``span {json}`` line to the text stream ``out``."""
        for s in self.spans:
            out.write("span " + json.dumps(s.__dict__) + "\n")


@dataclass
class Job:
    id: int
    span: int | None
    execution: int | None
    stages: list[int]
    start: float
    end: float = 0.0


@dataclass
class Task:
    stage: int
    ok: bool
    launch: float
    finish: float
    run_ms: float
    cpu_ms: float
    gc_ms: float
    overhead_ms: float  # deserialize + result serialization + getting result
    shuffle_write: int
    records_read: int
    python_bytes: int


@dataclass
class EventLog:
    """Jobs and tasks of one application, attributed to tracer spans."""

    jobs: list[Job] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)
    stage_job: dict[int, int] = field(default_factory=dict)
    json_scan_stages: set[int] = field(default_factory=set)
    files_read: dict[int, int] = field(default_factory=dict)  # execution → files

    @classmethod
    def parse(cls, path: str) -> "EventLog":
        log = cls()
        jobs: dict[int, Job] = {}
        files_metric: set[int] = set()
        driver_updates: list[tuple[int, int, int]] = []
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    span = props.get(PROPERTY)
                    ex = props.get("spark.sql.execution.id")
                    j = Job(
                        e["Job ID"], int(span) if span else None, int(ex) if ex else None,
                        list(e["Stage IDs"]), e["Submission Time"] / 1000,
                    )
                    jobs[j.id] = j
                    for sid in j.stages:
                        log.stage_job[sid] = j.id
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    if any("Scan json" in (r.get("Scope") or "") for r in info["RDD Info"]):
                        log.json_scan_stages.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    log.tasks.append(_task(e))
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _scan_file_metrics(e["sparkPlanInfo"], files_metric)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, value in e["accumUpdates"]:
                        driver_updates.append((e["executionId"], acc, value))
        for ex, acc, value in driver_updates:
            if acc in files_metric:
                log.files_read[ex] = log.files_read.get(ex, 0) + value
        log.jobs = sorted(jobs.values(), key=lambda j: j.id)
        return log

    def jobs_of(self, span_ids: set[int]) -> list[Job]:
        return [j for j in self.jobs if j.span in span_ids]

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        ids = {j.id for j in jobs}
        return [t for t in self.tasks if self.stage_job.get(t.stage) in ids]

    def files_of(self, jobs: list[Job]) -> int:
        return sum(self.files_read.get(ex, 0) for ex in {j.execution for j in jobs if j.execution is not None})


def _task(e: dict) -> Task:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    python_bytes = sum(
        int(a.get("Update", 0))
        for a in info.get("Accumulables", [])
        if a.get("Name") in ("data sent to Python workers", "data returned from Python workers")
    )
    return Task(
        stage=e["Stage ID"],
        ok=e["Task End Reason"]["Reason"] == "Success",
        launch=info["Launch Time"] / 1000,
        finish=info["Finish Time"] / 1000,
        run_ms=m.get("Executor Run Time", 0),
        cpu_ms=m.get("Executor CPU Time", 0) / 1e6,
        gc_ms=m.get("JVM GC Time", 0),
        overhead_ms=m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0),
        shuffle_write=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        records_read=(m.get("Input Metrics") or {}).get("Records Read", 0),
        python_bytes=python_bytes,
    )


def _scan_file_metrics(node: dict, out: set[int]) -> None:
    if node["nodeName"].startswith("Scan"):
        out.update(m["accumulatorId"] for m in node["metrics"] if m["name"] == "number of files read")
    for child in node["children"]:
        _scan_file_metrics(child, out)


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, edge = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, edge), min(b, hi)
        if b > a:
            total += b - a
            edge = b
    return total


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when that would lie below the median
    (fewer than twenty samples)."""
    s = sorted(samples)
    if len(s) < 20:
        return None
    return 100 * (len(s) - 10) / len(s), s[len(s) - 11]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Attribution:
    """Per-layer numbers from the tracer's spans joined with the event log."""

    def __init__(self, spans: list[Span], log: EventLog):
        self.spans = spans
        self.log = log
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree(self, span: Span) -> set[int]:
        ids, todo = set(), [span]
        while todo:
            s = todo.pop()
            ids.add(s.id)
            todo.extend(self.children.get(s.id, []))
        return ids

    def jobs(self, spans: list[Span]) -> list[Job]:
        ids = set().union(*(self.subtree(s) for s in spans)) if spans else set()
        return self.log.jobs_of(ids)

    def call_ms(self, name: str) -> float:
        return 1000 * median(s.seconds for s in self.named(name))

    def driver_share(self, spans: list[Span]) -> float:
        """Share of the spans' wall time during which none of their own
        Spark jobs was running."""
        wall = sum(s.seconds for s in spans)
        if not wall:
            return 0.0
        busy = 0.0
        for s in spans:
            jobs = self.jobs([s])
            busy += covered_seconds([(j.start, j.end) for j in jobs], s.start, s.end)
        return 1 - busy / wall

    def self_seconds(self, span: Span) -> float:
        """The span's duration minus the part its child spans cover."""
        kids = self.children.get(span.id, [])
        return span.seconds - covered_seconds([(k.start, k.end) for k in kids], span.start, span.end)
