"""Spans recorded from the benchmark's own process, and Spark's event log.

Tracing never edits the program. ``Tracer.wrap`` swaps a module attribute
(the functions ``pipeline.py`` and ``stream.py`` look up at call time) for a
wrapper that records a span, and ``Tracer.restore`` puts the original back.
A Spark job or stage belongs to a span when it was submitted while the span
was open. The event log is written only in traced runs.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory, in the order they end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time())
        try:
            yield s
        finally:
            s.end = time.time()
            self.spans.append(s)

    def wrap(self, owner: object, attr: str, name: str, on_result=None) -> None:
        """Record a span named ``name`` around every call of ``owner.attr``.
        ``on_result(result)`` may return a replacement result, used to time
        the action that runs on a lazily returned DataFrame."""
        original = getattr(owner, attr, None)
        if original is None:
            print(f"perfbench: no {owner!r}.{attr}; span {name!r} not recorded",
                  file=sys.stderr)
            return
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                result = original(*args, **kwargs)
            return on_result(result) if on_result else result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

PYTHON_BYTES_METRICS = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Stage:
    stage_id: int
    submit: float  # epoch seconds
    end: float
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    python_bytes: int = 0


@dataclass
class Job:
    job_id: int
    submit: float
    end: float = 0.0


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)
    # (SQL execution start, "size of files read" of its scans). Spark's task
    # "Bytes Read" misses most parquet reads in local mode; the scan's own
    # driver metric does not.
    file_reads: list[tuple[float, int]] = field(default_factory=list)

    def file_bytes_in(self, span: Span) -> int:
        return sum(n for t, n in self.file_reads if span.start <= t <= span.end)

    def jobs_in(self, span: Span) -> list[Job]:
        return [j for j in self.jobs if span.start <= j.submit <= span.end]

    def stages_in(self, span: Span) -> list[Stage]:
        return [s for s in self.stages if span.start <= s.submit <= span.end]

    def busy_seconds(self, span: Span, jobs: list[Job] | None = None) -> float:
        """Length of the union of job intervals, clipped to ``span``."""
        intervals = sorted(
            (max(j.submit, span.start), min(j.end, span.end))
            for j in (self.jobs_in(span) if jobs is None else jobs)
        )
        busy, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in intervals:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        return busy


def read_event_log(directory: str) -> EventLog:
    """Parse every uncompressed event log file under ``directory`` (Spark
    writes rolling logs into a sub-directory per application). Job and stage
    ids restart in each application, so they are keyed per file."""
    log = EventLog()
    paths = glob.glob(os.path.join(directory, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        jobs: dict[int, Job] = {}
        stages: dict[tuple[int, int], Stage] = {}
        sql = {"names": {}, "start": 0.0}
        with open(path) as f:
            for line in f:
                if line.strip():
                    _apply(json.loads(line), jobs, stages, sql, log.file_reads)
        log.jobs += jobs.values()
        log.stages += stages.values()
    log.jobs.sort(key=lambda j: j.submit)
    log.stages.sort(key=lambda s: s.submit)
    return log


def _plan_metrics(node: dict, names: dict) -> None:
    for m in node.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _plan_metrics(child, names)


def _apply(ev: dict, jobs: dict, stages: dict, sql: dict, file_reads: list) -> None:
    kind = ev.get("Event", "")
    if kind.endswith("SparkListenerSQLExecutionStart"):
        sql["start"] = ev["time"] / 1e3
        _plan_metrics(ev["sparkPlanInfo"], sql["names"])
    elif kind.endswith("SparkListenerDriverAccumUpdates"):
        # posted right after the execution start it belongs to
        n = sum(v for acc, v in ev["accumUpdates"]
                if sql["names"].get(acc) == "size of files read")
        if n:
            file_reads.append((sql["start"], n))
    elif kind == "SparkListenerJobStart":
        jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"] / 1e3)
    elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
    elif kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        stage = stages.setdefault(
            (info["Stage ID"], info.get("Stage Attempt ID", 0)), Stage(info["Stage ID"], 0, 0)
        )
        stage.submit = info.get("Submission Time", 0) / 1e3
        stage.end = info.get("Completion Time", 0) / 1e3
        stage.python_bytes = sum(
            int(acc.get("Value", 0)) for acc in info.get("Accumulables", [])
            if acc.get("Name") in PYTHON_BYTES_METRICS
        )
    elif kind == "SparkListenerTaskEnd":
        # task ends precede their stage's completion event
        key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
        stage = stages.setdefault(key, Stage(ev["Stage ID"], 0, 0))
        m = ev.get("Task Metrics") or {}
        stage.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        stage.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        stage.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        stage.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
