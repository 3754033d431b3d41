"""Per-layer tracing, measured from outside the engine.

Three sources, none of which needs a change to the engine:

* spans: wrappers installed around the public functions of each layer
  (``sources.corpus.load_table``, ``operators.parallelism.fan_out``,
  ``DataFrame.localCheckpoint``/``checkpoint``) plus the benchmark's own
  spans around building a query, running its sink, and each streaming
  batch;
* the Spark event log, parsed with the stdlib after the session stops;
  a job counts toward the spans open at its submission time, so jobs
  launched from a query's thread pool land in that query's span (job
  groups would miss them: they are thread-local);
* JVM counters read over py4j: JIT and GC time from the JMX beans,
  Catalyst rule time and runs from ``RuleExecutor``, and whole-stage
  codegen compiles from ``CodegenMetrics``.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import json
import re
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    t0: float
    t1: float = 0.0
    data: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = True
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **data):
        s = Span(name, time.time(), data=data)
        try:
            yield s
        finally:
            s.t1 = time.time()
            if self.enabled:
                with self._lock:
                    self.spans.append(s)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def install(tracer: Tracer) -> None:
    """Wrap the layers' public entry points.  Must run before the query
    modules are imported, since they bind ``load_table``/``fan_out`` by
    name at import."""
    from pyspark.sql.classic.dataframe import DataFrame

    from rick_and_morty_data_pipeline_project_spark.operators import parallelism
    from rick_and_morty_data_pipeline_project_spark.sources import corpus

    corpus.load_table = tracer.wrap("load_table", corpus.load_table)
    parallelism.fan_out = tracer.wrap("fan_out", parallelism.fan_out)
    DataFrame.localCheckpoint = tracer.wrap("checkpoint", DataFrame.localCheckpoint)
    DataFrame.checkpoint = tracer.wrap("checkpoint", DataFrame.checkpoint)


# --------------------------------------------------------------------------
# JVM counters


class Jvm:
    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._rules = jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def jit_s(self) -> float:
        return self._comp.getTotalCompilationTime() / 1000.0

    def gc_s(self) -> float:
        return sum(g.getCollectionTime() for g in self._gcs) / 1000.0

    def codegen_compiles(self) -> int:
        return int(self._codegen.METRIC_COMPILATION_TIME().getCount())

    def catalyst(self) -> tuple[float, int]:
        """(seconds, rule runs) spent in Catalyst rules so far."""
        return parse_rule_dump(self._rules.dumpTimeSpent())


def parse_rule_dump(text: str) -> tuple[float, int]:
    secs = re.search(r"Total time:\s*([0-9.Ee+-]+)\s*seconds", text)
    runs = re.search(r"Total number of runs:\s*(\d+)", text)
    return (float(secs.group(1)) if secs else 0.0, int(runs.group(1)) if runs else 0)


# --------------------------------------------------------------------------
# event log


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float
    stages: list[int]


@dataclass
class Task:
    stage: int
    cpu_s: float
    run_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int


def parse_event_log(lines) -> tuple[list[Job], list[Task], set[int]]:
    """Jobs, finished tasks and completed (not skipped) stage ids."""
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    done: set[int] = set()
    for line in lines:
        # cheap prefilter: most lines are SQL/plan events we don't need
        if '"SparkListenerJob' not in line[:40] and '"SparkListenerTaskEnd"' not in line[:40] \
                and '"SparkListenerStageCompleted"' not in line[:40]:
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                                     list(ev.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Failure Reason" not in info:
                done.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append(Task(
                stage=ev["Stage ID"],
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                run_s=m.get("Executor Run Time", 0) / 1000.0,
                shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                shuffle_write=sw.get("Shuffle Bytes Written", 0),
                spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            ))
    return sorted(jobs.values(), key=lambda j: j.submit), tasks, done


def jobs_in(jobs: list[Job], spans: list[Span]) -> list[Job]:
    """Jobs submitted while one of ``spans`` was open.  The event log
    truncates submission times to the millisecond, so a span opens one
    millisecond early.  Jobs from helper threads count toward the span
    that started the threads, since that span outlives them."""
    merged: list[list[float]] = []
    for a, b in sorted((s.t0 - 0.001, s.t1) for s in spans):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    starts = [m[0] for m in merged]
    out = []
    for j in jobs:
        i = bisect.bisect_right(starts, j.submit) - 1
        if i >= 0 and j.submit <= merged[i][1]:
            out.append(j)
    return out


def union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(span: Span, children: list[Span]) -> float:
    inside = [(max(c.t0, span.t0), min(c.t1, span.t1)) for c in children
              if c is not span and c.t0 < span.t1 and c.t1 > span.t0]
    return (span.t1 - span.t0) - union_s(inside)


def mean_in_flight(jobs: list[Job], windows: list[tuple[float, float]]) -> float:
    """Time-weighted mean number of running jobs over ``windows``."""
    total = sum(b - a for a, b in windows)
    if total <= 0:
        return 0.0
    busy = 0.0
    for a, b in windows:
        for j in jobs:
            busy += max(0.0, min(b, j.end) - max(a, j.submit))
    return busy / total


def exec_stats(jobs: list[Job], tasks: list[Task], done: set[int]) -> dict[str, float]:
    stage_ids = {s for j in jobs for s in j.stages} & done
    mine = [t for t in tasks if t.stage in stage_ids]
    by_stage: dict[int, list[float]] = {}
    for t in mine:
        by_stage.setdefault(t.stage, []).append(t.run_s)
    # max over median task time, summed over stages so that long stages
    # dominate instead of millisecond ones
    multi = [v for v in by_stage.values() if len(v) >= 2]
    med = sum(statistics.median(v) for v in multi)
    skew = sum(max(v) for v in multi) / med if med > 0 else 1.0
    return {
        "jobs": len(jobs),
        "stages": len(stage_ids),
        "tasks": len(mine),
        "task_cpu_s": sum(t.cpu_s for t in mine),
        "task_run_s": sum(t.run_s for t in mine),
        "shuffle_read_bytes": sum(t.shuffle_read for t in mine),
        "shuffle_write_bytes": sum(t.shuffle_write for t in mine),
        "spill_bytes": sum(t.spill for t in mine),
        "task_skew": skew,
    }
