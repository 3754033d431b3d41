"""Tests of the benchmark's own parts.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import procstat  # noqa: E402
import tracing  # noqa: E402
from tracing import Job, Span  # noqa: E402


def _ev(**kw) -> str:
    return json.dumps(kw)


# Submission times in ms; spans in seconds.
FIXTURE = [
    _ev(Event="SparkListenerLogStart", **{"Spark Version": "4.1.0"}),
    _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1_000_100, "Stage IDs": [0]}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
        "Executor CPU Time": 2_000_000_000, "Executor Run Time": 3000,
        "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
        "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}}),
    _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1_000_400}),
    _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 1_000_600, "Stage IDs": [1, 2]}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {"Executor Run Time": 1000}}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {"Executor Run Time": 3000}}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {"Executor Run Time": 1000}}),
    _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 2}}),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 1_000_900}),
    _ev(Event="SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 1_002_000, "Stage IDs": [3]}),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 1_002_100}),
]


def test_event_log_parse_and_span_attribution():
    jobs, tasks, done = tracing.parse_event_log(FIXTURE)
    assert [j.job_id for j in jobs] == [0, 1, 2]
    assert jobs[0].submit == pytest.approx(1000.1) and jobs[0].end == pytest.approx(1000.4)
    assert done == {0, 2}  # stage 1 was skipped, stage 3 never completed
    construct = Span("construct", 1000.0, 1000.5)
    execs = Span("exec", 1000.5, 1001.0)
    assert [j.job_id for j in tracing.jobs_in(jobs, [construct])] == [0]
    exec_jobs = tracing.jobs_in(jobs, [execs])
    assert [j.job_id for j in exec_jobs] == [1]
    stats = tracing.exec_stats(exec_jobs, tasks, done)
    assert stats["jobs"] == 1 and stats["stages"] == 1 and stats["tasks"] == 3
    assert stats["task_run_s"] == pytest.approx(5.0)
    assert stats["task_skew"] == pytest.approx(3.0)  # max 3 s over median 1 s
    c = tracing.exec_stats(tracing.jobs_in(jobs, [construct]), tasks, done)
    assert c["task_cpu_s"] == pytest.approx(2.0)
    assert (c["shuffle_read_bytes"], c["shuffle_write_bytes"], c["spill_bytes"]) == (12, 11, 3)
    assert tracing.jobs_in(jobs, []) == []


def test_span_submitted_in_the_spans_first_millisecond_is_inside():
    # the log truncates 1000.1004 s to 1000100 ms
    jobs = [Job(0, 1000.100, 1000.2, [])]
    assert tracing.jobs_in(jobs, [Span("s", 1000.1004, 1000.2)]) == jobs


def test_self_time_and_in_flight():
    parent = Span("construct", 0.0, 10.0)
    kids = [Span("load_table", 1.0, 3.0), Span("checkpoint", 2.0, 4.0), Span("fan_out", 9.0, 12.0)]
    assert tracing.self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0)
    jobs = [Job(0, 1.0, 3.0, []), Job(1, 2.0, 6.0, [])]
    # busy 2 s + 4 s over a 10 s window
    assert tracing.mean_in_flight(jobs, [(0.0, 10.0)]) == pytest.approx(0.6)


def test_rule_dump_parse():
    text = "=== Metrics of Analyzer/Optimizer Rules ===\nTotal number of runs: 1234\nTotal time: 0.5 seconds\n"
    assert tracing.parse_rule_dump(text) == (0.5, 1234)


def test_frame_hash_is_order_insensitive_and_exact():
    a = pd.DataFrame({"x": [1, 2, 3], "y": [0.1, 0.2, None], "z": ["a", "b", "c"]})
    b = a.iloc[::-1][["z", "y", "x"]].reset_index(drop=True)
    assert check.frame_hash(a) == check.frame_hash(b)
    c = a.copy()
    c.loc[0, "y"] = 0.1 + 1e-15
    assert check.frame_hash(a) != check.frame_hash(c)


def test_output_check_fails_when_a_pinned_hash_changes():
    with open(os.path.join(os.path.dirname(HERE), "expected.json")) as f:
        pins = json.load(f)
    key, pin = next(iter(sorted(pins.items())))
    got = (pin["rows"], pin["hash"])
    assert check.mismatch(got, pin) is None
    changed = dict(pin, hash=("0" if pin["hash"][0] != "0" else "1") + pin["hash"][1:])
    assert check.mismatch(got, changed) is not None
    assert check.mismatch(got, dict(pin, rows=pin["rows"] + 1)) is not None


def test_id_hash_ignores_order():
    assert check.id_hash([3, 1, 2]) == check.id_hash([1, 2, 3])
    assert check.id_hash([1, 2]) != check.id_hash([1, 2, 3])


ORPHAN = """
import os, subprocess, sys
import procstat
procstat.adopt_orphans()
# the shell exits at once and leaves its sleep behind, as a JVM that
# exits leaves its Python workers
subprocess.run(["sh", "-c", "sleep 60 & echo $!"], stdout=sys.stdout, check=True)
sys.stdout.flush()
print(procstat.end_children(grace_s=1.0, limit_s=10.0), procstat.tree(os.getpid())[1:])
"""


def test_thread_cpu_counts_only_the_named_threads():
    me = os.getpid()
    with open(f"/proc/{me}/comm") as f:
        name = f.read().strip()
    t0 = procstat.thread_cpu_s(me, name)
    end = time.process_time() + 0.3
    while time.process_time() < end:
        pass
    assert procstat.thread_cpu_s(me, name) - t0 >= 0.2
    assert procstat.thread_cpu_s(me, "no such thread") == 0.0


def test_end_children_stops_and_reaps_orphaned_grandchildren():
    out = subprocess.run(
        [sys.executable, "-c", ORPHAN], cwd=os.path.dirname(HERE),
        capture_output=True, text=True, timeout=60, check=True,
    ).stdout.split("\n")
    orphan = int(out[0])
    assert out[1] == "[] []"
    assert not os.path.exists(f"/proc/{orphan}")


@pytest.fixture(scope="module")
def traced_spark():
    import env

    env.prepare(event_log=True)
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[2]").appName("perfbench-test").getOrCreate()
    yield spark
    spark.stop()


def test_thread_pool_jobs_land_in_their_construct_span(traced_spark):
    import env

    spark = traced_spark
    tracer = tracing.Tracer()

    def fake_query():
        # three arms materialized concurrently, like the engine's frontiers
        with ThreadPoolExecutor(max_workers=3) as pool:
            counts = list(pool.map(lambda n: spark.range(n).count(), [10, 20, 30]))
        return spark.range(sum(counts))

    with tracer.span("construct") as construct:
        df = fake_query()
    with tracer.span("exec") as execs:
        df.write.format("noop").mode("overwrite").save()
    app_id = spark.sparkContext.applicationId
    spark.stop()
    with open(os.path.join(env.EVENT_DIR, app_id), encoding="utf-8") as f:
        jobs, tasks, done = tracing.parse_event_log(f)
    in_construct = tracing.jobs_in(jobs, [construct])
    in_exec = tracing.jobs_in(jobs, [execs])
    assert len(in_construct) >= 3
    assert len(in_exec) >= 1
    assert not {j.job_id for j in in_construct} & {j.job_id for j in in_exec}
