"""The engine's benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 12 --trace 0

Workloads (see ``BENCHMARK.json`` for why each was chosen):

* ``headline`` runs a fixed query list in passes; the seed sets the
  query order of every pass.  Each query is built (``fn(spark,
  sf_dir)``) and then run into the noop sink.
* ``ingest`` feeds seeded 200-row parquet batches to
  ``streaming.dedup.stream_ingest_neardup``, one availableNow query per
  batch.

A run sets up the session, checks outputs on an untimed pass (pinned
hashes in ``expected.json``), warms up until JIT compiling is a minor
share of a pass's CPU time, then times whole passes (batches) for
``--seconds``.  With ``--trace 0`` it prints the end-to-end metrics;
with ``--trace 1`` it turns on the Spark event log and the layer
wrappers and prints the per-layer metrics.  The last line of stdout is
one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import env  # noqa: E402
import procstat  # noqa: E402

WORKLOADS = ("headline", "ingest")
# Warm up until the JIT compiler threads take at most this share of a
# pass's CPU time.  The share never reaches 0: every streaming batch
# and every re-planned query loads freshly generated classes.  Measured
# on a 4-core host, the rest of a pass's CPU time (what cpu_s reports)
# changes by less than a tenth once the share is below a half.
JIT_SHARE = 0.5
# Most warm passes: a headline pass is ~6 s, an ingest batch ~3 s.
MAX_WARM_PASSES = {"headline": 2, "ingest": 4}
TRACED_PASSES = 4  # a traced run times a fixed count, so its counts repeat
CHECK_BATCHES = 2
CHECK_SEED = 7
NOOP = "noop"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """State shared by the workload loops of one run."""

    def __init__(self, args, spark, tracer, jvm) -> None:
        self.args = args
        self.spark = spark
        self.tracer = tracer
        self.jvm = jvm
        self.tree = procstat.Tree()
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []  # timed passes
        self.warm_passes = 0
        self.extra: dict[str, float] = {}

    def fail(self, what: str, err: object) -> None:
        self.failed += 1
        log(f"FAILED {what}: {err}")

    def sample(self) -> dict:
        return {
            "t": time.perf_counter(),
            "cpu": self.tree.cpu(),
            "driver_cpu": self.tree.driver_cpu(),
            "worker_cpu": self.tree.worker_cpu(),
            "jit": self.jvm.jit_s(),
            "jit_cpu": self.tree.jit_cpu(),
            "gc": self.jvm.gc_s(),
            "codegen": self.jvm.codegen_compiles(),
        }

    def since(self, before: dict) -> dict:
        """What a pass used from ``before`` (a ``sample()``) until now."""
        after = self.sample()
        d = {k: after[k] - before[k] for k in before}
        d["pass_s"] = d.pop("t")
        return d

    def warm_up(self, one_pass) -> None:
        """Untimed passes until JIT compiling is at most ``JIT_SHARE`` of
        a pass's CPU time, at least one: the check pass collects its
        results rather than running them into the sink, and the check
        batches run on a stream of their own.  A traced run always warms
        up the most passes, so it traces the same passes (the same
        batches) on every run with one seed."""
        while self.warm_passes < MAX_WARM_PASSES[self.args.workload]:
            p = one_pass(False)
            self.warm_passes += 1
            log(f"warm pass {self.warm_passes}: jit {p['jit_cpu']:.2f}s of cpu {p['cpu']:.2f}s")
            if p["jit_cpu"] <= JIT_SHARE * p["cpu"] and not self.args.trace:
                break


# --------------------------------------------------------------------------
# query workloads


def run_queries(run: Run, wl) -> None:
    from check import frame_hash, mismatch
    from corpus import ensure_corpus

    from rick_and_morty_data_pipeline_project_spark.queries.catalog import QUERIES

    spark, tracer = run.spark, run.tracer
    sf_dir = ensure_corpus(env.DATA_DIR, wl.sf)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    rng = random.Random(run.args.seed)

    def order() -> list[str]:
        return rng.sample(list(wl.queries), len(wl.queries))

    # untimed check pass: every output against its pinned hash
    for name in order():
        run.attempted += 1
        try:
            got = frame_hash(QUERIES[name].fn(spark, sf_dir).toPandas())
        except Exception as e:  # noqa: BLE001 - a raising query is a failed query
            run.fail(name, e)
            continue
        err = mismatch(got, expected[f"{name}@sf{wl.sf}"])
        if err:
            run.fail(name, err)

    def one_pass(timed: bool, traced: bool = False) -> dict:
        tracer.enabled = traced
        lat = []
        before = run.sample()
        cat = None
        if traced:
            cat = [0.0, 0]
        for name in order():
            if timed:
                run.attempted += 1
            t0 = time.perf_counter()
            try:
                if traced:
                    c0 = run.jvm.catalyst()
                    d0 = run.tree.driver_cpu()
                    with tracer.span("construct", query=name) as sp:
                        df = QUERIES[name].fn(spark, sf_dir)
                    c1 = run.jvm.catalyst()
                    sp.data["driver_cpu"] = run.tree.driver_cpu() - d0
                    cat[0] += c1[0] - c0[0]
                    cat[1] += c1[1] - c0[1]
                    with tracer.span("exec", query=name):
                        df.write.format(NOOP).mode("overwrite").save()
                else:
                    QUERIES[name].fn(spark, sf_dir).write.format(NOOP).mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                run.fail(name, e)
                continue
            lat.append(time.perf_counter() - t0)
            if timed:
                log(f"  {name} {lat[-1]:.3f}s")
        tracer.enabled = False
        p = run.since(before)
        p["traced"] = traced
        p["lat"] = lat
        if cat:
            p["catalyst_s"], p["catalyst_runs"] = cat
        return p

    run.warm_up(one_pass)
    timed_passes(run, lambda traced: one_pass(True, traced))


def timed_passes(run: Run, one_pass) -> None:
    """Whole passes until ``--seconds`` have passed; the last one ends
    after.  A traced run instead times ``TRACED_PASSES`` passes,
    alternating traced and untraced ones to report the tracing
    overhead."""
    start = time.perf_counter()
    while True:
        traced = bool(run.args.trace) and len(run.passes) % 2 == 0
        p = one_pass(traced)
        run.passes.append(p)
        if run.args.trace:
            if len(run.passes) == TRACED_PASSES:
                return
        elif time.perf_counter() - start >= run.args.seconds:
            return


# --------------------------------------------------------------------------
# ingest workload


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class Ingest:
    """One durable near-dup ingest stream in its own directory."""

    def __init__(self, run: Run, seed: int, name: str) -> None:
        from stream import BatchStream

        self.run = run
        self.work = os.path.join(env.WORK, "ingest", name)
        shutil.rmtree(self.work, ignore_errors=True)
        self.in_dir = os.path.join(self.work, "incoming")
        self.out_dir = os.path.join(self.work, "kept")
        self.ckpt = os.path.join(self.work, "ckpt")
        os.makedirs(self.in_dir)
        self.gen = BatchStream(seed)
        self.corpus = run.spark.createDataFrame(self.gen.corpus_rows(), "doc_id LONG, text STRING")
        self.ingested: list[int] = []
        self.input_bytes = 0

    def batch(self, timed: bool, traced: bool = False) -> dict:
        from rick_and_morty_data_pipeline_project_spark.streaming.dedup import (
            stream_ingest_neardup,
        )

        run, tracer = self.run, self.run.tracer
        tracer.enabled = traced
        written0 = dir_bytes(self.out_dir) + dir_bytes(self.ckpt)
        before = run.sample()
        path, ids = self.gen.write_next(self.in_dir)
        landed = time.perf_counter()
        self.ingested.extend(ids)
        self.input_bytes += os.path.getsize(path)
        if timed:
            run.attempted += 1
        p = {"lat": []}
        try:
            with tracer.span("batch"):
                stream = (
                    run.spark.readStream.schema("doc_id LONG, text STRING")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(self.in_dir)
                )
                s0 = time.perf_counter()
                q = stream_ingest_neardup(stream, self.corpus, self.out_dir, self.ckpt)
                p["start_s"] = time.perf_counter() - s0
                q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            p["lat"] = [time.perf_counter() - landed]
            p["durations"] = [pr.get("durationMs", {}) for pr in q.recentProgress]
        except Exception as e:  # noqa: BLE001
            run.fail(f"batch {self.gen.n}", e)
        tracer.enabled = False
        p.update(run.since(before))
        p["traced"] = traced
        p["rows"] = len(ids)
        p["bytes_written"] = dir_bytes(self.out_dir) + dir_bytes(self.ckpt) - written0
        return p

    def kept_ids(self) -> list[int]:
        rows = self.run.spark.read.parquet(self.out_dir).select("doc_id").collect()
        return [r[0] for r in rows]


def run_ingest(run: Run) -> None:
    from check import id_hash, mismatch

    with open(os.path.join(HERE, "expected.json")) as f:
        pin = json.load(f)["ingest@check"]
    # untimed check stream: fixed seed, pinned kept-id hash
    check = Ingest(run, CHECK_SEED, "check")
    for _ in range(CHECK_BATCHES):
        run.attempted += 1
        check.batch(False)
    err = mismatch(id_hash(check.kept_ids()), pin)
    if err:
        run.fail("ingest check stream", err)

    live = Ingest(run, run.args.seed, "live")
    run.warm_up(live.batch)
    timed_passes(run, lambda traced: live.batch(True, traced))

    kept = live.kept_ids()
    if len(kept) != len(set(kept)):
        run.fail("ingest", "duplicate doc_id in kept table")
    if not set(kept) <= set(live.ingested):
        run.fail("ingest", "kept ids that were never ingested")
    run.extra["space_amp"] = (dir_bytes(live.out_dir) + dir_bytes(live.ckpt)) / live.input_bytes
    timed = [p for p in run.passes if p["lat"]]
    run.extra["rows_per_s"] = sum(p["rows"] for p in timed) / sum(p["pass_s"] for p in timed)


# --------------------------------------------------------------------------
# metrics


def end_to_end(run: Run, setup_s: float) -> dict[str, tuple[float, str]]:
    """``cpu_s`` is the least CPU time of a timed pass.  It leaves out
    the JIT compiler threads: within the run length their share still
    falls from pass to pass, and it swings from run to run by more than
    the rest of the CPU time does (``session.jit_s`` reports it in the
    traced run).  The least pass, not the median, because a pass that
    runs a concurrent GC cycle costs half as much again (measured on a
    4-core host) and a run times only two to four passes."""
    timed = [p for p in run.passes if p["lat"]]
    return {
        "setup_s": (setup_s, "s"),
        "cpu_s": (min(p["cpu"] - p["jit_cpu"] for p in timed), "s"),
    }


def per_layer(run: Run, tracer, jobs, tasks, done) -> dict[str, tuple[float, str]]:
    import tracing as tr

    traced = [p for p in run.passes if p["traced"]]
    plain = [p for p in run.passes if not p["traced"]]
    n = len(traced)
    spans = tracer.spans

    def named(*names):
        return [s for s in spans if s.name in names]

    def per(x):
        return x / n

    def busy(names):
        return per(tr.union_s([(s.t0, s.t1) for s in named(*names)]))

    construct, execs, batches = named("construct"), named("exec"), named("batch")
    children = named("load_table", "checkpoint", "fan_out")
    c_jobs = tr.jobs_in(jobs, construct)
    c_stats = tr.exec_stats(c_jobs, tasks, done)
    e_stats = tr.exec_stats(tr.jobs_in(jobs, execs), tasks, done)
    task_cpu_in = {
        id(s): tr.exec_stats(tr.jobs_in(jobs, [s]), tasks, done)["task_cpu_s"] for s in construct
    }
    durations = [d for p in traced for d in p.get("durations", [])]

    def dur(key):
        return per(sum(d.get(key, 0) for d in durations))

    m = {
        "session.jit_s": (per(sum(p["jit"] for p in traced)), "s"),
        "session.gc_s": (per(sum(p["gc"] for p in traced)), "s"),
        "session.peak_rss_mb": (run.extra["peak_rss_mb"], "MB"),
        "sources.load_table_calls": (per(len(named("load_table"))), "count"),
        "sources.load_table_s": (busy(["load_table"]), "s"),
        "sources.load_table_jobs": (per(len(tr.jobs_in(jobs, named("load_table")))), "count"),
        "queries.construct_s": (per(sum(tr.self_time(s, children) for s in construct)), "s"),
        "queries.construct_jobs": (per(c_stats["jobs"]), "count"),
        "queries.construct_tasks": (per(c_stats["tasks"]), "count"),
        "queries.construct_jobs_in_flight": (
            tr.mean_in_flight(c_jobs, [(s.t0, s.t1) for s in construct]), "count"),
        "queries.catalyst_rule_s": (per(sum(p.get("catalyst_s", 0) for p in traced)), "s"),
        "queries.catalyst_rule_runs": (per(sum(p.get("catalyst_runs", 0) for p in traced)), "count"),
        "queries.driver_cpu_s": (
            per(sum(s.data["driver_cpu"] - task_cpu_in[id(s)] for s in construct)), "s"),
        "operators.checkpoint_calls": (per(len(named("checkpoint"))), "count"),
        "operators.checkpoint_s": (busy(["checkpoint"]), "s"),
        "operators.checkpoint_jobs": (per(len(tr.jobs_in(jobs, named("checkpoint")))), "count"),
        "operators.fan_out_calls": (per(len(named("fan_out"))), "count"),
        "operators.fan_out_s": (busy(["fan_out"]), "s"),
        "exec.s": (busy(["exec"]), "s"),
        "exec.jobs": (per(e_stats["jobs"]), "count"),
        "exec.stages": (per(e_stats["stages"]), "count"),
        "exec.tasks": (per(e_stats["tasks"]), "count"),
        "exec.task_cpu_s": (per(e_stats["task_cpu_s"]), "s"),
        "exec.task_run_s": (per(e_stats["task_run_s"]), "s"),
        "exec.shuffle_read_bytes": (per(e_stats["shuffle_read_bytes"]), "B"),
        "exec.shuffle_write_bytes": (per(e_stats["shuffle_write_bytes"]), "B"),
        "exec.spill_bytes": (per(e_stats["spill_bytes"]), "B"),
        "exec.task_skew": (e_stats["task_skew"] if execs else 0.0, "ratio"),
        "exec.codegen_compiles": (per(sum(p["codegen"] for p in traced)), "count"),
        "functions.pyworker_cpu_s": (per(sum(p["worker_cpu"] for p in traced)), "s"),
        "streaming.start_s": (per(sum(p.get("start_s", 0.0) for p in traced)), "s"),
        "streaming.trigger_ms": (dur("triggerExecution"), "ms"),
        "streaming.add_batch_ms": (dur("addBatch"), "ms"),
        "streaming.query_planning_ms": (dur("queryPlanning"), "ms"),
        "streaming.wal_commit_ms": (dur("walCommit"), "ms"),
        "streaming.latest_offset_ms": (dur("latestOffset"), "ms"),
        "streaming.jobs_per_batch": (per(len(tr.jobs_in(jobs, batches))), "count"),
        "streaming.bytes_written": (per(sum(p.get("bytes_written", 0) for p in traced)), "B"),
        "streaming.space_amp": (run.extra.get("space_amp", 0.0), "ratio"),
        "streaming.rows_per_s": (run.extra.get("rows_per_s", 0.0), "1/s"),
        "bench.trace_overhead": (
            statistics.median(p["pass_s"] for p in traced)
            / statistics.median(p["pass_s"] for p in plain), "ratio"),
    }
    return m


def event_log(app_id: str) -> list[str]:
    """The run's event log lines; the file is removed once read."""
    path = os.path.join(env.EVENT_DIR, app_id)
    with open(path, encoding="utf-8") as f:
        lines = f.readlines()
    os.remove(path)
    return lines


def stop_engine() -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    each to end.  pyspark itself leaves the JVM to notice that its
    stdin has closed, which happens only after this process exits."""
    proc = None
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
        except Exception as e:  # noqa: BLE001 - the JVM may be gone already
            log(f"session stop failed: {e}")
        proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            log("JVM still running 60 s after its stdin closed")
    left = procstat.end_children()
    if left:
        log(f"processes still running: {left}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    procstat.adopt_orphans()
    # a SIGTERM unwinds through stop_engine like any other way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return bench(args)
    finally:
        stop_engine()


def bench(args) -> int:
    env.prepare(event_log=bool(args.trace))
    import tracing as tr

    tracer = tr.Tracer()
    tracer.enabled = False
    if args.trace:
        tr.install(tracer)
    import rick_and_morty_data_pipeline_project_spark.queries.catalog  # noqa: F401
    from workloads import QUERY_WORKLOADS

    spark = env.session(f"perfbench-{args.workload}")
    setup_s = procstat.since_start_s()
    run = Run(args, spark, tracer, tr.Jvm(spark))
    log(f"{args.workload}: session ready in {setup_s:.2f}s")
    if args.workload == "ingest":
        run_ingest(run)
    else:
        run_queries(run, QUERY_WORKLOADS[args.workload])
    run.extra["peak_rss_mb"] = run.tree.peak_rss_mb()
    app_id = spark.sparkContext.applicationId
    spark.stop()

    if args.trace:
        jobs, tasks, done = tr.parse_event_log(event_log(app_id))
        metrics = per_layer(run, tracer, jobs, tasks, done)
    else:
        metrics = end_to_end(run, setup_s)

    timed = [p for p in run.passes if p["lat"]]
    log(f"{args.workload}: warm passes {run.warm_passes}, timed passes {len(timed)}")
    # Printed but not compared between runs: fail_rate is 0 on a healthy
    # tree (the result carries it as failed/attempted), and wall time per
    # pass swings with the host's load far more than CPU time does.
    print(f"{'fail_rate':36s} {run.failed / run.attempted:14.6f} share ({run.failed}/{run.attempted})")
    if timed:
        print(f"{'pass_s':36s} {statistics.median(p['pass_s'] for p in timed):14.6f} s "
              f"(median of {len(timed)})")
    for k, (v, unit) in metrics.items():
        print(f"{k:36s} {v:14.6f} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
