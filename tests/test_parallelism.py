"""``operators/parallelism`` is the one materialization point and the one
concurrency helper.

``materialize`` is the single place that chooses how a relation is
stored and ``concurrently`` the single way driver work overlaps, so
either policy changes in one module.  The pin walks every package
module's AST: outside ``operators/parallelism.py`` no module may call
``localCheckpoint``/``checkpoint``/``persist``/``cache`` or import
``concurrent.futures``/``threading``.
"""

from __future__ import annotations

import ast
import threading
import time
from pathlib import Path

import pytest

from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
    concurrently,
    materialize,
)
from tests.conftest import job_ids

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "rick_and_morty_data_pipeline_project_spark"
HOME = PKG / "operators" / "parallelism.py"
STORE_CALLS = {"localCheckpoint", "checkpoint", "persist", "cache"}
THREAD_MODULES = ("concurrent.futures", "threading")


def _imports(node: ast.AST) -> list[str]:
    if isinstance(node, ast.Import):
        return [alias.name for alias in node.names]
    if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
        # ``from concurrent import futures`` imports concurrent.futures
        return [node.module, *(f"{node.module}.{a.name}" for a in node.names)]
    return []


def _violations(path: Path) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text())):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in STORE_CALLS
        ):
            found.append(f"{node.func.attr}() line {node.lineno}")
        for name in _imports(node):
            if any(name == m or name.startswith(m + ".") for m in THREAD_MODULES):
                found.append(f"import {name} line {node.lineno}")
    return found


def test_only_parallelism_materializes_or_starts_threads():
    broken = {
        path.relative_to(PKG).as_posix(): v
        for path in sorted(PKG.rglob("*.py"))
        if path != HOME and (v := _violations(path))
    }
    assert not broken, f"use parallelism.materialize/concurrently: {broken}"


def test_materialize_calls_local_checkpoint_at_call_time():
    # a wrapper installed on the method after import (a tracer, a test
    # patch) must see every call
    class Rel:
        def localCheckpoint(self):
            return "stored"

    assert materialize(Rel()) == "stored"
    Rel.localCheckpoint = lambda self: "wrapped"
    assert materialize(Rel()) == "wrapped"


def test_concurrently_returns_in_argument_order():
    def after(delay, value):
        def call():
            time.sleep(delay)
            return value

        return call

    assert concurrently(after(0.2, "a"), after(0.0, "b"), after(0.1, "c")) == [
        "a",
        "b",
        "c",
    ]
    assert concurrently() == []


def test_concurrently_nests_without_waiting_for_a_worker():
    # all four leaves must run at once to pass the barrier: a bounded
    # shared pool would deadlock here, one thread per call cannot
    barrier = threading.Barrier(4, timeout=10)

    def pair():
        return concurrently(barrier.wait, barrier.wait)

    assert sorted(sum(concurrently(pair, pair), [])) == [0, 1, 2, 3]


def test_concurrently_jobs_carry_the_callers_job_group(spark):
    def first():
        spark.range(10).count()

    def second():
        spark.range(20).count()

    on_caller = job_ids(spark, lambda: (first(), second()))
    assert len(on_caller) >= 2
    in_threads = job_ids(spark, lambda: concurrently(first, second))
    assert len(in_threads) == len(on_caller)


class _Failed(RuntimeError):
    pass


def test_concurrently_raises_first_failure_after_every_call_returns():
    returned = []

    def fail(msg, delay):
        def call():
            time.sleep(delay)
            raise _Failed(msg)

        return call

    def slow():
        time.sleep(0.5)
        returned.append("slow")

    before = set(threading.enumerate())
    # "second" fails first in time; "first" is first in argument order
    with pytest.raises(_Failed, match="first"):
        concurrently(fail("first", 0.2), slow, fail("second", 0.0))
    assert returned == ["slow"]
    left = [
        th.name
        for th in threading.enumerate()
        if th not in before and th.name.startswith("ThreadPoolExecutor")
    ]
    assert left == []
