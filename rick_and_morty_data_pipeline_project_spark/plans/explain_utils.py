"""Physical-plan inspection helpers.

The engine's scale story is checked, not asserted by hand: tests read the
formatted plan and verify the properties that matter at 100 TB —
predicate pushdown into the parquet scan, column pruning (ReadSchema),
broadcast joins for dims, TakeOrderedAndProject (heap top-k) instead of
global sorts.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    plan = formatted_plan(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def read_schemas(df: DataFrame) -> list[str]:
    plan = formatted_plan(df)
    return re.findall(r"ReadSchema: (\S+)", plan)


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in formatted_plan(df)


def partial_group_limits_below_exchange(df: DataFrame) -> list[str]:
    """Arguments of every ``WindowGroupLimit … Partial`` node that sits
    directly below an ``Exchange``: the map-side rank limit that bounds
    what a ``row_number() <= k`` window shuffles to at most k rows per
    group and map task.  Reads the initial plan, which an executed
    adaptive plan lists after its final one."""
    plan = formatted_plan(df)
    tree = plan.split("\n\n")[0].split("== Initial Plan ==")[-1]
    out = []
    for node in re.findall(
        r"Exchange \(\d+\)\n[ :|]*\+- WindowGroupLimit \((\d+)\)", tree
    ):
        args = re.search(
            rf"\({node}\) WindowGroupLimit\n(?:.*\n)*?Arguments: (.*)", plan
        ).group(1)
        if args.endswith(", Partial"):
            out.append(args)
    return out


def _executed_lines(df: DataFrame) -> list[str]:
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :|+-"))


def subtrees_below(df: DataFrame, node: str) -> list[str]:
    """The physical subtree under every plan node whose line contains
    ``node`` (e.g. ``"Exchange RoundRobinPartitioning"``), one string
    each: the lines after the node that are indented deeper than it.
    Reads the plan before execution, expressions inline."""
    lines = _executed_lines(df)
    out = []
    for i, line in enumerate(lines):
        if node in line:
            below = []
            for child in lines[i + 1:]:
                if _depth(child) <= _depth(line):
                    break
                below.append(child)
            out.append("\n".join(below))
    return out


def ancestors(df: DataFrame, pattern: str) -> list[str]:
    """The plan nodes above the first node whose line matches the regex
    ``pattern``, nearest first, one line each.  Reads the plan before
    execution, expressions inline."""
    lines = _executed_lines(df)
    i = next(i for i, line in enumerate(lines) if re.search(pattern, line))
    out = [lines[i]]
    for line in reversed(lines[:i]):
        if _depth(line) < _depth(out[-1]):
            out.append(line)
    return out[1:]
