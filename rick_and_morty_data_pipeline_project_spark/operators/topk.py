"""Top-K operators.

TOPK-1 (SURVEY.md §2.5) — the reference's signature two-level
lexicographic Top-K (Project_Overview.ipynb:160):

    SELECT * FROM (SELECT * FROM t ORDER BY {a} DESC LIMIT k1)
    ORDER BY {b} DESC LIMIT k2

This is **not** equivalent to ``ORDER BY a DESC, b DESC LIMIT k2`` — the
two-stage form restricts stage 2 to the a-top-k1 — so we keep two
physical stages.  Spark executes each ``orderBy().limit()`` as
``TakeOrderedAndProject`` (distributed heap top-k, no full sort, no
single-node shuffle of the whole table), which is exactly the plan you
want at 100 TB: each partition keeps k1 rows, one tiny final merge.

AGG-4 — horizontal top-2 across the 6 emotion score columns
(Project_Overview.ipynb:151-156), done with ``sort_array`` over an array
of (‑score, name) structs: ascending sort of the negated score gives
score-descending with name-ascending tiebreak, all JVM-side.

The flagship matchers' per-emotion prefixes (``per_emotion_topk_prefixes``)
are JVM-side too: one corpus pass, then a rank window whose map-side
partial limit bounds the shuffle.  No operator here starts a Python
worker.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rick_and_morty_data_pipeline_project_spark.functions.emotions import EMOTIONS

_GROUP_LIMIT_CONF = "spark.sql.optimizer.windowGroupLimitThreshold"


def two_stage_topk(
    df: DataFrame,
    first: str,
    second: str,
    k1: int = 100,
    k2: int = 1,
    tiebreak: str | None = None,
) -> DataFrame:
    """Two-level Top-K with deterministic tiebreak (SURVEY.md §7 hard-part 2:
    SQLite's unstable ORDER BY on ties → we order by score desc, key asc)."""
    order1 = [F.desc(first)] + ([F.asc(tiebreak)] if tiebreak else [])
    order2 = [F.desc(second)] + ([F.asc(tiebreak)] if tiebreak else [])
    return df.orderBy(*order1).limit(k1).orderBy(*order2).limit(k2)


def per_emotion_topk_prefixes(
    df: DataFrame,
    emotions: list[str],
    id_col: str,
    k: int,
) -> DataFrame:
    """Global top-k rows per emotion (score desc, ``id_col`` asc), each
    row tagged ``_prefix_emotion`` — all emotions in ONE corpus pass.

    The alternative — one ``orderBy().limit(k)`` subtree per emotion —
    is bounded-memory but rescans (and re-computes every upstream
    expression, e.g. the emotion scorer, over) the full corpus once per
    emotion.  This operator is the single-scan form, all in the JVM:

    * ``inline`` of an array of (emotion, score) structs tags every row
      once per emotion, after the upstream scorer ran once per row.
    * ``row_number() <= k`` over ``_prefix_emotion`` plans as a
      WindowGroupLimit: a ``Partial`` copy runs in every map task below
      the exchange and ships at most k rows per emotion, so the shuffle
      and the final rank see ≤ n_partitions·|emotions|·k rows whatever
      the corpus size (pinned in tests/test_plans.py).

    Catalyst inserts that partial limit only while k is at most
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000) when
    the plan is optimized; above it the result is the same but the
    window shuffles the |emotions|× exploded corpus onto ≤ |emotions|
    partitions.  A caller with a larger k runs its action inside
    :func:`partial_group_limit`.
    """
    tags = ", ".join(
        f"struct('{e}' AS _prefix_emotion, `{e}` AS _prefix_score)"
        for e in emotions
    )
    tagged = df.select("*", F.expr(f"inline(array({tags}))"))
    w = Window.partitionBy("_prefix_emotion").orderBy(
        F.desc("_prefix_score"), F.asc(id_col)
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_prefix_score")
    )


@contextmanager
def partial_group_limit(spark: SparkSession, k: int) -> Iterator[None]:
    """Keep the map-side partial limit for ``row_number() <= k`` plans
    optimized inside this block: raises the session's
    ``windowGroupLimitThreshold`` to at least ``k`` and restores it on
    exit.  A ``row_number`` partial limit counts rows per group and
    buffers none, so a large k costs no memory.  The DataFrame must be
    built and its action run inside the block — a plan optimized before
    it keeps the threshold it saw."""
    old = spark.conf.get(_GROUP_LIMIT_CONF)
    if k <= int(old):
        yield
        return
    spark.conf.set(_GROUP_LIMIT_CONF, str(k))
    try:
        yield
    finally:
        spark.conf.set(_GROUP_LIMIT_CONF, old)


def top2_emotions_cols(
    prefix: str = "", emotions: list[str] | None = None
) -> tuple[Column, Column]:
    """(top_emotion, second_emotion) columns from 6 per-emotion score
    columns named ``{prefix}{emotion}``; ties broken by emotion name asc."""
    emotions = emotions or EMOTIONS
    # SQL text, not Column calls: each pyspark Column call costs several
    # py4j round trips, and this array has 6 structs of 2 fields
    arr = "sort_array(array({}))".format(
        ", ".join(f"struct(-`{prefix}{e}` AS neg, '{e}' AS emo)" for e in emotions)
    )
    return F.expr(f"{arr}[0].emo"), F.expr(f"{arr}[1].emo")


def grouped_topk_salted(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    n_salts: int = 32,
    tiebreak: str | None = None,
) -> DataFrame:
    """Exact per-group smallest-k when the number of groups is SMALL —
    the case where a plain ``row_number() over (partition by group)``
    collapses parallelism to one task per group and each task sorts its
    group's full corpus slice (the scale-killer the flagship matcher
    had; VERDICT r1 'What's wrong #1').

    Two stages: (1) salt each row into ``n_salts`` buckets by a
    deterministic hash of the order column, rank within
    ``(group, salt)`` — parallelism = |groups| × n_salts, each task
    holding ~1/n_salts of a group — and keep each bucket's smallest k;
    (2) re-rank only the ≤ |groups|·n_salts·k surviving rows per group.
    min-k(union of per-bucket min-ks) = min-k(all rows), so the result
    is exactly the plain window's.  Stage-2 input is bounded regardless
    of corpus size, so its per-group tasks are trivially small.
    """
    order_keys = [F.asc(order_col)] + (
        [F.asc(tiebreak)] if tiebreak else []
    )
    salt = F.pmod(
        F.xxhash64(F.col(order_col).cast("string")), F.lit(n_salts)
    )
    w1 = Window.partitionBy(*group_cols, "_salt").orderBy(*order_keys)
    stage1 = (
        df.withColumn("_salt", salt)
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_keys)
    return (
        stage1.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
