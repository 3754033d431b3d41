"""Bidirectional best-match operators — the reference's flagship analytics.

EP-2 (Project_Overview.ipynb cell-12, SURVEY.md §3): for each episode in
ascending id order, find the best strain by a two-stage Top-K over the
episode's top-2 emotions, then *remove* the claimed strain (MUT-1,
matching **without** replacement — `DELETE FROM strain_review_table
WHERE strain_id=…`, ipynb:185).  The greedy order-dependence is part of
the semantics, so it is inherently a sequential driver-side loop around
otherwise-declarative distributed Top-K queries.  Unlike the reference we
never mutate the base table: claims accumulate in a driver-side exclusion
set.  The distributed work is ONE corpus pass computing every needed
per-emotion top-k prefix at once (operators/topk.
per_emotion_topk_prefixes: a JVM rank window whose map-side partial
limit keeps the shuffle bounded at any depth, the collect running under
operators/topk.partial_group_limit; depth k1 + n_left − 1 — enough that the
greedy exclusions can never push a needed candidate out of the prefix);
the sequential replay is then driver-side bookkeeping over those small
prefixes, and its rows come back as an Arrow-built local relation
(operators/localrel).  The left side (episodes) is assumed driver-small,
the same assumption the reference hard-codes (41 episodes).

EP-3 (cell-15): per-strain best episode **with** replacement — fully
set-oriented: with replacement the per-pair stage-1 top-k1 equals the
global per-emotion top-k1, so the plan takes all 6 per-emotion top-k1
prefixes in one corpus pass, joins the ≤ 6·k1-row prefix union to the
broadcast (top, second) pair literal (30 rows, a local relation), and
ranks only those bounded rows for stage 2.  No window ever partitions
the full candidate relation on the pair key.

Neither flagship starts a Python worker: every stage is a JVM operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rick_and_morty_data_pipeline_project_spark.functions.emotions import EMOTIONS
from rick_and_morty_data_pipeline_project_spark.operators.localrel import (
    local_relation,
)
from rick_and_morty_data_pipeline_project_spark.operators.topk import (
    partial_group_limit,
    per_emotion_topk_prefixes,
)


def _top2(scores: dict[str, float]) -> tuple[str, str]:
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[0][0], ranked[1][0]


def greedy_match_without_replacement(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_name: str | None = None,
    right_name: str | None = None,
    emotions: list[str] | None = None,
    k1: int = 100,
    max_left_rows: int = 10_000,
) -> DataFrame:
    """EP-2 restated. ``left``/``right`` carry one score column per emotion.

    Returns one row per left row (ascending ``left_id``):
    (left_id, [left_name], top_left_emotion, second_left_emotion,
     matched_<right_id>, [matched_<right_name>], right_top_emotion,
     right_second_emotion).

    The left side is collected to the driver (inherent to MUT-1's
    sequential greedy semantics; the reference hard-codes 41 episodes).
    ``max_left_rows`` guards that collect: misuse on a large left
    relation raises instead of OOMing the driver.
    """
    emotions = emotions or EMOTIONS
    left_cols = [left_id] + ([left_name] if left_name else []) + emotions
    # heap top-k collect bounded at max_left_rows+1: the sentinel row
    # detects overflow without ever shipping an unbounded relation.
    # Both collects come back over Arrow as plain dicts: the replay
    # touches candidate fields ~n·k1 times, and a pyspark Row walks its
    # field list per string-key lookup.
    left_rows = (
        left.select(*left_cols)
        .orderBy(F.asc(left_id))
        .limit(max_left_rows + 1)
        .toArrow()
        .to_pylist()
    )
    if len(left_rows) > max_left_rows:
        raise ValueError(
            f"greedy_match_without_replacement collects the left side to "
            f"the driver (sequential MUT-1 semantics): got > "
            f"{max_left_rows} left rows; raise max_left_rows only if the "
            f"driver can hold them"
        )

    # ONE distributed pass prefetches every needed per-emotion prefix
    # (not one job per left row, and not one rescan per emotion): the
    # greedy exclusion can displace at most n_left−1 candidates, so the
    # unclaimed top-k1 by emotion A is always contained in the global
    # top-(k1 + n_left − 1) by A.  per_emotion_topk_prefixes computes
    # all ≤ 6 prefixes in a single corpus scan (single scoring pass, no
    # cache of the full right side — uncacheable at 100 TB); the replay
    # below is then pure driver-side bookkeeping over ≤ 6·(k1+n_left)
    # collected rows — same result as re-querying per step, measured
    # 25× faster.
    top2_by_left = {
        row[left_id]: _top2({e: row[e] for e in emotions}) for row in left_rows
    }
    depth = k1 + len(left_rows) - 1
    cand_cols = [right_id] + ([right_name] if right_name else []) + emotions
    needed = sorted({t for t, _ in top2_by_left.values()})
    # depth passes Spark's default partial-limit threshold from ~900
    # left rows on; scoping the conf to this collect keeps the prefix
    # shuffle bounded at any depth
    prefix_rows = []
    if needed:
        with partial_group_limit(spark, depth):
            prefix_rows = per_emotion_topk_prefixes(
                right.select(*cand_cols), needed, right_id, depth
            ).toArrow().to_pylist()
    cand_lists: dict[str, list] = {emo: [] for emo in needed}
    for r in prefix_rows:
        cand_lists[r["_prefix_emotion"]].append(r)
    for emo in needed:
        cand_lists[emo].sort(key=lambda r: (-r[emo], r[right_id]))

    claimed: set = set()
    # per-emotion head index: the leading run of claimed entries in a
    # prefix list never unclaims, so each scan may start past it.  With
    # the early-exit stage-1 scan below this keeps the replay ~O(n·k1)
    # instead of the O(n²) a full-list comprehension per iteration
    # costs once n_left reaches the tens of thousands (measured r13:
    # the ×100 left-rows tier needs this; ×1/×10 results identical).
    heads: dict[str, int] = {emo: 0 for emo in needed}
    out_rows: list[tuple] = []
    for row in left_rows:
        top, second = top2_by_left[row[left_id]]
        # stage 1: top-k1 unclaimed by `top` (list is already in
        # (desc top, asc id) order); stage 2: best of those by `second`
        lst = cand_lists[top]
        n_lst = len(lst)
        h = heads[top]
        while h < n_lst and lst[h][right_id] in claimed:
            h += 1
        heads[top] = h
        # index scan, NEVER a lst[h:] slice: the slice copies the
        # remainder of the prefix list per iteration — O(n²) pointer
        # copies that were invisible inside the ×100 wall (67 s) and
        # became the whole wall at ×1000 (500k left rows: >1 h in the
        # copy alone, measured r14 before this fix)
        stage1 = []
        i = h
        while i < n_lst and len(stage1) < k1:
            r = lst[i]
            if r[right_id] not in claimed:
                stage1.append(r)
            i += 1
        if not stage1:
            continue
        b = min(stage1, key=lambda r: (-r[second], r[right_id]))
        r_top, r_second = _top2({e: b[e] for e in emotions})
        claimed.add(b[right_id])
        rec = [row[left_id]]
        if left_name:
            rec.append(row[left_name])
        rec += [top, second, b[right_id]]
        if right_name:
            rec.append(b[right_name])
        rec += [r_top, r_second]
        out_rows.append(tuple(rec))

    schema_cols = (
        [f"{left_id} long"]
        + ([f"{left_name} string"] if left_name else [])
        + ["top_left_emotion string", "second_left_emotion string"]
        + [f"matched_{right_id} long"]
        + ([f"matched_{right_name} string"] if right_name else [])
        + ["right_top_emotion string", "right_second_emotion string"]
    )
    return local_relation(spark, out_rows, ", ".join(schema_cols))


def best_match_with_replacement(
    left: DataFrame,
    right: DataFrame,
    right_id: str,
    emotions: list[str] | None = None,
    k1: int = 100,
) -> DataFrame:
    """EP-3 restated, set-oriented.

    ``left`` must already carry ``top_emotion``/``second_emotion`` columns
    (see :func:`~rick_and_morty_data_pipeline_project_spark.operators.topk.top2_emotions_cols`);
    ``right`` carries per-emotion score columns.  Joins each left row to
    the single right row that wins the two-stage Top-K for that
    (top, second) pair.  Winner columns are prefixed ``matched_``.
    """
    emotions = emotions or EMOTIONS
    # The (top, second) pair domain is the ≤ |emotions|·(|emotions|−1)
    # ordered product — a LITERAL relation, not a fact derived from
    # ``left``.  Enumerating it replaces the old
    # ``left.select(...).distinct()`` (a full scan + shuffle of the
    # left side at any scale — at 100 TB a whole extra pass over the
    # episodes fact) with a 30-row local relation.  Output is
    # bit-identical: winners computed for pairs no left row carries are
    # simply never matched by the final LEFT join (parity proven
    # row-exact at sf0.1 and by the driver oracle at 3 SFs), and the
    # stage-2 window grows only to the fixed 30·k1 bound.
    pairs = local_relation(
        left.sparkSession,
        [(a, b) for a in emotions for b in emotions if a != b],
        "top_emotion string, second_emotion string",
    )

    # Stage 1, scale-safe: WITH replacement there are no exclusions, so
    # the per-pair top-k1 by the pair's top emotion is exactly the
    # GLOBAL top-k1 by that emotion (same (desc score, asc id)
    # tie-break).  per_emotion_topk_prefixes takes all 6 prefixes in a
    # SINGLE bounded-memory corpus pass (one scan, one evaluation of
    # the upstream scorer — the earlier one-TakeOrderedAndProject-per-
    # emotion union rescanned and rescored the corpus 6×, and the round-1
    # pairs-crossJoin-corpus plan collapsed parallelism to ≤30
    # partitions each holding a full corpus copy).  The union is
    # ≤ 6·k1 rows, independent of |right|; all downstream work touches
    # only that prefix.
    prefix = per_emotion_topk_prefixes(right, emotions, right_id, k1)

    emo_map = "map({})".format(", ".join(f"'{e}', `{e}`" for e in emotions))
    cand = (
        prefix.join(
            F.broadcast(pairs),
            F.col("_prefix_emotion") == F.col("top_emotion"),
            "inner",
        )
        .drop("_prefix_emotion")
        .withColumn("_score_second", F.expr(f"{emo_map}[second_emotion]"))
    )

    # Stage 2 ranks ≤ k1 rows per pair (≤ 30·k1 rows total) — the
    # window input is bounded by construction, not by corpus size.
    pw = Window.partitionBy("top_emotion", "second_emotion")
    stage2 = cand.withColumn(
        "_rn2",
        F.row_number().over(
            pw.orderBy(F.desc("_score_second"), F.asc(right_id))
        ),
    ).filter(F.col("_rn2") == 1)

    winners = stage2.selectExpr(
        "top_emotion",
        "second_emotion",
        *[f"`{c}` AS `matched_{c}`" for c in [right_id, *emotions]],
    )
    return left.join(
        F.broadcast(winners), ["top_emotion", "second_emotion"], "left"
    )
