"""Reference-parity tests: the flagship EP-2 / EP-3 semantics against a
straight-Python re-execution of the reference's notebook logic
(Project_Overview.ipynb cell-12 / cell-15 — SURVEY.md §3, §5.3)."""

from __future__ import annotations

from rick_and_morty_data_pipeline_project_spark.functions.emotions import EMOTIONS
from rick_and_morty_data_pipeline_project_spark.operators.matching import (
    best_match_with_replacement,
    greedy_match_without_replacement,
)
from rick_and_morty_data_pipeline_project_spark.operators.topk import (
    top2_emotions_cols,
    two_stage_topk,
)
from rick_and_morty_data_pipeline_project_spark.sources.reference_fixtures import (
    episode_emotion,
    episode_emotion_rows,
    strain_review,
    strain_review_rows,
)


def _py_top2(scores: dict[str, float]) -> tuple[str, str]:
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[0][0], ranked[1][0]


def _py_two_stage(rows, first, second, k1, k2, key):
    """Python oracle for TOPK-1: ORDER BY first DESC LIMIT k1 →
    ORDER BY second DESC LIMIT k2, tiebreak key asc."""
    s1 = sorted(rows, key=lambda r: (-r[first], r[key]))[:k1]
    return sorted(s1, key=lambda r: (-r[second], r[key]))[:k2]


def _strain_dicts():
    rows = strain_review_rows()
    return [
        dict(
            zip(["strain_id", "strain_name", *EMOTIONS], r, strict=True)
        )
        for r in rows
    ]


def _episode_dicts():
    rows = episode_emotion_rows()
    return [dict(zip(["episode_id", *EMOTIONS], r, strict=True)) for r in rows]


def test_greedy_match_python_oracle(spark):
    """EP-2: greedy, episode-ascending, without replacement (MUT-1)."""
    eps = episode_emotion(spark)
    strains = strain_review(spark)
    got = {
        r["doc_id" if False else "episode_id"]: r
        for r in (
            greedy_match_without_replacement(
                spark,
                eps,
                strains,
                left_id="episode_id",
                right_id="strain_id",
                right_name="strain_name",
                k1=100,
            )
            .collect()
        )
    }

    # Python oracle: faithful re-execution of cell-12 semantics
    strain_pool = _strain_dicts()
    for ep in _episode_dicts():
        top, second = _py_top2({e: ep[e] for e in EMOTIONS})
        best = _py_two_stage(strain_pool, top, second, 100, 1, "strain_id")
        assert best, "pool exhausted unexpectedly"
        b = best[0]
        strain_pool = [s for s in strain_pool if s["strain_id"] != b["strain_id"]]
        g = got[ep["episode_id"]]
        assert g["top_left_emotion"] == top
        assert g["second_left_emotion"] == second
        assert g["matched_strain_id"] == b["strain_id"], ep["episode_id"]
        assert g["matched_strain_name"] == b["strain_name"]
        r_top, r_second = _py_top2({e: b[e] for e in EMOTIONS})
        assert g["right_top_emotion"] == r_top
        assert g["right_second_emotion"] == r_second


def test_greedy_differs_from_with_replacement(spark):
    """MUT-1 must be observable: without-replacement ≠ with-replacement
    (otherwise the DELETE semantics aren't actually exercised)."""
    eps = episode_emotion(spark)
    strains = strain_review(spark)
    greedy = greedy_match_without_replacement(
        spark, eps, strains, left_id="episode_id", right_id="strain_id", k1=100
    ).collect()
    matched = [r["matched_strain_id"] for r in greedy]
    assert len(matched) == len(set(matched)), "greedy must never reuse a strain"

    top, second = top2_emotions_cols()
    left = eps.select(
        "episode_id", top.alias("top_emotion"), second.alias("second_emotion")
    )
    withr = best_match_with_replacement(left, strains, "strain_id", k1=100)
    withr_ids = [r["matched_strain_id"] for r in withr.collect()]
    # with replacement, at least one strain is matched by >1 episode
    assert len(withr_ids) == len(greedy)
    assert len(set(withr_ids)) < len(withr_ids) or matched != withr_ids


def test_two_stage_topk_differs_from_single_sort(spark):
    """TOPK-1 ≠ ORDER BY a, b LIMIT 1 (SURVEY.md §4.2): verify the
    two-stage semantics on the fixture where the overall b-max lies
    outside the a-top-k1."""
    strains = strain_review(spark)
    rows = _strain_dicts()

    two_stage = _py_two_stage(rows, "happy", "excited", 20, 1, "strain_id")[0]
    single = sorted(rows, key=lambda r: (-r["happy"], -r["excited"]))[0]
    assert two_stage["strain_id"] != single["strain_id"], (
        "fixture must distinguish two-stage from single-sort"
    )

    got = two_stage_topk(
        strains, "happy", "excited", k1=20, k2=1, tiebreak="strain_id"
    ).collect()[0]
    assert got["strain_id"] == two_stage["strain_id"]


def test_best_match_with_replacement_python_oracle(spark):
    """EP-3: per-episode best strain with replacement, set-oriented."""
    eps = episode_emotion(spark)
    strains = strain_review(spark)
    top, second = top2_emotions_cols()
    left = eps.select(
        "episode_id", top.alias("top_emotion"), second.alias("second_emotion")
    )
    got = {
        r["episode_id"]: r
        for r in best_match_with_replacement(
            left, strains, "strain_id", k1=100
        ).collect()
    }
    pool = _strain_dicts()
    for ep in _episode_dicts():
        t1, t2 = _py_top2({e: ep[e] for e in EMOTIONS})
        b = _py_two_stage(pool, t1, t2, 100, 1, "strain_id")[0]
        g = got[ep["episode_id"]]
        assert (g["top_emotion"], g["second_emotion"]) == (t1, t2)
        assert g["matched_strain_id"] == b["strain_id"]


def test_greedy_match_guards_driver_collect(spark):
    """The left side is driver-collected (sequential MUT-1 semantics);
    an oversized left relation must raise, not OOM the driver."""
    import pytest
    from pyspark.sql import functions as F

    big_left = spark.range(50).select(
        F.col("id").alias("episode_id"),
        *[F.lit(0.1).alias(e) for e in EMOTIONS],
    )
    strains = strain_review(spark)
    with pytest.raises(ValueError, match="max_left_rows"):
        greedy_match_without_replacement(
            spark,
            big_left,
            strains,
            left_id="episode_id",
            right_id="strain_id",
            max_left_rows=10,
        )


def test_per_emotion_topk_prefixes_equals_per_emotion_heap_topk(spark):
    """The single-pass partial top-k must return EXACTLY the union of
    per-emotion global orderBy().limit(k) prefixes (same tie-break),
    independent of input partitioning — with heavily tied scores, with
    k above every partition's row count, and at the greedy matcher's
    largest default depth and beyond, where ``partial_group_limit``
    must keep the map-side partial limit planned.  Outside that block a
    k above the session threshold still returns the same rows."""
    import inspect

    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.operators.topk import (
        partial_group_limit,
        per_emotion_topk_prefixes,
    )
    from rick_and_morty_data_pipeline_project_spark.plans.explain_utils import (
        partial_group_limits_below_exchange,
    )

    conf = "spark.sql.optimizer.windowGroupLimitThreshold"
    threshold = spark.conf.get(conf)
    greedy = inspect.signature(greedy_match_without_replacement).parameters
    max_depth = greedy["k1"].default + greedy["max_left_rows"].default - 1
    assert max_depth > int(threshold)

    def prefix_pairs(df, k):
        prefixes = per_emotion_topk_prefixes(df, EMOTIONS, "strain_id", k)
        got = sorted(
            (r["_prefix_emotion"], r["strain_id"]) for r in prefixes.collect()
        )
        return got, partial_group_limits_below_exchange(prefixes)

    def heap_pairs(df, k):
        return sorted(
            (e, r["strain_id"])
            for e in EMOTIONS
            for r in df.orderBy(F.desc(e), F.asc("strain_id")).limit(k).collect()
        )

    strains = strain_review(spark).repartition(7)
    # 200 rows over 7 partitions (≤ 29 rows each), 3 distinct scores
    # per emotion: nearly every rank is decided by the id tie-break
    tied = spark.range(200).select(
        F.col("id").alias("strain_id"),
        *[((F.col("id") * (i + 3)) % 3).cast("double").alias(e)
          for i, e in enumerate(EMOTIONS)],
    ).repartition(7)
    cases = [
        (strains, 13), (tied, 17), (tied, 50), (tied, max_depth),
        (tied, 20_000),
    ]
    for df, k in cases:
        with partial_group_limit(spark, k):
            got, partial = prefix_pairs(df, k)
        assert got == heap_pairs(df, k), k
        assert len(partial) == 1, partial
        assert partial[0].endswith(f"row_number(), {k}, Partial"), partial
        assert spark.conf.get(conf) == threshold

    got, partial = prefix_pairs(tied, max_depth)
    assert got == heap_pairs(tied, max_depth)
    assert partial == []


def test_greedy_match_prefix_depth_above_partial_limit_threshold(
    spark, monkeypatch
):
    """A greedy prefix depth past any fixed partial-limit threshold
    (k1 + n_left − 1 > 10,099 here) must still run, keep the map-side
    partial limit in its prefix plan, match the Python oracle, and
    leave the session's threshold as it found it."""
    from rick_and_morty_data_pipeline_project_spark.operators import matching
    from rick_and_morty_data_pipeline_project_spark.plans.explain_utils import (
        partial_group_limits_below_exchange,
    )

    conf = "spark.sql.optimizer.windowGroupLimitThreshold"
    threshold = spark.conf.get(conf)
    k1 = 10_500
    partials = []
    prefixes = matching.per_emotion_topk_prefixes

    def spy(df, emotions, id_col, k):
        out = prefixes(df, emotions, id_col, k)
        # explaining here pins the plan the greedy's collect then runs
        partials.append((k, partial_group_limits_below_exchange(out)))
        return out

    monkeypatch.setattr(matching, "per_emotion_topk_prefixes", spy)
    got = greedy_match_without_replacement(
        spark,
        episode_emotion(spark),
        strain_review(spark),
        left_id="episode_id",
        right_id="strain_id",
        k1=k1,
    ).collect()
    assert spark.conf.get(conf) == threshold
    [(depth, partial)] = partials
    assert depth == k1 + len(got) - 1
    assert len(partial) == 1, partial
    assert partial[0].endswith(f"row_number(), {depth}, Partial"), partial

    pool = _strain_dicts()
    want = []
    for ep in _episode_dicts():
        top, second = _py_top2({e: ep[e] for e in EMOTIONS})
        b = _py_two_stage(pool, top, second, k1, 1, "strain_id")[0]
        pool = [s for s in pool if s["strain_id"] != b["strain_id"]]
        want.append((ep["episode_id"], b["strain_id"]))
    assert sorted((r["episode_id"], r["matched_strain_id"]) for r in got) == (
        sorted(want)
    )


def test_two_stage_topk_property_vs_python(spark):
    """Hypothesis property: two_stage_topk equals a straight-Python
    re-execution of the reference's nested ORDER BY/LIMIT semantics on
    arbitrary score tables (including ties)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from rick_and_morty_data_pipeline_project_spark.operators.topk import (
        two_stage_topk,
    )

    rows_strategy = st.lists(
        st.tuples(
            st.integers(0, 30),
            st.integers(0, 5),  # coarse scores force ties
            st.integers(0, 5),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda r: r[0],
    )

    @settings(max_examples=8, deadline=None)
    @given(rows_strategy)
    def check(rows):
        df = spark.createDataFrame(rows, "id long, a long, b long")
        got = [
            (r["id"], r["a"], r["b"])
            for r in two_stage_topk(
                df, "a", "b", k1=5, k2=2, tiebreak="id"
            ).collect()
        ]
        stage1 = sorted(rows, key=lambda r: (-r[1], r[0]))[:5]
        want = sorted(stage1, key=lambda r: (-r[2], r[0]))[:2]
        assert got == [tuple(r) for r in want]

    check()
