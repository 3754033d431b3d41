"""The lexicon emotion scorer against two independent formulations: a
pure-Python token count and its DuckDB twin (``emotion_score_sqls``)."""

from __future__ import annotations

from itertools import combinations

import duckdb

from rick_and_morty_data_pipeline_project_spark.functions.emotions import (
    EMOTIONS,
    LEXICON,
    emotion_score_cols,
    emotion_score_sqls,
)

TEXTS = [
    "the table the sort the",  # lexicon words repeated
    " spark join ",  # leading and trailing space
    "data  scan  value",  # doubled spaces
    "   ",
    "",
    None,
    "The TABLE Spark",  # upper case matches nothing
    "tables theory rows",  # words that extend lexicon words
    "customer line a batch agg fast big group unknown",  # every emotion
]


def _python_scores(text: str | None) -> dict[str, float | None]:
    if text is None:
        return dict.fromkeys(EMOTIONS)
    toks = text.split(" ")
    return {e: sum(t in LEXICON[e] for t in toks) / len(toks) for e in EMOTIONS}


def test_lexicons_pairwise_disjoint():
    """The remove chain in ``emotion_score_cols`` credits a word to the
    first emotion whose lexicon holds it, so the scores are exact only
    while no word sits in two lexicons."""
    for a, b in combinations(EMOTIONS, 2):
        assert not set(LEXICON[a]) & set(LEXICON[b]), (a, b)
    assert sorted(LEXICON) == sorted(EMOTIONS)


def test_scorer_matches_python_count_and_duckdb_twin(spark):
    rows = list(enumerate(TEXTS))
    scores = emotion_score_cols("text")
    got = {
        r["id"]: {e: r[e] for e in EMOTIONS}
        for r in spark.createDataFrame(rows, "id int, text string")
        .select("id", *[scores[e].alias(e) for e in EMOTIONS])
        .collect()
    }

    sqls = emotion_score_sqls("text")
    cols = ", ".join(f"{sqls[e]} AS {e}" for e in EMOTIONS)
    with duckdb.connect() as con:
        con.execute("CREATE TABLE docs (id INTEGER, text VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
        twin = {
            r[0]: dict(zip(EMOTIONS, r[1:]))
            for r in con.execute(f"SELECT id, {cols} FROM docs").fetchall()
        }

    for i, text in rows:
        want = _python_scores(text)
        assert got[i] == want, (text, got[i], want)
        assert twin[i] == want, (text, twin[i], want)
    # the cases above exercise a hit for every emotion
    assert all(any(got[i][e] for i, _ in rows) for e in EMOTIONS)
