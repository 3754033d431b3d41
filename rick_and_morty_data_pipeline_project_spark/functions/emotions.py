"""Deterministic 6-emotion text scorer.

Replaces the reference's external ParallelDots API call
(``paralleldots.emotion(text)``, Scraper.py:244,319,345 — SURVEY.md §2.1
SRC-6) with a pure, local, *SQL-expressible* lexicon scorer:

    score(emotion, text) = |{tokens of text that belong to emotion's lexicon}|
                           ----------------------------------------------------
                                         |tokens of text|

The lexicon is FROZEN (word → emotion assigned once via md5(word) % 6 over
the corpus vocabulary and hard-coded below) so that:

* the Spark side is pure built-in higher-order functions
  (``split``/``filter``/``size``) — whole-stage-codegen'd JVM execution,
  no Python UDF in the hot path;
* the DuckDB oracle can reproduce it exactly (list lambdas), giving a
  full value-hash correctness check rather than a rows-only check;
* integer/integer division is performed identically (both engines produce
  a float64 quotient of exact integers) → bitwise-equal scores.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EMOTIONS = ["happy", "angry", "bored", "fear", "sad", "excited"]

# Frozen assignment: md5(word) % 6 over the corpus vocabulary (TESTDATA.md
# documents table). Unknown words simply count toward the denominator.
LEXICON: dict[str, list[str]] = {
    "happy": ["customer", "line"],
    "angry": ["a", "batch", "small", "stream", "vector"],
    "bored": ["agg", "column", "data", "scan", "value"],
    "fear": ["fast", "hash", "join", "order", "query", "spark", "table"],
    "sad": ["big", "dup", "filter", "part", "slow", "window"],
    "excited": ["group", "key", "merge", "row", "sort", "the"],
}


def tokens_col(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


def emotion_score_cols(text_col: str | Column) -> dict[str, Column]:
    """One Column per emotion; attach with ``df.select("*", *[v.alias(k)...])``."""
    toks = tokens_col(text_col)
    n = F.size(toks)
    out: dict[str, Column] = {}
    for emo in EMOTIONS:
        words = LEXICON[emo]
        hits = F.size(F.filter(toks, lambda t: t.isin(words)))  # noqa: B023
        out[emo] = hits / n
    return out


def emotion_score_sqls(text_expr: str) -> dict[str, str]:
    """DuckDB SQL expression per emotion, exactly mirroring
    :func:`emotion_score_cols` (list lambda filter / integer counts /
    float division)."""
    out: dict[str, str] = {}
    toks = f"string_split({text_expr}, ' ')"
    for emo in EMOTIONS:
        words = ", ".join(f"'{w}'" for w in LEXICON[emo])
        out[emo] = (
            f"(len(list_filter({toks}, t -> t IN ({words})))"
            f" / len({toks}))"
        )
    return out

