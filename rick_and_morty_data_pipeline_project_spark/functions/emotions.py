"""Deterministic 6-emotion text scorer.

Replaces the reference's external ParallelDots API call
(``paralleldots.emotion(text)``, Scraper.py:244,319,345 — SURVEY.md §2.1
SRC-6) with a pure, local, *SQL-expressible* lexicon scorer:

    score(emotion, text) = |{tokens of text that belong to emotion's lexicon}|
                           ----------------------------------------------------
                                         |tokens of text|

The lexicon is FROZEN (word → emotion assigned once via md5(word) % 6 over
the corpus vocabulary and hard-coded below) so that:

* the Spark side is lambda-free built-in SQL (``split``/``array_remove``/
  ``array_size``): every expression is whole-stage-codegen'd, with no
  interpreted higher-order function and no Python UDF in the hot path;
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


def emotion_score_cols(text_expr: str) -> dict[str, Column]:
    """One Column per emotion over the Spark SQL expression ``text_expr``
    (usually a column name); attach with
    ``df.select("*", *[v.alias(k) ...])``.

    Walking ``EMOTIONS`` in order, ``rest_k`` is ``rest_{k-1}`` with
    emotion k's words removed (``rest_0`` is the token array), and
    emotion k's hit count is ``size(rest_{k-1}) - size(rest_k)``.  That
    counts exactly the tokens in emotion k's lexicon only because the
    lexicons are pairwise disjoint.  Codegen subexpression elimination
    shares the chain across the six columns, so each ``array_remove``
    runs once per row.  ``array_size`` keeps a NULL text NULL whatever
    ``spark.sql.legacy.sizeOfNull`` says."""
    toks = f"split({text_expr}, ' ')"
    out: dict[str, Column] = {}
    rest = toks
    for emo in EMOTIONS:
        prev = rest
        for w in LEXICON[emo]:
            rest = f"array_remove({rest}, '{w}')"
        out[emo] = F.expr(
            f"(array_size({prev}) - array_size({rest})) / array_size({toks})"
        )
    return out


def emotion_score_sqls(text_expr: str) -> dict[str, str]:
    """DuckDB SQL expression per emotion: the scores of
    :func:`emotion_score_cols`, formulated independently (list lambda
    filter / integer counts / float division) so oracle parity checks
    the remove chain rather than repeating it."""
    out: dict[str, str] = {}
    toks = f"string_split({text_expr}, ' ')"
    for emo in EMOTIONS:
        words = ", ".join(f"'{w}'" for w in LEXICON[emo])
        out[emo] = (
            f"(len(list_filter({toks}, t -> t IN ({words})))"
            f" / len({toks}))"
        )
    return out

