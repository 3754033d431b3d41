"""Reference-flagship queries (EP-2 / EP-3, SURVEY.md §3) restated over
the driver corpus.

"Episodes" and "strains" are derived from the documents table: docs from
source src0/src1 play the episodes (left side), the rest play the
strains (right side); each side is scored with the deterministic
6-emotion lexicon scorer (the SRC-6 replacement).  This keeps the
flagship semantics — horizontal top-2, two-stage Top-K, greedy
matching without replacement (MUT-1), per-group best match with
replacement — runnable and oracle-checkable on the driver's tables.

* EP-3 (with replacement) is fully set-oriented → full DuckDB oracle.
* EP-2 (greedy, order-dependent DELETE semantics) is inherently
  sequential → rows-only driver check; exact parity against a
  straight-Python re-execution is asserted in tests/test_matching.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.functions.emotions import (
    EMOTIONS,
    emotion_score_cols,
    emotion_score_sqls,
)
from rick_and_morty_data_pipeline_project_spark.operators.matching import (
    best_match_with_replacement,
    greedy_match_without_replacement,
)
from rick_and_morty_data_pipeline_project_spark.operators.topk import (
    top2_emotions_cols,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import Q, t

_EMO_SQLS = emotion_score_sqls("text")
_EMO_SELECT = ",\n         ".join(f"{_EMO_SQLS[e]} AS {e}" for e in EMOTIONS)

EPISODE_SOURCES = ("src0", "src1")
# SQL text: a Column-built predicate costs dozens of py4j round trips
_IS_EPISODE = "source IN ({})".format(", ".join(f"'{s}'" for s in EPISODE_SOURCES))


def _scored_sides(spark, sf_dir):
    # no fan_out: the codegen'd lexicon scorer is cheap enough per row
    # that a balancing shuffle of the documents costs more CPU than it
    # spreads (PERFORMANCE.md "Lambda-free emotion scorer")
    d = t(spark, sf_dir, "documents")
    scores = emotion_score_cols("text")
    scored = d.select(
        "doc_id", "source", *[scores[e].alias(e) for e in EMOTIONS]
    )
    episodes = scored.filter(_IS_EPISODE)
    strains = scored.filter(f"NOT {_IS_EPISODE}")
    return episodes, strains


def flagship_greedy_match(spark, sf_dir):
    """EP-2: greedy matching without replacement (sequential semantics —
    rows-only oracle; Python-oracle parity in tests)."""
    episodes, strains = _scored_sides(spark, sf_dir)
    return greedy_match_without_replacement(
        spark,
        episodes,
        strains,
        left_id="doc_id",
        right_id="doc_id",
        k1=100,
    )


def flagship_best_match_with_replacement(spark, sf_dir):
    """EP-3: per-episode best strain WITH replacement — set-oriented,
    full SQL oracle (two-stage Top-K via two window row_numbers)."""
    episodes, strains = _scored_sides(spark, sf_dir)
    top, second = top2_emotions_cols()
    left = episodes.select(
        "doc_id",
        top.alias("top_emotion"),
        second.alias("second_emotion"),
    )
    out = best_match_with_replacement(left, strains, "doc_id", k1=100)
    return out.select(
        "doc_id",
        "top_emotion",
        "second_emotion",
        "matched_doc_id",
        F.round("matched_happy", 9).alias("matched_happy"),
        F.round("matched_excited", 9).alias("matched_excited"),
    )


_SCORED_SQL = f"""
  SELECT doc_id, source,
         {_EMO_SELECT}
  FROM documents
"""

_UNPIVOT_EP = " UNION ALL ".join(
    f"SELECT doc_id, '{e}' AS emo, {e} AS s FROM episodes" for e in EMOTIONS
)

FLAGSHIP_EP3_SQL = f"""
WITH scored AS ({_SCORED_SQL}),
episodes AS (SELECT * FROM scored WHERE source IN ('src0', 'src1')),
strains  AS (SELECT * FROM scored WHERE source NOT IN ('src0', 'src1')),
unp AS ({_UNPIVOT_EP}),
ranked_emo AS (
  SELECT doc_id, emo,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, emo ASC) AS rn
  FROM unp
),
left_side AS (
  SELECT doc_id,
         MAX(CASE WHEN rn = 1 THEN emo END) AS top_emotion,
         MAX(CASE WHEN rn = 2 THEN emo END) AS second_emotion
  FROM ranked_emo GROUP BY doc_id
),
pairs AS (SELECT DISTINCT top_emotion, second_emotion FROM left_side),
cand AS (
  SELECT p.top_emotion, p.second_emotion, s.*,
         CASE p.top_emotion
           WHEN 'happy' THEN s.happy WHEN 'angry' THEN s.angry
           WHEN 'bored' THEN s.bored WHEN 'fear' THEN s.fear
           WHEN 'sad' THEN s.sad ELSE s.excited END AS score_top,
         CASE p.second_emotion
           WHEN 'happy' THEN s.happy WHEN 'angry' THEN s.angry
           WHEN 'bored' THEN s.bored WHEN 'fear' THEN s.fear
           WHEN 'sad' THEN s.sad ELSE s.excited END AS score_second
  FROM pairs p, strains s
),
stage1 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY top_emotion, second_emotion
                               ORDER BY score_top DESC, doc_id ASC) AS rn1
  FROM cand
),
stage2 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY top_emotion, second_emotion
                               ORDER BY score_second DESC, doc_id ASC) AS rn2
  FROM stage1 WHERE rn1 <= 100
),
winners AS (
  SELECT top_emotion, second_emotion, doc_id AS matched_doc_id,
         happy AS matched_happy, excited AS matched_excited
  FROM stage2 WHERE rn2 = 1
)
SELECT l.doc_id, l.top_emotion, l.second_emotion,
       w.matched_doc_id,
       round(w.matched_happy, 9) AS matched_happy,
       round(w.matched_excited, 9) AS matched_excited
FROM left_side l
LEFT JOIN winners w
  ON l.top_emotion = w.top_emotion AND l.second_emotion = w.second_emotion
"""


# EP-2 greedy matching DOES have an exact SQL oracle after all: a
# recursive CTE replays the sequential claim loop — each recursion step
# is one episode (ascending doc_id), carrying the claimed-strain set as
# an accumulating list, with the two-stage Top-K as a correlated
# LATERAL (stage 1: top-100 unclaimed by the episode's top emotion,
# (score DESC, id ASC); stage 2: best of those by the second emotion).
# This mirrors Project_Overview.ipynb cell-12's SELECT→DELETE loop
# exactly (SURVEY.md §3 EP-2 / §7 hard-part 1).
_EMO_CASE_TOP = (
    "CASE e.top_emotion "
    + " ".join(f"WHEN '{e}' THEN s.{e}" for e in EMOTIONS[:-1])
    + f" ELSE s.{EMOTIONS[-1]} END"
)
_EMO_CASE_SECOND = (
    "CASE e.second_emotion "
    + " ".join(f"WHEN '{e}' THEN s.{e}" for e in EMOTIONS[:-1])
    + f" ELSE s.{EMOTIONS[-1]} END"
)
_UNPIVOT_ST = " UNION ALL ".join(
    f"SELECT doc_id, '{e}' AS emo, {e} AS s FROM strains" for e in EMOTIONS
)

FLAGSHIP_EP2_SQL = f"""
WITH RECURSIVE
scored AS ({_SCORED_SQL}),
episodes AS (SELECT * FROM scored WHERE source IN ('src0', 'src1')),
strains  AS (SELECT * FROM scored WHERE source NOT IN ('src0', 'src1')),
unp_e AS ({_UNPIVOT_EP}),
rank_e AS (
  SELECT doc_id, emo,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, emo ASC) AS rn
  FROM unp_e
),
eps AS (
  SELECT doc_id,
         MAX(CASE WHEN rn = 1 THEN emo END) AS top_emotion,
         MAX(CASE WHEN rn = 2 THEN emo END) AS second_emotion,
         ROW_NUMBER() OVER (ORDER BY doc_id) AS step
  FROM rank_e GROUP BY doc_id
),
unp_s AS ({_UNPIVOT_ST}),
rank_s AS (
  SELECT doc_id, emo,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, emo ASC) AS rn
  FROM unp_s
),
strain_t2 AS (
  SELECT doc_id,
         MAX(CASE WHEN rn = 1 THEN emo END) AS r_top,
         MAX(CASE WHEN rn = 2 THEN emo END) AS r_second
  FROM rank_s GROUP BY doc_id
),
g(step, claimed, e_id, top_e, sec_e, m_id) AS (
  SELECT 0, CAST([] AS BIGINT[]), CAST(NULL AS BIGINT),
         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
  UNION ALL
  SELECT e.step,
         CASE WHEN w.w_id IS NULL THEN g.claimed
              ELSE list_append(g.claimed, w.w_id) END,
         e.doc_id, e.top_emotion, e.second_emotion, w.w_id
  FROM g JOIN eps e ON e.step = g.step + 1
  LEFT JOIN LATERAL (
    SELECT s1.doc_id AS w_id FROM (
      SELECT s.doc_id, {_EMO_CASE_SECOND} AS s2v
      FROM strains s
      WHERE NOT list_contains(g.claimed, s.doc_id)
      ORDER BY {_EMO_CASE_TOP} DESC, s.doc_id ASC
      LIMIT 100
    ) s1
    ORDER BY s1.s2v DESC, s1.doc_id ASC
    LIMIT 1
  ) w ON TRUE
)
SELECT g.e_id AS doc_id,
       g.top_e AS top_left_emotion,
       g.sec_e AS second_left_emotion,
       g.m_id AS matched_doc_id,
       t2.r_top AS right_top_emotion,
       t2.r_second AS right_second_emotion
FROM g JOIN strain_t2 t2 ON t2.doc_id = g.m_id
WHERE g.step > 0 AND g.m_id IS NOT NULL
"""


QUERIES: dict[str, Q] = {
    "flagship_greedy_match": Q(flagship_greedy_match, FLAGSHIP_EP2_SQL),
    "flagship_best_match_with_replacement": Q(
        flagship_best_match_with_replacement, FLAGSHIP_EP3_SQL
    ),
}
