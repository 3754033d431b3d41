"""Text-analysis + deduplication query family over the documents table.

These are the training-data-pipeline operators (BASELINE.json north
star): emotion scoring (the reference's SRC-6 ParallelDots replacement),
quality scoring, token stats, language ID, fingerprinting, exact dedup,
MinHash signatures + LSH candidate pairs, n-gram Jaccard, SimHash.

Everything is md5/lexicon-based so the DuckDB oracle reproduces results
exactly (see functions/emotions.py, functions/textfns.py docstrings).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rick_and_morty_data_pipeline_project_spark.functions.emotions import (
    EMOTIONS,
    emotion_score_cols,
    emotion_score_sqls,
)
from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
    fingerprint_col,
    quality_score_cols,
    shingles_from_tokens,
    tokens_col,
)
from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
    exact_dedup_stats,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash16,
    simhash64,
    NIBBLE_BIT_CHARS,
)
from rick_and_morty_data_pipeline_project_spark.operators.localrel import (
    local_relation,
)
from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
    concurrently,
    fan_out,
    materialize,
)
from rick_and_morty_data_pipeline_project_spark.operators.topk import (
    top2_emotions_cols,
    two_stage_topk,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import (
    APPROX_PCTL_ACCURACY,
    Q,
    approx_pctl,
    t,
)

_EMO_SQLS = emotion_score_sqls("text")
_EMO_SELECT = ",\n       ".join(f"{_EMO_SQLS[e]} AS {e}" for e in EMOTIONS)


# --------------------------------------------------------------------------
def text_emotion_scores(spark, sf_dir):
    """SRC-6 replacement: deterministic lexicon 6-emotion scores per doc."""
    d = t(spark, sf_dir, "documents")
    scores = emotion_score_cols("text")
    return d.select(
        "doc_id", "lang", *[scores[e].alias(e) for e in EMOTIONS]
    )


TEXT_EMOTION_SQL = f"""
SELECT doc_id, lang,
       {_EMO_SELECT}
FROM documents
"""


def unpivot_emotion_scores(spark, sf_dir):
    """UNPIVOT (wide → long): melt the 6 emotion score columns into
    (doc_id, emotion, score) rows — the reshape every tidy-data
    consumer wants and the one relational operator family the catalog
    didn't yet exercise.  ``DataFrame.unpivot`` is a pure narrow
    expression expansion (6 output rows per input row, no shuffle)."""
    wide = text_emotion_scores(spark, sf_dir)
    return wide.unpivot(
        ["doc_id"], EMOTIONS, "emotion", "score"
    )


UNPIVOT_EMOTION_SQL = f"""
WITH wide AS (
  SELECT doc_id, {_EMO_SELECT}
  FROM documents
)
{" UNION ALL ".join(
    f"SELECT doc_id, '{e}' AS emotion, {e} AS score FROM wide"
    for e in EMOTIONS
)}
"""


# --------------------------------------------------------------------------
def text_top2_emotions(spark, sf_dir):
    """AGG-4: horizontal top-2 across the 6 scores, emotion-name tiebreak."""
    d = t(spark, sf_dir, "documents")
    scores = emotion_score_cols("text")
    scored = d.select("doc_id", *[scores[e].alias(e) for e in EMOTIONS])
    top, second = top2_emotions_cols()
    return scored.select(
        "doc_id", top.alias("top_emotion"), second.alias("second_emotion")
    )


_UNPIVOT = " UNION ALL ".join(
    f"SELECT doc_id, '{e}' AS emo, {_EMO_SQLS[e]} AS s FROM documents"
    for e in EMOTIONS
)
TEXT_TOP2_SQL = f"""
WITH unp AS ({_UNPIVOT}),
ranked AS (
  SELECT doc_id, emo, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, emo ASC) AS rn
  FROM unp
)
SELECT doc_id,
       MAX(CASE WHEN rn = 1 THEN emo END) AS top_emotion,
       MAX(CASE WHEN rn = 2 THEN emo END) AS second_emotion
FROM ranked
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
def text_quality_scores(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    qs = quality_score_cols(F.col("text"))
    return d.select(
        "doc_id",
        qs["n_tokens"].alias("n_tokens"),
        F.length("text").alias("text_len"),
        F.round(qs["stopword_ratio"], 9).alias("stopword_ratio"),
        F.round(qs["distinct_ratio"], 9).alias("distinct_ratio"),
    )


TEXT_QUALITY_SQL = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       length(text) AS text_len,
       round(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a')))
             / len(string_split(text, ' ')), 9) AS stopword_ratio,
       round(len(list_distinct(string_split(text, ' ')))
             / len(string_split(text, ' ')), 9) AS distinct_ratio
FROM documents
"""


# --------------------------------------------------------------------------
#: Distilled linear quality-filter weights (bias, log-token-count,
#: stopword ratio, distinct ratio, mean token length).  Frozen literals
#: by design: production quality filters (fastText/DCLM-style) are
#: trained OFFLINE on a labeled sample and distilled to a linear scorer
#: whose inference must run engine-side at corpus scale — the engine's
#: job is the featurize+score pass, not the training.
QUALITY_CLF_W = (-2.0, 0.45, -1.8, 2.2, 0.15)


def quality_classifier_score(text_col, n_tokens=None, distinct_ratio=None):
    """The distilled classifier's sigmoid score as a reusable Column —
    the SINGLE definition shared by the catalog query, its SQL twin's
    structure, and curate_corpus's optional gate (one definition, no
    rounding-boundary drift between 'copies' of the same model).

    ``n_tokens``/``distinct_ratio`` accept already-materialized feature
    columns (curate_corpus stages both) so a caller that has them pays
    no second split/array_distinct pass; defaults recompute from the
    text."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(c, " ")
    if n_tokens is None:
        n_tokens = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin("the", "a"))) / n_tokens
    )
    if distinct_ratio is None:
        distinct_ratio = F.size(F.array_distinct(toks)) / n_tokens
    mean_tok_len = (
        F.length(F.replace(c, F.lit(" "), F.lit(""))) / n_tokens
    )
    w0, w1, w2, w3, w4 = QUALITY_CLF_W
    z = (
        F.lit(w0)
        + F.lit(w1) * F.log(n_tokens.cast("double") + F.lit(1.0))
        + F.lit(w2) * stop_ratio
        + F.lit(w3) * distinct_ratio
        + F.lit(w4) * mean_tok_len
    )
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


def text_quality_classifier(spark, sf_dir):
    """Model-based quality filtering: a distilled linear classifier
    (sigmoid over engine-computed features × frozen literal weights)
    scoring every document, with the keep/drop verdict at 0.5 — the
    standard fastText-style quality-filter stage of an LLM data
    pipeline, run entirely as JVM expressions (zero Python, zero
    shuffle: one narrow corpus scan).  The 0.8 operating threshold is
    part of the distilled model (chosen on validation data offline,
    like the weights); it splits this corpus rather than rubber-
    stamping it.

    Float parity: features are exact integer ratios; ln/exp at the
    6-digit rounding grain matches DuckDB (same envelope as the green
    logprob/zipf queries).  Scale: embarrassingly parallel single scan;
    the weights broadcast as plan literals.
    """
    d = t(spark, sf_dir, "documents")
    score = quality_classifier_score("text")
    return d.select(
        "doc_id",
        score.alias("quality_score"),
        (score >= 0.8).alias("keep"),
    )


TEXT_QUALITY_CLF_SQL = f"""
WITH feats AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a')))
           / len(string_split(text, ' ')) AS stop_ratio,
         len(list_distinct(string_split(text, ' ')))
           / len(string_split(text, ' ')) AS distinct_ratio,
         length(replace(text, ' ', ''))
           / len(string_split(text, ' ')) AS mean_tok_len
  FROM documents
),
scored AS (
  SELECT doc_id,
         {QUALITY_CLF_W[0]!r} + {QUALITY_CLF_W[1]!r} * ln(CAST(n_tokens AS DOUBLE) + 1.0)
           + {QUALITY_CLF_W[2]!r} * stop_ratio
           + {QUALITY_CLF_W[3]!r} * distinct_ratio
           + {QUALITY_CLF_W[4]!r} * mean_tok_len AS z
  FROM feats
)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-z)), 6) AS quality_score,
       round(1.0 / (1.0 + exp(-z)), 6) >= 0.8 AS keep
FROM scored
"""


# --------------------------------------------------------------------------
def text_emotion_by_source(spark, sf_dir):
    """AGG-1 shape (per-group mean of per-item scores) as an exact
    micro-average: Σ hits / Σ tokens per source — integer sums, so the
    quotient is bitwise-stable."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    happy_words = ["customer", "line"]
    return (
        d.select(
            "source",
            F.size(toks).alias("n_toks"),
            F.size(F.filter(toks, lambda x: x.isin(happy_words))).alias(
                "n_happy"
            ),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("n_happy") / F.sum("n_toks")).alias("happy_micro_avg"),
        )
    )


TEXT_EMO_SOURCE_SQL = """
SELECT source, COUNT(*) AS n_docs,
       SUM(len(list_filter(string_split(text, ' '), t -> t IN ('customer', 'line'))))
         / SUM(len(string_split(text, ' '))) AS happy_micro_avg
FROM documents
GROUP BY source
"""


# --------------------------------------------------------------------------
def dedup_exact_stats(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return exact_dedup_stats(d, "doc_id", "text")


DEDUP_EXACT_SQL = """
SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
       MIN(doc_id) AS keeper_id,
       COUNT(*) AS dup_count
FROM documents
GROUP BY 1
"""


# --------------------------------------------------------------------------
def dedup_dup_factor_profile(spark, sf_dir):
    """(group_size, n_groups, n_docs, doc_share) — the histogram of
    EXACT-duplicate group sizes (r13 continuation).  This is THE
    statistic that prices the exact-duplicate collapse the r13
    frontiers run on: a corpus whose doc mass sits in group_size > 1
    rows shrinks its quadratic near-dup stages by the dup factor
    squared, while an all-singletons profile says the collapse is one
    cheap groupBy of pure insurance.  One text-keyed aggregate + one
    histogram aggregate over the |distinct group sizes| relation;
    doc_share is an integer ratio divided once and rounded — exact in
    both engines."""
    d = t(spark, sf_dir, "documents")
    g = d.groupBy("text").agg(
        F.count(F.lit(1)).cast("long").alias("group_size")
    )
    prof = g.groupBy("group_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups")
    ).withColumn(
        "n_docs", (F.col("group_size") * F.col("n_groups")).cast("long")
    )
    tot = prof.agg(F.sum("n_docs").cast("long").alias("_total"))
    return (
        prof.crossJoin(F.broadcast(tot))
        .select(
            "group_size",
            "n_groups",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double") / F.col("_total"), 6
            ).alias("doc_share"),
        )
    )


DUP_FACTOR_SQL = """
WITH g AS (
  SELECT CAST(count(*) AS BIGINT) AS group_size FROM documents GROUP BY text
),
p AS (
  SELECT group_size,
         CAST(count(*) AS BIGINT) AS n_groups,
         CAST(group_size * count(*) AS BIGINT) AS n_docs
  FROM g GROUP BY 1
),
t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM p)
SELECT p.group_size, p.n_groups, p.n_docs,
       round(CAST(p.n_docs AS DOUBLE) / t.total, 6) AS doc_share
FROM p, t
"""


# --------------------------------------------------------------------------
def dedup_minhash_signatures(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, "doc_id", "text", num_hashes=8, shingle_k=3)
    return sigs.select(
        "doc_id", F.concat_ws("|", "sig").alias("signature")
    )


def _minhash_sql_expr(i: int) -> str:
    # Component i = min over shingles of hex slice [8i, 8i+8) of the
    # concatenated md5(s) || md5(s || '#') digest material — must match
    # textfns.shingle_hashes_col / minhash_components exactly.
    return f"list_min(list_transform(hs, m -> substr(m, {8 * i + 1}, 8)))"


_SHINGLES_SQL = """
  SELECT doc_id,
         list_transform(
           CASE WHEN len(toks) >= 3
                THEN list_transform(generate_series(1, len(toks) - 2),
                                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                ELSE [array_to_string(toks, ' ')]
           END, s -> md5(s) || md5(s || '#')) AS hs
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
"""

DEDUP_MINHASH_SQL = f"""
WITH shingled AS ({_SHINGLES_SQL})
SELECT doc_id,
       {" || '|' || ".join(_minhash_sql_expr(i) for i in range(8))} AS signature
FROM shingled
"""


# --------------------------------------------------------------------------
def dedup_minhash_lsh_candidates(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    # band_size=4 (2 bands of 4): the synthetic corpus has a tiny
    # vocabulary, so 2-component bands collide for ~35% of all pairs
    # (6M false candidates at sf0.1); 4-component bands target the
    # actual near-dup range (est. jaccard ≳ 0.7).
    return minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=8, band_size=4, shingle_k=3
    )


_SIG_ARRAY_SQL = (
    "[" + ", ".join(_minhash_sql_expr(i) for i in range(8)) + "]"
)
# Shared banding CTE chain (2 bands of 4 over the 8-component
# signature) — the SINGLE source of the banding constants for every
# LSH-derived oracle (candidates, clusters, incremental, audit): a
# band-size retune edits exactly one string.
_BANDED_CTE_SQL = f"""shingled AS ({_SHINGLES_SQL}),
sigs AS (SELECT doc_id, {_SIG_ARRAY_SQL} AS sig FROM shingled),
banded AS (
  SELECT doc_id, sig,
         CAST(b.b AS VARCHAR) || '|' || array_to_string(sig[4*b.b + 1 : 4*b.b + 4], '|') AS band
  FROM sigs, (SELECT unnest(generate_series(0, 1)) AS b) b
)"""

DEDUP_LSH_SQL = f"""
WITH {_BANDED_CTE_SQL}
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_filter(generate_series(1, 8), i -> a.sig[i] = b.sig[i])) / 8 AS jaccard_est
FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
"""


# --------------------------------------------------------------------------
def graph_triangle_count(spark, sf_dir):
    """Triangle census of the MinHash-LSH near-dup candidate graph —
    the cluster-SHAPE audit behind the connected-components treatment:
    a high global clustering coefficient (triangles close most wedges)
    means candidate components are tight cliques and min-label
    propagation converges in O(1) rounds; a wedge-heavy, triangle-poor
    graph means chains/stars — transitive merges of NON-similar docs —
    so the keeper policy needs pairwise verification, not blind CC.

    Plan shape: the edge list (same banding constants as
    ``dedup_minhash_lsh_candidates``) is materialized once so
    the degree pass and the two wedge/closure joins reuse the
    materialized pairs instead of recomputing the LSH pipeline three
    times (the ``dedup_minhash_clusters`` lineage trick).  Triangles
    come from the textbook two-join enumeration over id-canonical
    edges (each triangle x<y<z counted exactly once as (x,y)+(y,z)+
    (x,z)); wedges are a closed-form sum over the degree relation.  At
    100 TB the refinement is degree-ordered orientation (orient edges
    low→high degree, bounding wedge fan-out by O(√m)); on a near-dup
    graph whose degree is already bounded by band-collision width, the
    id-canonical form shuffles only candidate pairs — never documents.

    Float parity: global clustering = 3·T/W divides two exact counts;
    both engines round the identical double to 6.
    """
    d = t(spark, sf_dir, "documents")
    e = materialize(
        minhash_lsh_pairs(
            d, "doc_id", "text", num_hashes=8, band_size=4, shingle_k=3
        ).select("id_a", "id_b")
    )
    deg = (
        e.select(F.col("id_a").alias("node"))
        .unionByName(e.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.id_b") == F.col("e2.id_a"))
        .join(
            e.alias("e3"),
            (F.col("e3.id_a") == F.col("e1.id_a"))
            & (F.col("e3.id_b") == F.col("e2.id_b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("n_wedges"),
    )
    edges_n = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(edges_n)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
                ),
            ).alias("global_clustering"),
        )
    )


def dedup_lsh_recall_audit(spark, sf_dir):
    """Pair-level RECALL/PRECISION of the MinHash-LSH banding against
    exact ground truth — the audit ``dedup_minhash_estimate_audit``
    cannot do: that one scores the estimate on pairs the banding
    FOUND; this one also counts the true near-dup pairs the banding
    MISSED (fn), which is the number that decides whether 2 bands of 4
    are enough before you trust LSH dedup at 100 TB.

    Truth = exact distinct-3-gram Jaccard ≥ 0.7 over ALL pairs,
    computed with the inverted-index posting join (only
    shingle-sharing pairs materialize, the Jaccard length filter
    prunes inside the join — never |docs|²).  Candidates = the same
    banding constants as ``dedup_minhash_lsh_candidates``.  One
    full-outer join on the pair key → a single confusion row
    (tp/fn/fp, recall, precision).
    """
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    d = t(spark, sf_dir, "documents")
    truth = (
        ngram_jaccard_pairs(
            d.withColumn("_blk", F.lit(1)),
            "doc_id",
            "text",
            "_blk",
            shingle_k=3,
            threshold=0.7,
        )
        .select("id_a", "id_b")
        .withColumn("_t", F.lit(1))
    )
    cand = (
        minhash_lsh_pairs(
            d, "doc_id", "text", num_hashes=8, band_size=4, shingle_k=3
        )
        .select("id_a", "id_b")
        .withColumn("_c", F.lit(1))
    )
    conf = truth.join(cand, ["id_a", "id_b"], "full_outer").agg(
        F.count(
            F.when(F.col("_t").isNotNull() & F.col("_c").isNotNull(), 1)
        ).alias("tp"),
        F.count(
            F.when(F.col("_t").isNotNull() & F.col("_c").isNull(), 1)
        ).alias("fn"),
        F.count(
            F.when(F.col("_t").isNull() & F.col("_c").isNotNull(), 1)
        ).alias("fp"),
    )
    return conf.select(
        (F.col("tp") + F.col("fn")).alias("n_truth"),
        (F.col("tp") + F.col("fp")).alias("n_candidates"),
        "tp",
        "fn",
        "fp",
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.round(
                F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 6
            ),
        ).alias("recall"),
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.round(
                F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6
            ),
        ).alias("precision"),
    )


DEDUP_LSH_RECALL_SQL = f"""
WITH {_BANDED_CTE_SQL},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
),
tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sets AS (
  SELECT doc_id, list_distinct(
    CASE WHEN len(toks) >= 3
         THEN list_transform(generate_series(1, len(toks) - 2),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         ELSE [array_to_string(toks, ' ')] END) AS s
  FROM tok
),
posting AS (
  SELECT doc_id, n, sh FROM (
    SELECT doc_id, len(s) AS n, unnest(s) AS sh FROM sets)
),
truth AS (
  -- same inverted-index shape as the engine: only shingle-sharing
  -- pairs materialize (the n² list_intersect form was minutes at sf0.1)
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS DOUBLE) AS c,
           any_value(a.n) AS na, any_value(b.n) AS nb
    FROM posting a JOIN posting b
      ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY 1, 2)
  WHERE c / (na + nb - c) >= 0.7
),
conf AS (
  SELECT
    COUNT(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL THEN 1 END)
      AS tp,
    COUNT(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NULL THEN 1 END) AS fn,
    COUNT(CASE WHEN t.id_a IS NULL AND c.id_a IS NOT NULL THEN 1 END) AS fp
  FROM truth t FULL OUTER JOIN cand c
    ON t.id_a = c.id_a AND t.id_b = c.id_b
)
SELECT tp + fn AS n_truth, tp + fp AS n_candidates, tp, fn, fp,
       CASE WHEN tp + fn > 0
            THEN ROUND(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall,
       CASE WHEN tp + fp > 0
            THEN ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision
FROM conf
"""


# ---------------------------------------------------------------------------
# Profile-gated exact-duplicate collapse (r14; r13 verdict item 4).
# The r13 collapse made the two dedup frontiers run their quadratic
# stages on |distinct texts| — a dup-factor² win on twin-heavy corpora
# — but paid an unconditional full-width groupBy(text) (+ checkpoint)
# of ~2 s/query on the all-singleton sf0.1 base.  The gate prices that
# insurance with ONE cheap probe before choosing a plan, the same
# bounded single-row-collect dispatch shape as sample_source_mixture's
# window/salted-top-k gate:
#
#   count(*) vs count(DISTINCT xxhash64(text))
#
# shuffles 8-byte hashes with map-side partial aggregation instead of
# full document texts.  BOTH branches are exact — the direct path IS
# the doc-level oracle semantics, and the collapse path equals it by
# the r13 expansion identities — so the gate is a pure cost decision:
# the collapse pays a linear full-width groupBy(text) to shrink the
# quadratic pair stages by (n/h)², which only pays when a material
# fraction of the doc mass is collapsible.  The dispatch requires
# ≥ 5% collapsible rows (n − h ≥ 0.05·h): the ×20/×100 tiled tiers
# (dup factor 20+) collapse, while a stray handful of twins (sf0.1
# ships 8 in 5000) keeps the cheap direct plan.  xxhash64 collisions
# between DIFFERENT texts only inflate the apparent dup count —
# conservative toward the collapse branch, never toward missing one.
# Path equivalence on dup-heavy input is pinned by forcing both
# branches in tests/test_dedup_similarity.py (the
# sample_source_mixture bit-identity precedent).

_COLLAPSE_MIN_DUP_SHARE = 0.05


def _dup_collapse_gate(d, force=None):
    """(groups, collapsed): ``groups`` is one row per distinct text
    ``(doc_id = group-min, text, _g = group size)`` when collapsed,
    else the corpus itself with ``_g = 1`` (module comment above).
    ``force``: ``"collapse"`` / ``"direct"`` skip the probe (tests +
    multi-arm consumers that already ran it)."""
    if force is None:
        probe = d.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.xxhash64("text")).alias("h"),
        ).collect()[0]
        collapsed = (probe["n"] - probe["h"]) >= (
            _COLLAPSE_MIN_DUP_SHARE * probe["h"]
        )
    else:
        collapsed = force == "collapse"
    if not collapsed:
        return (
            d.select(
                "doc_id", "text", F.lit(1).cast("long").alias("_g")
            ),
            False,
        )
    return (
        materialize(
            d.groupBy("text").agg(
                F.min("doc_id").alias("doc_id"),
                F.count(F.lit(1)).alias("_g"),
            )
        ),
        True,
    )


def shared_dedup_relations(spark, sf_dir, dup_path=None):
    """(groups, collapsed, co) built ONCE for multi-arm consumers —
    the run-card composition runs BOTH dedup frontiers, which would
    otherwise each re-scan and re-shingle the same corpus.
    ``co`` is the weakest-threshold QUALIFYING co-occurrence relation
    (id_a, id_b, _c, _na, _nb), i.e. pairs with J ≥ the weakest swept
    threshold: the threshold sweep consumes it directly and the
    banding frontier's exact-truth set is its J ≥ 0.7 subset (a pair
    with J ≥ 0.7 has size ratio ≥ 0.7, so the 0.1 length-filter
    pruning loses nothing).  The J-filter is applied BEFORE the
    materialization — the raw co-occurrence relation (every pair
    sharing ≥ 1 shingle) is orders of magnitude larger than the
    qualifying set and must never be materialized (measured: 5× the
    whole card's wall when it was)."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        _ngram_cooccurrence,
    )

    d = t(spark, sf_dir, "documents")
    groups, collapsed = _dup_collapse_gate(d, force=dup_path)
    weakest = min(_DEDUP_SWEEP_PCTS)
    co = materialize(
        _ngram_cooccurrence(
            groups.withColumn("_blk", F.lit(1)),
            "doc_id",
            "text",
            "_blk",
            3,
            size_ratio_min=weakest / 100.0,
        ).filter(
            F.lit(100) * F.col("_c")
            >= F.lit(weakest) * (F.col("_na") + F.col("_nb") - F.col("_c"))
        )
    )
    return groups, collapsed, co


# ---------------------------------------------------------------------------
# LSH banding-parameter sweep (r12 continuation — the dedup twin of
# knn_ivf_probe_frontier): recall/precision of EVERY banding of the
# 8-hash MinHash signature against exact 3-gram Jaccard ≥ 0.7 truth,
# in one relation.  band_size s ∈ {1,2,4,8} ⇒ (8/s bands of s rows):
# the collision probability 1−(1−J^s)^(8/s) walks the full S-curve
# from recall-greedy (8×1) to precision-greedy (1×8) — this is THE
# table a 100 TB dedup deployment reads to pick its banding before
# trusting LSH.  One pass: signatures are computed once, every config
# emits its band keys into ONE exploded relation (15 rows/doc), one
# self-join covers all four configs (the s#b key prefix keeps configs
# from colliding), and the exact-truth pair set is computed once and
# crossed with the 4-row config relation for the per-config confusion.

_BANDING_SIZES = (1, 2, 4, 8)


def dedup_lsh_banding_frontier(spark, sf_dir, dup_path=None, _shared=None):
    """(band_size, n_bands, n_truth, n_candidates, tp, fn, fp, recall,
    precision) for every banding of the 8-hash signature — the
    recall/precision/cost frontier of MinHash LSH (module comment
    above).

    ``dup_path`` forces the collapse gate's branch (tests pin both
    branches bit-identical); ``_shared`` is the
    :func:`shared_dedup_relations` triple when the run card amortizes
    the corpus scan/shingle across both dedup arms."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        minhash_signatures,
    )

    # EXACT-DUPLICATE COLLAPSE (r13, profile-gated r14 — gate comment
    # above _dup_collapse_gate): identical texts ⇒ identical shingle
    # sets ⇒ identical MinHash signatures ⇒ the pair is an LSH
    # candidate at EVERY banding and a truth pair (J = 1 ≥ 0.7), so
    # within-group doc pairs contribute C(g,2) to tp at every
    # band_size and nothing to fn/fp; cross-group doc pairs inherit
    # the rep pair's (cand, truth) classification with weight g_a·g_b.
    # Both the signature/banding self-join AND the exact-truth posting
    # join then run on |distinct texts| — on exact-twin-heavy corpora
    # the quadratic stages shrink by the dup factor squared.  The
    # expansion identities are pinned against a doc-level Python
    # reference in tests/test_dedup_similarity.py; the oracle stays the
    # doc-level SQL.
    if _shared is not None:
        groups, collapsed, co = _shared
    else:
        d = t(spark, sf_dir, "documents")
        groups, collapsed = _dup_collapse_gate(d, force=dup_path)
        co = None
    gsz = groups.select("doc_id", "_g")
    sigs = minhash_signatures(
        groups, "doc_id", "text", num_hashes=8, shingle_k=3
    )
    structs = []
    for s in _BANDING_SIZES:
        for b in range(8 // s):
            structs.append(
                F.struct(
                    F.lit(s).alias("band_size"),
                    F.concat_ws(
                        "|",
                        F.lit(f"{s}#{b}"),
                        *[F.col("sig")[b * s + j] for j in range(s)],
                    ).alias("band"),
                )
            )
    banded = sigs.select(
        "doc_id", F.explode(F.array(*structs)).alias("_b")
    ).select("doc_id", F.col("_b.band_size").alias("band_size"), F.col("_b.band").alias("band"))
    a = banded.select(
        "band_size", "band", F.col("doc_id").alias("id_a")
    )
    b_ = banded.select(
        "band_size", "band", F.col("doc_id").alias("id_b")
    )
    # group-pair weight = g_a·g_b doc pairs represented by a rep pair
    # (all-singleton direct path: every weight is literally 1 — the
    # two join stages vanish from the plan instead of multiplying by 1)
    def _weighted(df, wname):
        if not collapsed:
            return df.withColumn(wname, F.lit(1).cast("long"))
        return (
            df.join(
                gsz.select(
                    F.col("doc_id").alias("id_a"), F.col("_g").alias("_ga")
                ),
                "id_a",
            )
            .join(
                gsz.select(
                    F.col("doc_id").alias("id_b"), F.col("_g").alias("_gb")
                ),
                "id_b",
            )
            .withColumn(wname, (F.col("_ga") * F.col("_gb")).cast("long"))
            .drop("_ga", "_gb")
        )

    cand = _weighted(
        a.join(b_, ["band_size", "band"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("band_size", "id_a", "id_b")
        .dropDuplicates(["band_size", "id_a", "id_b"]),
        "_c",
    )
    if co is not None:
        # shared co-occurrence (run-card mode): the J ≥ 0.7 truth set
        # is a pure filter over the already-materialized weakest-
        # threshold relation — same float expression as
        # ngram_jaccard_pairs, so the pair set is identical and the
        # posting join is not paid a second time.
        tpairs = (
            co.select(
                "id_a",
                "id_b",
                (
                    F.col("_c")
                    / (F.col("_na") + F.col("_nb") - F.col("_c"))
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= 0.7)
            .select("id_a", "id_b")
        )
    else:
        tpairs = ngram_jaccard_pairs(
            groups.withColumn("_blk", F.lit(1)),
            "doc_id",
            "text",
            "_blk",
            shingle_k=3,
            threshold=0.7,
        ).select("id_a", "id_b")
    # feeds the cross with all four configs — ``materialize`` the
    # posting join once
    truth = materialize(_weighted(tpairs, "_t"))
    cfgs = local_relation(
        spark, [(s,) for s in _BANDING_SIZES], "band_size int"
    )
    truth4 = truth.crossJoin(F.broadcast(cfgs)).select(
        "band_size", "id_a", "id_b", "_t"
    )
    # within-group doc pairs: truth AND candidate at every banding
    wpairs = groups.agg(
        F.sum(F.expr("_g * (_g - 1) DIV 2")).cast("long").alias("_wp")
    )
    conf_agg = (
        truth4.join(cand, ["band_size", "id_a", "id_b"], "full_outer")
        .groupBy("band_size")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_t").isNotNull() & F.col("_c").isNotNull(),
                        F.col("_t"),
                    )
                ),
                F.lit(0),
            ).cast("long").alias("_tpx"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_t").isNotNull() & F.col("_c").isNull(),
                        F.col("_t"),
                    )
                ),
                F.lit(0),
            ).cast("long").alias("_fnx"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_t").isNull() & F.col("_c").isNotNull(),
                        F.col("_c"),
                    )
                ),
                F.lit(0),
            ).cast("long").alias("_fpx"),
        )
    )
    # anchor on the 4-config relation: the doc-level confusion emits a
    # band_size row iff a truth OR candidate DOC pair exists at that
    # size — twins alone (truth+cand at every size) must keep all 4
    # rows even when no group-rep pair qualifies
    conf = (
        cfgs.join(conf_agg, "band_size", "left")
        .crossJoin(F.broadcast(wpairs))
        .filter(F.col("_fnx").isNotNull() | (F.col("_wp") > 0))
        .select(
            "band_size",
            (
                F.coalesce(F.col("_tpx"), F.lit(0)) + F.col("_wp")
            ).cast("long").alias("tp"),
            F.coalesce(F.col("_fnx"), F.lit(0)).cast("long").alias("fn"),
            F.coalesce(F.col("_fpx"), F.lit(0)).cast("long").alias("fp"),
        )
    )
    return conf.select(
        "band_size",
        (F.lit(8) / F.col("band_size")).cast("long").alias("n_bands"),
        (F.col("tp") + F.col("fn")).alias("n_truth"),
        (F.col("tp") + F.col("fp")).alias("n_candidates"),
        "tp",
        "fn",
        "fp",
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.round(
                F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 6
            ),
        ).alias("recall"),
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.round(
                F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6
            ),
        ).alias("precision"),
    )


def _banding_frontier_sql() -> str:
    cfg_rows = ", ".join(
        f"({s}, {b})" for s in _BANDING_SIZES for b in range(8 // s)
    )
    return f"""
WITH shingled AS ({_SHINGLES_SQL}),
sigs AS (SELECT doc_id, {_SIG_ARRAY_SQL} AS sig FROM shingled),
cfgs(s, b) AS (VALUES {cfg_rows}),
banded_all AS (
  SELECT doc_id, c.s AS band_size,
         CAST(c.s AS VARCHAR) || '#' || CAST(c.b AS VARCHAR) || '|' ||
           array_to_string(sig[c.s*c.b + 1 : c.s*c.b + c.s], '|') AS band
  FROM sigs, cfgs c
),
cand AS (
  SELECT DISTINCT a.band_size, a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded_all a JOIN banded_all b
    ON a.band = b.band AND a.band_size = b.band_size
   AND a.doc_id < b.doc_id
),
tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sets AS (
  SELECT doc_id, list_distinct(
    CASE WHEN len(toks) >= 3
         THEN list_transform(generate_series(1, len(toks) - 2),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         ELSE [array_to_string(toks, ' ')] END) AS s
  FROM tok
),
posting AS (
  SELECT doc_id, n, sh FROM (
    SELECT doc_id, len(s) AS n, unnest(s) AS sh FROM sets)
),
truth AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS DOUBLE) AS c,
           any_value(a.n) AS na, any_value(b.n) AS nb
    FROM posting a JOIN posting b
      ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY 1, 2)
  WHERE c / (na + nb - c) >= 0.7
),
truth4 AS (
  SELECT s.s AS band_size, t.id_a, t.id_b
  FROM truth t, (SELECT DISTINCT s FROM cfgs) s
),
conf AS (
  SELECT COALESCE(t.band_size, c.band_size) AS band_size,
    COUNT(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL THEN 1 END)
      AS tp,
    COUNT(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NULL THEN 1 END) AS fn,
    COUNT(CASE WHEN t.id_a IS NULL AND c.id_a IS NOT NULL THEN 1 END) AS fp
  FROM truth4 t FULL OUTER JOIN cand c
    ON t.band_size = c.band_size AND t.id_a = c.id_a AND t.id_b = c.id_b
  GROUP BY 1
)
SELECT band_size, CAST(8 / band_size AS BIGINT) AS n_bands,
       tp + fn AS n_truth, tp + fp AS n_candidates, tp, fn, fp,
       CASE WHEN tp + fn > 0
            THEN ROUND(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall,
       CASE WHEN tp + fp > 0
            THEN ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision
FROM conf
"""


BANDING_FRONTIER_SQL = _banding_frontier_sql()


# ---------------------------------------------------------------------------
# Dedup threshold sweep (r12 continuation — the third decision table:
# tier frontier = "which index", banding sweep = "which banding", this
# = "how aggressive"): pair counts, removal counts and corpus
# retention at every Jaccard threshold 10..90%, from ONE posting join.
# (The driver corpus is bimodal — near-dups cluster at J ≈ 1.0 with a
# thin J ≈ 0.1 shelf — so the sweep also documents THAT: a flat
# 50..90 row block is the corpus's signature, not a bug.)
# The threshold predicate is pure INTEGER arithmetic
# (100·c ≥ pct·(|A|+|B|−c)) so no float edge can flip a pair between
# engines — the r12 sf0.1 sweep's lesson applied at birth.  Removal
# rule: drop every doc having a near-dup with a SMALLER doc_id (the
# relational keep-first form — deterministic, one aggregate, an upper
# bound on sequential greedy removal; the CC-based treatment lives in
# dedup_minhash_clusters / dedup_semantic_clusters).

_DEDUP_SWEEP_PCTS = (10, 30, 50, 70, 90)


def dedup_threshold_frontier(spark, sf_dir, dup_path=None, _shared=None):
    """(threshold_pct, n_pairs, n_docs_removed, n_docs, retention) for
    Jaccard thresholds 10..90% — the aggressiveness dial a curation
    pipeline reads to pick its dedup threshold (module comment
    above).

    ``dup_path`` forces the collapse gate's branch (tests pin both
    branches bit-identical); ``_shared`` is the
    :func:`shared_dedup_relations` triple when the run card amortizes
    the corpus scan/shingle across both dedup arms."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        _ngram_cooccurrence,
    )

    # EXACT-DUPLICATE COLLAPSE before the quadratic stage (r13; the
    # curation-pipeline ordering — exact dedup, THEN near-dedup):
    # identical texts have identical shingle sets, so Jaccard is
    # constant on duplicate-group pairs and every doc-level count
    # expands combinatorially from group-level ones.  The quadratic
    # co-occurrence stage then runs on |distinct texts|, not |docs| —
    # on a 20×-tiled corpus (every doc has 19 exact twins, the shape
    # real corpora explode in) that is a 400× smaller pair space.
    # The r12-verdict prefix-filter hypothesis was MEASURED and
    # rejected for this query: at the weakest swept threshold (10%)
    # the PPJoin prefix keeps ~90% of every doc's shingles, and on a
    # dense shared vocabulary (sf0.1: 27k distinct shingles, mean
    # df ≈ 48) the candidate set exploded to ~25M pairs at ×5 docs
    # while the exact verify re-paid each pair × its shingle count —
    # the aggregate-once co-occurrence join IS the right shape at low
    # thresholds (PERFORMANCE.md "negative result", r13).  The r14
    # high-threshold measurement rejected the prefix operator there
    # too — it is adjudicated LIBRARY-ONLY (operators/setjoin.py
    # docstring; COVERAGE.md frozen set).
    #
    # Doc-level ⇒ group-level identities (g = group size, rep id =
    # group MIN doc_id; proven in tests/test_dedup_similarity.py):
    #   n_pairs(t)        = Σ_{qual pairs} g_a·g_b + Σ_G C(g,2)
    #     (within-group pairs have J = 1 ≥ every swept t)
    #   n_docs_removed(t) = (n_docs − n_groups)            [non-minima]
    #                     + |{G seen as id_b in qual(t)}|  [group minima
    #       removed iff a qualifying neighbor group has a smaller min —
    #       id_a < id_b on rep ids IS the min comparison]
    # (r14: the collapse is now PROFILE-GATED — _dup_collapse_gate's
    # module comment — so dup-free corpora skip the text groupBy and
    # the weighting joins entirely, while the identities above keep
    # the two branches bit-identical.)
    if _shared is not None:
        groups, collapsed, co = _shared
    else:
        d = t(spark, sf_dir, "documents")
        groups, collapsed = _dup_collapse_gate(d, force=dup_path)
        co = _ngram_cooccurrence(
            groups.withColumn("_blk", F.lit(1)),
            "doc_id",
            "text",
            "_blk",
            3,
            size_ratio_min=min(_DEDUP_SWEEP_PCTS) / 100.0,
        )
    # prune with the WEAKEST swept threshold BEFORE the 5× fan-out
    # (lossless: every kept pair satisfies pct=10)
    weakest = min(_DEDUP_SWEEP_PCTS)
    qual = co.filter(
        F.lit(100) * F.col("_c")
        >= F.lit(weakest) * (F.col("_na") + F.col("_nb") - F.col("_c"))
    )
    gsz = groups.select("doc_id", "_g")
    if collapsed:
        qualg = qual.join(
            gsz.select(
                F.col("doc_id").alias("id_a"), F.col("_g").alias("_ga")
            ),
            "id_a",
        ).join(
            gsz.select(
                F.col("doc_id").alias("id_b"), F.col("_g").alias("_gb")
            ),
            "id_b",
        )
    else:
        # direct path: every group is a singleton, so the weights are
        # literally 1 and the two re-joins vanish from the plan
        qualg = qual.withColumn(
            "_ga", F.lit(1).cast("long")
        ).withColumn("_gb", F.lit(1).cast("long"))
    px = qualg.select(
        "id_a",
        "id_b",
        "_c",
        "_na",
        "_nb",
        "_ga",
        "_gb",
        F.explode(
            F.array(*[F.lit(p) for p in _DEDUP_SWEEP_PCTS])
        ).alias("threshold_pct"),
    ).filter(
        F.lit(100) * F.col("_c")
        >= F.col("threshold_pct")
        * (F.col("_na") + F.col("_nb") - F.col("_c"))
    )
    stats = px.groupBy("threshold_pct").agg(
        F.sum(F.col("_ga") * F.col("_gb")).cast("long").alias("_xpairs"),
        F.countDistinct("id_b").cast("long").alias("_gremoved"),
    )
    trange = local_relation(
        spark, [(p,) for p in _DEDUP_SWEEP_PCTS], "threshold_pct int"
    )
    # group-level constants: docs, groups, within-group (J=1) pairs and
    # non-minimum members — all exact integers from ONE tiny aggregate
    gstats = groups.agg(
        F.sum("_g").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("_ngroups"),
        F.sum(F.expr("_g * (_g - 1) DIV 2")).cast("long").alias("_wpairs"),
    )
    return (
        trange.join(stats, "threshold_pct", "left")
        .crossJoin(F.broadcast(gstats))
        .select(
            "threshold_pct",
            (
                F.coalesce(F.col("_xpairs"), F.lit(0)) + F.col("_wpairs")
            ).cast("long").alias("n_pairs"),
            (
                F.coalesce(F.col("_gremoved"), F.lit(0))
                + F.col("n_docs")
                - F.col("_ngroups")
            ).cast("long").alias("n_docs_removed"),
            "n_docs",
            F.round(
                F.lit(1.0)
                - (
                    F.coalesce(F.col("_gremoved"), F.lit(0))
                    + F.col("n_docs")
                    - F.col("_ngroups")
                ).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("retention"),
        )
    )


def _threshold_frontier_sql() -> str:
    pcts = ", ".join(f"({p})" for p in _DEDUP_SWEEP_PCTS)
    return f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sets AS (
  SELECT doc_id, list_distinct(
    CASE WHEN len(toks) >= 3
         THEN list_transform(generate_series(1, len(toks) - 2),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         ELSE [array_to_string(toks, ' ')] END) AS s
  FROM tok
),
posting AS (
  SELECT doc_id, n, sh FROM (
    SELECT doc_id, len(s) AS n, unnest(s) AS sh FROM sets)
),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS c,
         CAST(any_value(a.n) AS BIGINT) AS na,
         CAST(any_value(b.n) AS BIGINT) AS nb
  FROM posting a JOIN posting b
    ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pcts(threshold_pct) AS (VALUES {pcts}),
px AS (
  SELECT p.threshold_pct, co.id_a, co.id_b
  FROM co, pcts p
  WHERE 100 * co.c >= p.threshold_pct * (co.na + co.nb - co.c)
),
stats AS (
  SELECT threshold_pct,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(DISTINCT id_b) AS BIGINT) AS n_docs_removed
  FROM px GROUP BY 1
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT p.threshold_pct,
       CAST(coalesce(s.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(s.n_docs_removed, 0) AS BIGINT) AS n_docs_removed,
       nd.n_docs,
       round(1.0 - CAST(coalesce(s.n_docs_removed, 0) AS DOUBLE)
                   / nd.n_docs, 6) AS retention
FROM pcts p LEFT JOIN stats s ON s.threshold_pct = p.threshold_pct, nd
"""


THRESHOLD_FRONTIER_SQL = _threshold_frontier_sql()


# ---------------------------------------------------------------------------
# Quality-filter threshold sweep (r12 continuation — the fourth
# decision table: "how strict a quality gate").  The distilled linear
# classifier's 6-dp-rounded sigmoid score (driver-proven identical
# across engines in text_quality_classifier) is compared against every
# operating threshold 50..90% in one scan: documents kept, token
# retention (the number that actually prices a training run), both as
# exact integer sums divided once — no rounding anywhere downstream of
# the proven score, so no tie surface exists.  Thresholds enter as
# pct/100.0 (IEEE division is correctly rounded, so both engines
# compare against the identical double).

_QUALITY_SWEEP_PCTS = (50, 60, 70, 80, 90)


def text_quality_threshold_frontier(spark, sf_dir):
    """(threshold_pct, n_kept, n_docs, keep_rate, tokens_kept,
    tokens_total, token_retention) for classifier-score thresholds
    50..90% — the strictness dial of the model-based quality filter
    (module comment above)."""
    d = t(spark, sf_dir, "documents")
    scored = d.select(
        quality_classifier_score("text").alias("q"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("_ntok"),
    )
    px = scored.select(
        "q",
        "_ntok",
        F.explode(
            F.array(*[F.lit(p) for p in _QUALITY_SWEEP_PCTS])
        ).alias("threshold_pct"),
    )
    kept = F.col("q") >= F.col("threshold_pct").cast("double") / F.lit(
        100.0
    )
    stats = px.groupBy("threshold_pct").agg(
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(kept, F.col("_ntok")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
    )
    tot = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_ntok").cast("long").alias("tokens_total"),
    )
    return stats.crossJoin(F.broadcast(tot)).select(
        "threshold_pct",
        "n_kept",
        "n_docs",
        (F.col("n_kept").cast("double") / F.col("n_docs")).alias(
            "keep_rate"
        ),
        "tokens_kept",
        "tokens_total",
        (
            F.col("tokens_kept").cast("double") / F.col("tokens_total")
        ).alias("token_retention"),
    )


def _quality_frontier_sql() -> str:
    pcts = ", ".join(f"({p})" for p in _QUALITY_SWEEP_PCTS)
    return f"""
WITH feats AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a')))
           / len(string_split(text, ' ')) AS stop_ratio,
         len(list_distinct(string_split(text, ' ')))
           / len(string_split(text, ' ')) AS distinct_ratio,
         length(replace(text, ' ', ''))
           / len(string_split(text, ' ')) AS mean_tok_len
  FROM documents
),
scored AS (
  SELECT round(1.0 / (1.0 + exp(-({QUALITY_CLF_W[0]!r}
           + {QUALITY_CLF_W[1]!r} * ln(CAST(n_tokens AS DOUBLE) + 1.0)
           + {QUALITY_CLF_W[2]!r} * stop_ratio
           + {QUALITY_CLF_W[3]!r} * distinct_ratio
           + {QUALITY_CLF_W[4]!r} * mean_tok_len))), 6) AS q,
         CAST(n_tokens AS BIGINT) AS ntok
  FROM feats
),
pcts(threshold_pct) AS (VALUES {pcts}),
stats AS (
  SELECT p.threshold_pct,
         CAST(sum(CASE WHEN s.q >= p.threshold_pct / 100.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(sum(CASE WHEN s.q >= p.threshold_pct / 100.0
                       THEN s.ntok ELSE 0 END) AS BIGINT) AS tokens_kept
  FROM scored s, pcts p
  GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS tokens_total FROM scored)
SELECT s.threshold_pct, s.n_kept, t.n_docs,
       CAST(s.n_kept AS DOUBLE) / t.n_docs AS keep_rate,
       s.tokens_kept, t.tokens_total,
       CAST(s.tokens_kept AS DOUBLE) / t.tokens_total AS token_retention
FROM stats s, tot t
"""


QUALITY_FRONTIER_SQL = _quality_frontier_sql()


_KCORE_K = 2


def graph_kcore_peel(spark, sf_dir):
    """Three unrolled k-core peeling rounds (k = 2) over the MinHash-
    LSH near-dup candidate graph — the graph-curation filter that
    separates clique-like duplicate clusters from pendant/chain
    matches: a 2-core survivor has ≥2 independent near-dup links
    (strong cluster evidence), while chain ends — single weak band
    collisions — peel away.  Reports (round, n_nodes, n_darts) per
    round so convergence is visible (darts = directed edge slots;
    undirected edges = darts/2).

    Plan shape: the candidate edge list (same banding constants as
    ``dedup_minhash_lsh_candidates``, materialized in both directions)
    is materialized once — the three rounds' degree
    aggregates and LEFT SEMI induced-subgraph joins all read the
    checkpointed pairs, never recomputing the LSH pipeline (the
    ``graph_triangle_count`` trick).  Each round is one node-keyed
    aggregate + two semi joins over a monotonically shrinking edge
    list; an open-ended variant loops with checkpoint truncation like
    ``dedup_minhash_clusters``.
    """
    d = t(spark, sf_dir, "documents")
    und = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=8, band_size=4, shingle_k=3
    ).select("id_a", "id_b")
    e = materialize(
        und.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            und.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
    )
    out = None
    for i in (1, 2, 3):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
        keep = deg.filter(F.col("_d") >= _KCORE_K).select("src")
        e = e.join(keep, "src", "left_semi").join(
            keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
        )
        stats = e.agg(
            F.count_distinct("src").alias("n_nodes"),
            F.count(F.lit(1)).alias("n_darts"),
        ).select(F.lit(i).alias("round"), "n_nodes", "n_darts")
        out = stats if out is None else out.unionByName(stats)
    return out


GRAPH_KCORE_SQL = f"""
WITH {_BANDED_CTE_SQL},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
),
e0 AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM cand
),
k1 AS (SELECT src FROM e0 GROUP BY src HAVING count(*) >= {_KCORE_K}),
e1 AS (SELECT e.src, e.dst FROM e0 e
       JOIN k1 a ON e.src = a.src JOIN k1 b ON e.dst = b.src),
k2 AS (SELECT src FROM e1 GROUP BY src HAVING count(*) >= {_KCORE_K}),
e2 AS (SELECT e.src, e.dst FROM e1 e
       JOIN k2 a ON e.src = a.src JOIN k2 b ON e.dst = b.src),
k3 AS (SELECT src FROM e2 GROUP BY src HAVING count(*) >= {_KCORE_K}),
e3 AS (SELECT e.src, e.dst FROM e2 e
       JOIN k3 a ON e.src = a.src JOIN k3 b ON e.dst = b.src)
SELECT 1 AS round, count(DISTINCT src) AS n_nodes, count(*) AS n_darts
FROM e1
UNION ALL
SELECT 2, count(DISTINCT src), count(*) FROM e2
UNION ALL
SELECT 3, count(DISTINCT src), count(*) FROM e3
"""


GRAPH_TRIANGLES_SQL = f"""
WITH {_BANDED_CTE_SQL},
edges AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT id_a AS node FROM edges
        UNION ALL SELECT id_b AS node FROM edges)
  GROUP BY node
),
agg AS (
  SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
         (SELECT COUNT(*) FROM edges) AS n_edges,
         (SELECT COUNT(*) FROM edges e1
            JOIN edges e2 ON e2.id_a = e1.id_b
            JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
           AS n_triangles,
         (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges
)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
       CASE WHEN n_wedges > 0
            THEN ROUND(3.0 * n_triangles / n_wedges, 6) END
         AS global_clustering
FROM agg
"""


# --------------------------------------------------------------------------
def dedup_ngram_jaccard(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, "doc_id", "text", block_col="source", shingle_k=2, threshold=0.05
    )


DEDUP_JACCARD_SQL = """
WITH sh AS (
  SELECT doc_id, source,
         list_distinct(
           CASE WHEN len(toks) >= 2
                THEN list_transform(generate_series(1, len(toks) - 1),
                                    i -> toks[i] || ' ' || toks[i+1])
                ELSE [array_to_string(toks, ' ')]
           END) AS grams
  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_filter(a.grams, g -> list_contains(b.grams, g)))
         / (len(a.grams) + len(b.grams) - len(list_filter(a.grams, g -> list_contains(b.grams, g)))) AS jaccard
FROM sh a
JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_filter(a.grams, g -> list_contains(b.grams, g)))
        / (len(a.grams) + len(b.grams) - len(list_filter(a.grams, g -> list_contains(b.grams, g)))) >= 0.05
"""


def dedup_jaccard_prefix_join(spark, sf_dir):
    """Exact GLOBAL Jaccard ≥ 0.8 pair join with NO blocking column —
    prefix-filtered (SSJoin/PPJoin): rare-shingle prefixes are indexed,
    probed by full posting lists, length-filtered inside the join, and
    only candidates reach the exact intersection count.  Complements
    ``dedup_ngram_jaccard`` (block-keyed posting join: needs a usable
    block column, cost Σ df² within blocks) and ``dedup_minhash_lsh_*``
    (probabilistic): this is the exact, unblocked, threshold-driven
    form — candidates ∝ prefix collisions, the 100 TB shape when no
    natural block key exists.

    Float parity: jaccard = c/(|A|+|B|−c) is integer-derived double
    division — bit-identical in both engines; the oracle computes the
    same value from an unfiltered posting join (plus the trivial-pair
    guard), so any lost candidate (prefix bug) or wrong size carry
    turns the driver row red."""
    from rick_and_morty_data_pipeline_project_spark.operators.setjoin import (
        jaccard_prefix_pairs,
    )

    d = t(spark, sf_dir, "documents")
    # trigram shingles at the industry-standard 0.8 near-dup threshold:
    # k=3 keeps per-shingle posting lists short even on a bounded
    # vocabulary (measured 8x vs bigrams at sf0.1), and t=0.8 keeps
    # prefixes at ~0.2|X|+1 tokens
    return jaccard_prefix_pairs(
        d, "doc_id", "text", shingle_k=3, threshold=0.8
    )


DEDUP_JACCARD_PREFIX_SQL = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(toks) >= 3
                THEN list_transform(generate_series(1, len(toks) - 2),
                                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                ELSE [array_to_string(toks, ' ')]
           END) AS grams
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
post AS (
  SELECT doc_id, len(grams) AS n, unnest(grams) AS s FROM sh
),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         count(*) AS c, any_value(a.n) AS na, any_value(b.n) AS nb
  FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, c / (na + nb - c) AS jaccard
FROM co
WHERE c / (na + nb - c) >= 0.8
"""


def dedup_ngram_containment(spark, sf_dir):
    """Directed n-gram containment pairs — catches short-doc-quoted-in-
    long-doc duplication that symmetric Jaccard dilutes.  Shares the
    inverted-index co-occurrence core (and its collision-bounded 100 TB
    cost) with ``dedup_ngram_jaccard``; both directions are rounded to 9
    so the rational c/n values hash identically."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    d = t(spark, sf_dir, "documents")
    pairs = ngram_containment_pairs(
        d, "doc_id", "text", block_col="source", shingle_k=2, threshold=0.2
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.round("containment_a_in_b", 9).alias("containment_a_in_b"),
        F.round("containment_b_in_a", 9).alias("containment_b_in_a"),
    )


DEDUP_CONTAINMENT_SQL = """
WITH sh AS (
  SELECT doc_id, source,
         list_distinct(
           CASE WHEN len(toks) >= 2
                THEN list_transform(generate_series(1, len(toks) - 1),
                                    i -> toks[i] || ' ' || toks[i+1])
                ELSE [array_to_string(toks, ' ')]
           END) AS grams
  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)
),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_filter(a.grams, g -> list_contains(b.grams, g))) AS c,
         len(a.grams) AS na, len(b.grams) AS nb
  FROM sh a
  JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       round(c / na, 9) AS containment_a_in_b,
       round(c / nb, 9) AS containment_b_in_a
FROM co
WHERE c / na >= 0.2 OR c / nb >= 0.2
"""


# --------------------------------------------------------------------------
def dedup_simhash(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return simhash16(d, "doc_id", "text")


_SIMHASH_VOTES = ",\n         ".join(
    "SUM(CASE WHEN substr(h, {j}, 1) IN ('8','9','a','b','c','d','e','f') "
    "THEN 1 ELSE -1 END) AS v{i}".format(j=i + 1, i=i)
    for i in range(16)
)
_SIMHASH_BITS = " + ".join(
    f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
)
# Shared fingerprint CTE chain — the SINGLE source of the SimHash
# tokenize/hash/vote/bits pipeline for both the fingerprint oracle and
# the pairing oracle (a tokenization or nibble-rule change edits one
# string).
_SIMHASH_SH_CTE_SQL = f"""toks AS (
  SELECT doc_id, md5(t.tok) AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
),
votes AS (
  SELECT doc_id,
         {_SIMHASH_VOTES}
  FROM toks GROUP BY doc_id
),
sh AS (
  SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash FROM votes
)"""

DEDUP_SIMHASH_SQL = f"""
WITH {_SIMHASH_SH_CTE_SQL}
SELECT doc_id, simhash FROM sh
"""


# --------------------------------------------------------------------------
def text_filter_topk(spark, sf_dir):
    """FIL + TOPK-1 on the scored documents (reference EP shape on the
    driver corpus): filter lang, two-stage top-k by happy then excited."""
    d = t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    scores = emotion_score_cols("text")
    scored = d.select(
        "doc_id", *[scores[e].alias(e) for e in EMOTIONS]
    )
    return two_stage_topk(
        scored, "happy", "excited", k1=50, k2=5, tiebreak="doc_id"
    ).select("doc_id", "happy", "excited")


TEXT_FILTER_TOPK_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         {_EMO_SELECT}
  FROM documents WHERE lang = 'en'
)
SELECT doc_id, happy, excited
FROM (SELECT * FROM scored ORDER BY happy DESC, doc_id ASC LIMIT 50)
ORDER BY excited DESC, doc_id ASC
LIMIT 5
"""


# --------------------------------------------------------------------------
# BPE-ish tokenizer: letter runs | digit runs | single punctuation marks —
# the shape a subword pre-tokenizer produces, countable without a model.
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def text_token_stats(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id",
        "text",
        F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0).alias("_bpe"),
    )
    return staged.select(
        "doc_id",
        F.size("_bpe").alias("n_bpe_tokens"),
        F.size(F.split("text", "\\s+")).alias("n_ws_tokens"),
        F.round(
            F.length("text").cast("double") / F.size("_bpe"), 6
        ).alias("chars_per_bpe_token"),
    )


TEXT_TOKEN_SQL = rf"""
SELECT doc_id,
       len(regexp_extract_all(text, '{BPE_RE}')) AS n_bpe_tokens,
       len(string_split_regex(text, '\s+')) AS n_ws_tokens,
       round(CAST(length(text) AS DOUBLE) / len(regexp_extract_all(text, '{BPE_RE}')), 6)
         AS chars_per_bpe_token
FROM documents
"""


# --------------------------------------------------------------------------
def dedup_minhash_clusters(spark, sf_dir):
    """Near-dup CLUSTERS from LSH candidate pairs: min-label-propagation
    connected components (operators/dedup.connected_components).  The
    full dedup pipeline's last step — pairs alone don't dedup anything;
    cluster_id = min doc id in the component is the keeper.  Iterative
    on the Spark side (O(diameter) shuffle rounds); the oracle is the
    equivalent recursive-CTE transitive closure."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        connected_components,
    )

    d = t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=8, band_size=4, shingle_k=3
    )
    return connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_BANDED_CTE_SQL},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION
  SELECT id_b AS src, id_a AS dst FROM cand
),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY 1
"""


# --------------------------------------------------------------------------
def text_pii_redact(spark, sf_dir):
    """PII scrubbing stage — the redaction pass every training-data
    pipeline runs before packing: count and strip contact strings
    (emails, phone-shaped tokens) with chained regex rewrites, emitting
    per-document redaction counts plus an md5 of the scrubbed text so
    the byte-exact rewrite itself is hash-verified.

    The synthetic corpus carries no natural PII, so the exemplar
    deterministically PLANTS surrogate contact strings derived from
    doc_id before scrubbing — the operator under test is the
    JVM-side regex pipeline (``regexp_extract_all`` counts + global
    ``regexp_replace`` chain), and the planted material makes every
    row observable while letting the oracle replay it byte-for-byte.

    Scale: one narrow scan, zero exchanges — counts and rewrites are
    codegen'd expressions; only (id, counts, 32-byte md5) leave the
    stage, never the rewritten text.  Regex subset chosen to mean the
    same thing in Java regex (Spark) and RE2 (DuckDB): character
    classes and ``+`` only, no backrefs, no lookaround.
    """
    email_pat = "[a-z0-9]+@[a-z0-9.]+"
    phone_pat = "555-[0-9]+"
    d = t(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.col("doc_id").cast("string"),
    )
    staged = d.select("doc_id", planted.alias("_p"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("_p"), email_pat, "<EMAIL>"),
        phone_pat,
        "<PHONE>",
    )
    return staged.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("_p"), F.lit(email_pat), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(F.col("_p"), F.lit(phone_pat), F.lit(0))).alias(
            "n_phones"
        ),
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).alias("n_chars_redacted"),
    )


TEXT_PII_SQL = """
WITH staged AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-' || CAST(doc_id AS VARCHAR) AS p
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(p, '[a-z0-9]+@[a-z0-9.]+')) AS n_emails,
       len(regexp_extract_all(p, '555-[0-9]+')) AS n_phones,
       md5(regexp_replace(regexp_replace(p, '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
                          '555-[0-9]+', '<PHONE>', 'g')) AS redacted_md5,
       CAST(len(regexp_replace(regexp_replace(p, '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
                               '555-[0-9]+', '<PHONE>', 'g')) AS INTEGER)
         AS n_chars_redacted
FROM staged
"""


_MIXTURE_WINDOW_CAP = 1_000_000
"""Largest per-source row count a single rank-window task may sort.
Above it the per-source selection dispatches to the two-stage salted
top-k (same double-gate pattern as the tfidf dense/prefix dispatch)."""


def sample_source_mixture(spark, sf_dir, window_cap=_MIXTURE_WINDOW_CAP):
    """Source-mixture sampling — the data-mixing step of corpus
    assembly (Pile/Dolma-style): given a token budget (here 50% of the
    corpus) and a target mixture (equal share per source), compute each
    source's quota, select EXACTLY that many documents per source by
    deterministic hash rank (content-addressed — the same documents are
    chosen on any cluster layout, unlike seed-based ``df.sample``), and
    report planned vs realized volume per source.

    Scale — double-gated like the tfidf cosine dispatch:

    * **per-source count ≤ ``window_cap``**: one rank window
      partitioned by source.  Bounded by the gate, so the
      low-cardinality ``source`` key can no longer collapse the sort
      of an unbounded corpus slice into one task.
    * **above the cap**: the per-source selection is exactly a
      per-group smallest-``qcap`` by ``(_h, doc_id)``, so it
      dispatches to ``operators/topk.grouped_topk_salted`` — stage 1
      ranks within ``(source, salt)`` (parallelism |sources|×32, each
      task ~1/32 of a source), stage 2 re-ranks only the surviving
      ≤ 32·qcap rows per source.  ``quota = least(n_avail, qcap)``
      means the top-k output IS the selection on both branches:
      sources under the cap keep every row, sources over it keep the
      ``qcap`` hash-smallest — bit-identical to the window path.

    The dispatch probe is one single-row aggregate collect (max
    per-source count + the global quota), the same bounded-probe shape
    as the tfidf vocab/doc-count gates.

    Float-free output: counts and quotas are exact integer arithmetic
    (budget = total div 2, per-source = budget div n_sources — SQL
    ``div``, mirroring the oracle's ``//`` exactly; no double
    round-trip).
    """
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_avail"))
    glob = counts.agg(
        F.sum("n_avail").alias("_tot"), F.count(F.lit(1)).alias("_k")
    )
    quota = counts.crossJoin(F.broadcast(glob)).select(
        "source",
        "n_avail",
        F.least(F.col("n_avail"), F.expr("(_tot div 2) div _k"))
        .cast("long")
        .alias("quota"),
    )
    hashed = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.md5(
            F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))
        ).alias("_h"),
    )
    probe = counts.agg(
        F.max("n_avail").alias("mx"),
        F.expr("(sum(n_avail) div 2) div count(*)").alias("qcap"),
    ).collect()[0]
    if probe["mx"] is not None and probe["mx"] > window_cap:
        from rick_and_morty_data_pipeline_project_spark.operators.topk import (
            grouped_topk_salted,
        )

        sel = grouped_topk_salted(
            hashed, ["source"], "_h", int(probe["qcap"]), tiebreak="doc_id"
        )
    else:
        w = Window.partitionBy("source").orderBy("_h", "doc_id")
        sel = (
            hashed.withColumn("_rn", F.row_number().over(w))
            .join(F.broadcast(quota), "source")
            .filter(F.col("_rn") <= F.col("quota"))
        )
    picked = sel.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("n_chars").alias("chars_selected"),
    )
    return quota.join(picked, "source", "left").select(
        "source",
        "n_avail",
        "quota",
        F.coalesce("n_selected", F.lit(0)).alias("n_selected"),
        F.coalesce("chars_selected", F.lit(0)).alias("chars_selected"),
    )


SOURCE_MIXTURE_SQL = """
WITH counts AS (
  SELECT source, count(*) AS n_avail FROM documents GROUP BY 1
),
totals AS (
  SELECT CAST(sum(n_avail) AS BIGINT) AS tot,
         CAST(count(*) AS BIGINT) AS k
  FROM counts
),
quota AS (
  SELECT source, n_avail,
         least(n_avail, (tot // 2) // k) AS quota
  FROM counts CROSS JOIN totals
),
ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
),
picked AS (
  SELECT r.source, count(*) AS n_selected,
         CAST(sum(r.n_chars) AS BIGINT) AS chars_selected
  FROM ranked r JOIN quota q USING (source)
  WHERE r.rn <= q.quota
  GROUP BY 1
)
SELECT q.source, q.n_avail, q.quota,
       COALESCE(p.n_selected, 0) AS n_selected,
       COALESCE(p.chars_selected, 0) AS chars_selected
FROM quota q LEFT JOIN picked p USING (source)
"""


def split_leakage_safe(spark, sf_dir):
    """Leakage-safe train/validation/test split: the split key is the
    document's NEAR-DUP CLUSTER, not the document — hashing per-doc
    (the naive split) puts near-duplicates of a training document into
    the test set, silently inflating eval scores.  Composes the LSH
    candidate pairs → connected components pipeline with a
    deterministic md5 bucket over the cluster id (80/10/10); singleton
    documents are their own cluster.  The hygiene twin of
    decontamination: decontaminate_* protects against EXTERNAL eval
    overlap, this protects the internal held-out split.

    Scale: the cluster step is the bounded O(diameter) label
    propagation already used by dedup_minhash_clusters; the assignment
    is one narrow expression plus a left join of corpus-sized labels —
    no new shuffle class.
    """
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    d = t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=8, band_size=4, shingle_k=3
    )
    labels = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    assigned = (
        d.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 2),
            16,
            10,
        ).cast("int")
        % 10
    )
    split = (
        F.when(bucket < 8, F.lit("train"))
        .when(bucket == 8, F.lit("validation"))
        .otherwise(F.lit("test"))
    )
    return assigned.select("doc_id", "cluster_id", split.alias("split"))


def text_winnowing_fingerprints(spark, sf_dir, k: int = 3, w: int = 4):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS local-fingerprinting algorithm): hash every
    k-token shingle, slide a w-hash window, and keep the MINIMUM hash
    of each window (rightmost on ties).  Guarantees any shared run of
    ≥ w+k−1 tokens contributes at least one COMMON selected
    fingerprint, at ~2/(w+1) the density of keeping every shingle —
    the robust middle ground between whole-document fingerprints
    (miss partial overlap) and all-shingles postings (w+1× the index).

    Pure JVM array expressions per document (shingle hashes, windowed
    rightmost-argmin, distinct) — narrow until the final distinct; hex
    md5 strings order identically in both engines, so the DuckDB twin
    is exact.  Output: (doc_id, pos, fp) — selected 1-based shingle
    positions and their hashes."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_h = F.greatest(F.size(toks) - k + 1, F.lit(1))
    # Staged projections (the minhash_signatures trick): the shingle-
    # hash array is referenced many times by the window expressions —
    # materialize it as its own multi-referenced alias so CollapseProject
    # keeps the boundary and the md5s run ONCE per doc, not once per
    # (window × reference); the inlined form measured minutes at sf0.1.
    hashed = d.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), n_h),
            lambda i: F.md5(F.array_join(F.slice(toks, i, k), " ")),
        ).alias("_hs"),
    )
    hs = F.col("_hs")
    n_starts = F.greatest(F.size(hs) - w + 1, F.lit(1))
    # one window slice per start, materialized once, argmin'd once
    windows = hashed.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n_starts),
                lambda s: F.struct(
                    s.alias("s"), F.slice(hs, s, w).alias("win")
                ),
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.s").alias("s"), F.col("w.win").alias("win"))
    mn = F.array_min(F.col("win"))
    pos = (
        F.col("s")
        + F.size("win")
        - F.array_position(F.reverse(F.col("win")), mn)
    )
    return (
        windows.select(
            "doc_id", pos.cast("int").alias("pos"), mn.alias("fp")
        )
        .distinct()
    )


TEXT_WINNOWING_SQL = """
WITH hs AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
           i -> md5(array_to_string(
                  list_slice(string_split(text, ' '), i, i + 2), ' '))
         ) AS h
  FROM documents
),
sel AS (
  SELECT doc_id,
         s + len(list_slice(h, s, s + 3))
           - list_position(list_reverse(list_slice(h, s, s + 3)),
                           list_min(list_slice(h, s, s + 3))) AS pos,
         list_min(list_slice(h, s, s + 3)) AS fp
  FROM hs, LATERAL (
    SELECT unnest(generate_series(1, greatest(len(h) - 3, 1))) AS s
  )
)
SELECT DISTINCT doc_id, CAST(pos AS INT) AS pos, fp FROM sel
"""


def text_gopher_rules(spark, sf_dir):
    """The published Gopher quality-filter rule set (Rae et al. 2021,
    §A1.1 — the canonical heuristic battery most open pipelines copy),
    evaluated per document with one PASS FLAG PER RULE plus the overall
    verdict, adapted to this corpus's flat token streams:

    * 50 ≤ word count ≤ 100,000
    * 3 ≤ mean word length ≤ 10
    * ≥ 80% of words contain at least one alphabetic character
    * ≥ 2 occurrences of a stopword ('the'/'a' here — the fixture
      vocabulary's stopword set)

    (The symbol/hash/ellipsis/bullet rules are vacuous on this token
    corpus and omitted rather than trivially-true-padded.)  Per-rule
    flags matter operationally: pipelines tune and audit rule-by-rule
    rejection rates, not just the conjunction.  All features are exact
    integer ratios — bitwise float parity; one narrow JVM scan, no
    shuffle."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    mean_len = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]"))) / n
    )
    stop_hits = F.size(F.filter(toks, lambda x: x.isin("the", "a")))
    r_wc = (n >= 50) & (n <= 100_000)
    r_mwl = (mean_len >= 3.0) & (mean_len <= 10.0)
    r_alpha = alpha_frac >= 0.8
    r_stop = stop_hits >= 2
    return d.select(
        "doc_id",
        n.alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        r_wc.alias("pass_word_count"),
        r_mwl.alias("pass_mean_word_len"),
        r_alpha.alias("pass_alpha_frac"),
        r_stop.alias("pass_stopwords"),
        (r_wc & r_mwl & r_alpha & r_stop).alias("pass_all"),
    )


TEXT_GOPHER_SQL = """
WITH feats AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n,
         length(replace(text, ' ', ''))
           / len(string_split(text, ' ')) AS mean_len,
         len(list_filter(string_split(text, ' '),
                         t -> regexp_matches(t, '[a-zA-Z]')))
           / len(string_split(text, ' ')) AS alpha_frac,
         len(list_filter(string_split(text, ' '),
                         t -> t IN ('the', 'a'))) AS stop_hits
  FROM documents
)
SELECT doc_id,
       n AS n_words,
       round(mean_len, 6) AS mean_word_len,
       n >= 50 AND n <= 100000 AS pass_word_count,
       mean_len >= 3.0 AND mean_len <= 10.0 AS pass_mean_word_len,
       alpha_frac >= 0.8 AS pass_alpha_frac,
       stop_hits >= 2 AS pass_stopwords,
       (n >= 50 AND n <= 100000) AND (mean_len >= 3.0 AND mean_len <= 10.0)
         AND alpha_frac >= 0.8 AND stop_hits >= 2 AS pass_all
FROM feats
"""


SPLIT_LEAKAGE_SAFE_SQL = f"""
WITH RECURSIVE {_BANDED_CTE_SQL},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION
  SELECT id_b AS src, id_a AS dst FROM cand
),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY 1),
assigned AS (
  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
)
SELECT doc_id, cluster_id,
       CASE WHEN b < 8 THEN 'train'
            WHEN b = 8 THEN 'validation'
            ELSE 'test' END AS split
FROM (
  SELECT *,
         CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) AS INT)
           % 10 AS b
  FROM assigned
)
"""


# --------------------------------------------------------------------------
def decontaminate_ngram_overlap(spark, sf_dir, shingle_k: int = 3, min_shared: int = 3):
    """Train/eval decontamination: flag training documents sharing ≥
    ``min_shared`` distinct token k-grams with any held-out eval
    document (eval stand-in: doc_id % 100 == 0).  Same inverted-index
    layout as ``dedup_ngram_jaccard`` — explode distinct shingles, join
    train→eval postings on the shingle, count per pair — so cost tracks
    actual overlap mass, not |train|×|eval|; the eval posting list is
    small and broadcastable, which is exactly the production shape
    (eval suites are tiny, the train corpus is the 100 TB side)."""
    from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
        shingles_from_tokens,
        tokens_col,
    )

    d = fan_out(t(spark, sf_dir, "documents"))
    toked = d.select(
        "doc_id",
        tokens_col(F.col("text")).alias("_tk"),
    )
    posting = toked.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles_from_tokens(F.col("_tk"), shingle_k))
        ).alias("sh"),
    )
    is_eval = F.col("doc_id") % 100 == 0
    train = posting.filter(~is_eval).select(
        F.col("doc_id").alias("train_id"), "sh"
    )
    ev = posting.filter(is_eval).select(F.col("doc_id").alias("eval_id"), "sh")
    return (
        train.join(F.broadcast(ev), "sh")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


DECONTAM_SQL = """
WITH shingled AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(toks) >= 3
                THEN list_transform(generate_series(1, len(toks) - 2),
                                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                ELSE [array_to_string(toks, ' ')]
           END) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
posting AS (SELECT doc_id, unnest(sh) AS sh FROM shingled)
SELECT t.doc_id AS train_id, e.doc_id AS eval_id, count(*) AS n_shared
FROM posting t JOIN posting e ON t.sh = e.sh
WHERE t.doc_id % 100 <> 0 AND e.doc_id % 100 = 0
GROUP BY 1, 2
HAVING count(*) >= 3
"""


# --------------------------------------------------------------------------
def text_redact_patterns(spark, sf_dir):
    """Pattern scrubbing — the cleaning pass a training pipeline runs
    before tokenization: digit runs → <NUM>, long tokens → <LONG>, and
    a redaction count per doc.  Pure ``regexp_replace`` chain: narrow,
    codegen'd, pushes the projection to the scan."""
    d = t(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace("text", r"\d+", "<NUM>"),
        r"\b\w{12,}\b",
        "<LONG>",
    )
    return d.select(
        "doc_id",
        redacted.alias("clean_text"),
        (
            F.size(F.split(redacted, "<NUM>", -1))
            - 1
            + F.size(F.split(redacted, "<LONG>", -1))
            - 1
        ).alias("n_redactions"),
    )


TEXT_REDACT_SQL = r"""
WITH r AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(text, '\d+', '<NUM>', 'g'),
                        '\b\w{12,}\b', '<LONG>', 'g') AS clean_text
  FROM documents
)
SELECT doc_id, clean_text,
       len(string_split(clean_text, '<NUM>')) - 1
         + len(string_split(clean_text, '<LONG>')) - 1 AS n_redactions
FROM r
"""


# --------------------------------------------------------------------------
_PACK_CAPACITY = 2048
_PACK_SHARDS = 32


def _pack_bucketed(d, capacity: int = _PACK_CAPACITY, keep_text: bool = False):
    """Shared packing core for text_pack_buckets / text_pack_materialize:
    per-shard (doc_id % _PACK_SHARDS) running token sum → fixed-capacity
    bucket id, greedy in doc-id order.  A single global running sum
    would serialize the corpus through one partition; per-shard windows
    keep every shard's cumsum parallel and the shard key is the
    write-partition key downstream."""
    cols = ["doc_id"] + (["text"] if keep_text else [])
    toks = d.select(
        *cols,
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(F.split("text", "\\s+")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return toks.withColumn(
        "bucket",
        F.floor((F.sum("n_tokens").over(w) - 1) / capacity).cast("long"),
    )


def text_pack_buckets(spark, sf_dir, capacity: int = _PACK_CAPACITY):
    """Sequence-packing plan: assign each document to a fixed-capacity
    token bucket (see _pack_bucketed for the scale shape)."""
    d = t(spark, sf_dir, "documents")
    return _pack_bucketed(d, capacity).select(
        "doc_id", "shard", "n_tokens", "bucket"
    )


# Shared packing CTE — single source of the shard count / capacity /
# tokenizer for BOTH pack oracles (plan + materialized).
_PACK_BUCKETED_SQL = rf"""toks AS (
  SELECT doc_id, text, doc_id % {_PACK_SHARDS} AS shard,
         len(string_split_regex(text, '\s+')) AS n_tokens
  FROM documents
),
bucketed AS (
  SELECT *, CAST(floor((SUM(n_tokens) OVER (PARTITION BY shard
                ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - 1)
                / {_PACK_CAPACITY}) AS BIGINT) AS bucket
  FROM toks
)"""

TEXT_PACK_SQL = f"""
WITH {_PACK_BUCKETED_SQL}
SELECT doc_id, shard, n_tokens, bucket FROM bucketed
"""


# --------------------------------------------------------------------------
def sample_mixture_weights(spark, sf_dir):
    """Weighted mixture construction: per-source sampling rates applied
    via the same deterministic md5 predicate as
    ``sample_hash_deterministic`` (src0/src1 kept at 8/16, others at
    2/16) — how a training mix up-weights curated sources while staying
    exactly replayable on any engine or cluster layout."""
    d = t(spark, sf_dir, "documents")
    bucket = F.substring(
        F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 1
    )
    keep = F.when(
        F.col("source").isin("src0", "src1"),
        bucket.isin(*"01234567"),
    ).otherwise(bucket.isin("0", "1"))
    return d.filter(keep).select("doc_id", "source", "n_chars")


SAMPLE_MIX_SQL = """
SELECT doc_id, source, n_chars
FROM documents
WHERE CASE WHEN source IN ('src0', 'src1')
           THEN substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)
                  IN ('0','1','2','3','4','5','6','7')
           ELSE substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)
                  IN ('0','1')
      END
"""


# --------------------------------------------------------------------------
def pipeline_filter_funnel(spark, sf_dir):
    """The pre-training filter funnel as one report: per-stage survivor
    counts and token budgets for raw → quality filter (≥ 10 tokens,
    distinct-token ratio ≥ 0.3) → exact-dedup keeper.  The number a
    pipeline owner actually watches ("how many tokens survive to
    training?"); every stage is the same map-combinable aggregate over
    a shared staged projection."""
    from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
        fingerprint_col,
    )

    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    staged = d.select(
        "doc_id",
        fingerprint_col(F.col("text")).alias("fp"),
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("dr"),
    )
    quality = staged.filter(
        (F.col("n_tokens") >= 10) & (F.col("dr") >= 0.3)
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    keeper = quality.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )

    def stage(df, name):
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens_total"),
        )

    return (
        stage(staged, "raw")
        .unionByName(stage(quality, "quality"))
        .unionByName(stage(keeper, "dedup_keeper"))
    )


FUNNEL_SQL = r"""
WITH s AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' ')))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS dr
  FROM documents
),
q AS (SELECT * FROM s WHERE n_tokens >= 10 AND dr >= 0.3),
k AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM q
  ) WHERE rn = 1
)
SELECT 'raw' AS stage, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total FROM s
UNION ALL
SELECT 'quality', count(*), CAST(sum(n_tokens) AS BIGINT) FROM q
UNION ALL
SELECT 'dedup_keeper', count(*), CAST(sum(n_tokens) AS BIGINT) FROM k
"""


# --------------------------------------------------------------------------
def text_vocab_df(spark, sf_dir):
    """Corpus vocabulary statistics: term frequency + document
    frequency per token — the inputs to TF-IDF weighting, stopword
    induction, and vocabulary pruning in a training-data pipeline.
    Classic word-count shape: explode is narrow, both aggregates are
    map-side combinable (partial count-distinct keeps per-partition
    token→doc sets bounded by the partition's vocabulary)."""
    d = fan_out(t(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    return toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.count_distinct("doc_id").alias("doc_freq"),
    )


TEXT_VOCAB_SQL = """
SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS doc_freq
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY 1
"""


# --------------------------------------------------------------------------
def sample_hash_deterministic(spark, sf_dir):
    """Reproducible corpus sampling: keep a row iff the first hex char
    of md5('sample:' || id) falls in a fixed set (p = 2/16).  Unlike
    ``df.sample`` (seed × partitioning dependent), a content-hash
    predicate selects the SAME rows on any cluster layout, any engine —
    which is what makes training subsets and ablations replayable.
    Narrow (no shuffle), pushes the projection to the scan."""
    d = t(spark, sf_dir, "documents")
    bucket = F.substring(
        F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))),
        1,
        1,
    )
    return d.filter(bucket.isin("0", "1")).select(
        "doc_id", "source", "n_chars"
    )


SAMPLE_HASH_SQL = """
SELECT doc_id, source, n_chars
FROM documents
WHERE substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
"""


# --------------------------------------------------------------------------
_SIMHASH_BANDS = 4  # 4 bands × 4 bits over the 16-bit fingerprint
_SIMHASH_MAX_HAMMING = 1


def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS — the fingerprint alone doesn't dedup;
    candidates come from banding the 16-bit simhash into 4 nibbles
    (pigeonhole: any pair with hamming ≤ 3 shares at least one intact
    nibble), then the exact popcount-of-xor hamming distance filters
    to ≤ 1 — deliberately TIGHTER than the banding bound because a
    16-bit hash over this low-vocabulary corpus saturates (hamming ≤ 3
    matched ~27% of ALL pairs at sf0.1; ≤ 1 keeps the output in the
    near-dup regime).  At real scale the fingerprint is 64-bit
    (4×16-bit bands) and the distance budget loosens accordingly;
    16 bits here keeps the oracle exactly reproducible.

    Scale: the same banded-LSH cost model as MinHash — join work ∝
    band-bucket collisions, never n²; the hamming verification is two
    integer ops per candidate.
    """
    d = t(spark, sf_dir, "documents")
    sh = simhash16(d, "doc_id", "text")
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "#",
                        F.lit(str(i)),
                        F.shiftright(F.col("simhash"), 4 * i)
                        .bitwiseAND(15)
                        .cast("string"),
                    )
                    for i in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("band"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(b.hint("shuffle_hash"), "band")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
        .distinct()
    )


SIMHASH_PAIRS_SQL = f"""
WITH {_SIMHASH_SH_CTE_SQL},
banded AS (
  SELECT doc_id, simhash,
         CAST(b.i AS VARCHAR) || '#' ||
           CAST((simhash >> (4 * b.i)) & 15 AS VARCHAR) AS band
  FROM sh, (SELECT unnest(generate_series(0, {_SIMHASH_BANDS - 1})) AS i) b
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
"""


# --------------------------------------------------------------------------
_SIMHASH64_MAX_HAMMING = 3  # 4 × 16-bit bands ⇒ full recall at hamming ≤ 3


def dedup_simhash64_pairs(spark, sf_dir):
    """SimHash near-dup pairing at the REAL-SCALE fingerprint width:
    64-bit simhash carried as two 32-bit halves (see
    ``operators.dedup.simhash64``), banded into 4 × 16-bit chunks
    (pigeonhole: any pair with hamming ≤ 3 agrees on at least one
    intact 16-bit band), then exact two-half popcount-of-xor hamming
    verification at ≤ 3 — the standard production near-dup budget,
    usable here (unlike the saturating 16-bit variant, which had to
    tighten to ≤ 1) because 64 bits keep random pairs far apart.

    Scale: identical cost model to the banded MinHash join — candidate
    work ∝ band-bucket collisions, never n²; verification is four
    integer ops per candidate; the banding explode is narrow (4 rows
    per doc).
    """
    d = t(spark, sf_dir, "documents")
    sh = simhash64(d, "doc_id", "text")
    chunks = [
        F.col("simhash_lo").bitwiseAND(65535),
        F.shiftright(F.col("simhash_lo"), 16).bitwiseAND(65535),
        F.col("simhash_hi").bitwiseAND(65535),
        F.shiftright(F.col("simhash_hi"), 16).bitwiseAND(65535),
    ]
    banded = sh.select(
        "doc_id",
        "simhash_hi",
        "simhash_lo",
        F.explode(
            F.array(
                *[
                    F.concat_ws("#", F.lit(str(i)), c.cast("string"))
                    for i, c in enumerate(chunks)
                ]
            )
        ).alias("band"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = (
        F.bit_count(F.col("a.simhash_hi").bitwiseXOR(F.col("b.simhash_hi")))
        + F.bit_count(F.col("a.simhash_lo").bitwiseXOR(F.col("b.simhash_lo")))
    )
    return (
        a.join(b.hint("shuffle_hash"), "band")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= _SIMHASH64_MAX_HAMMING)
        .distinct()
    )


def _simhash64_vote_sql(j: int) -> str:
    chars = ", ".join(f"'{c}'" for c in NIBBLE_BIT_CHARS[j % 4])
    return (
        f"sum(CASE WHEN substr(h, {j // 4 + 1}, 1) IN ({chars}) "
        f"THEN 1 ELSE -1 END) AS v{j}"
    )


_SIMHASH64_VOTES = ",\n         ".join(
    _simhash64_vote_sql(j) for j in range(64)
)
_SIMHASH64_HI = " + ".join(
    f"(CASE WHEN v{j} > 0 THEN {1 << (j - 32)} ELSE 0 END)"
    for j in range(32, 64)
)
_SIMHASH64_LO = " + ".join(
    f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32)
)

SIMHASH64_PAIRS_SQL = f"""
WITH toks64 AS (
  SELECT doc_id, md5(t.tok) AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
),
votes64 AS (
  SELECT doc_id,
         {_SIMHASH64_VOTES}
  FROM toks64 GROUP BY doc_id
),
sh64 AS (
  SELECT doc_id,
         CAST({_SIMHASH64_HI} AS BIGINT) AS simhash_hi,
         CAST({_SIMHASH64_LO} AS BIGINT) AS simhash_lo
  FROM votes64
),
banded64 AS (
  SELECT doc_id, simhash_hi, simhash_lo,
         CAST(b.i AS VARCHAR) || '#' || CAST(
           CASE b.i
             WHEN 0 THEN simhash_lo & 65535
             WHEN 1 THEN (simhash_lo >> 16) & 65535
             WHEN 2 THEN simhash_hi & 65535
             ELSE (simhash_hi >> 16) & 65535
           END AS VARCHAR) AS band
  FROM sh64, (SELECT unnest(generate_series(0, 3)) AS i) b
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash_hi, b.simhash_hi))
            + bit_count(xor(a.simhash_lo, b.simhash_lo)) AS INT) AS hamming
FROM banded64 a JOIN banded64 b ON a.band = b.band AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash_hi, b.simhash_hi))
      + bit_count(xor(a.simhash_lo, b.simhash_lo)) <= {_SIMHASH64_MAX_HAMMING}
"""


# --------------------------------------------------------------------------
def text_repetition_signals(spark, sf_dir):
    """Gopher-style intra-document repetition signals: fraction of word
    occurrences taken by the single most frequent word, fraction of
    2-gram occurrences taken by the most frequent 2-gram, and fraction
    of 3-gram occurrences whose 3-gram appears more than once.  These
    are the standard "repetitious document" quality filters for web
    corpora (Gopher §A.1.1-style rules).

    One scan, one explode: the per-doc 1/2/3-gram streams are tagged
    (``"1|gram"``) and concatenated into a single array so all three
    statistics share one shuffle chain keyed on the high-cardinality
    ``(doc_id, tagged_gram)`` — map-side combinable, no skew, no join
    back to the corpus.  Scale: gram rows ≈ 3× token count; both aggs
    are partial+final hash aggregates.
    """
    d = t(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id", tokens_col(F.col("text")).alias("_tk")
    ).filter(F.size("_tk") >= 3)
    tk = F.col("_tk")
    tagged = F.concat(
        F.transform(tk, lambda w: F.concat(F.lit("1|"), w)),
        F.transform(
            shingles_from_tokens(tk, 2), lambda s: F.concat(F.lit("2|"), s)
        ),
        F.transform(
            shingles_from_tokens(tk, 3), lambda s: F.concat(F.lit("3|"), s)
        ),
    )
    grams = staged.select("doc_id", F.explode(tagged).alias("g"))
    gc = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    kc = gc.groupBy("doc_id", F.substring("g", 1, 1).alias("kind")).agg(
        F.max("c").alias("maxc"),
        F.sum("c").alias("tot"),
        F.coalesce(
            F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)
        ).alias("dup"),
    )
    frac = lambda num: F.round(num / F.col("tot"), 6)  # noqa: E731
    return kc.groupBy("doc_id").agg(
        F.max(F.when(F.col("kind") == "1", frac(F.col("maxc")))).alias(
            "top_word_frac"
        ),
        F.max(F.when(F.col("kind") == "2", frac(F.col("maxc")))).alias(
            "top_bigram_frac"
        ),
        F.max(F.when(F.col("kind") == "3", frac(F.col("dup")))).alias(
            "dup_trigram_frac"
        ),
    )


TEXT_REPETITION_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS tk
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
grams AS (
  SELECT doc_id, '1|' || tk[i] AS g
  FROM base, unnest(range(1, len(tk) + 1)) AS t(i)
  UNION ALL
  SELECT doc_id, '2|' || tk[i] || ' ' || tk[i + 1] AS g
  FROM base, unnest(range(1, len(tk))) AS t(i)
  UNION ALL
  SELECT doc_id, '3|' || tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS g
  FROM base, unnest(range(1, len(tk) - 1)) AS t(i)
),
gc AS (
  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
),
kc AS (
  SELECT doc_id, substr(g, 1, 1) AS kind, max(c) AS maxc, sum(c) AS tot,
         coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS dup
  FROM gc GROUP BY 1, 2
)
SELECT doc_id,
       max(CASE WHEN kind = '1'
           THEN round(maxc / CAST(tot AS DOUBLE), 6) END) AS top_word_frac,
       max(CASE WHEN kind = '2'
           THEN round(maxc / CAST(tot AS DOUBLE), 6) END) AS top_bigram_frac,
       max(CASE WHEN kind = '3'
           THEN round(dup / CAST(tot AS DOUBLE), 6) END) AS dup_trigram_frac
FROM kc
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
def text_unigram_logprob(spark, sf_dir):
    """Corpus-unigram-LM document scoring (perplexity proxy): build the
    corpus unigram distribution, then score each document by the mean
    natural-log probability of its tokens.  The classic cheap "does
    this doc look like the corpus" quality signal.

    Scale: token→count agg shuffles once on the token (map-side
    combinable); scoring re-joins the token stream to the vocab on the
    token key (high cardinality); the corpus-total is a 1-row broadcast
    cross join, never a single-partition window.  Mean is rounded to 6
    decimals so partial-sum order cannot perturb the hash.
    """
    d = t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("w")
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").cast("double").alias("tot"))
    scored = words.join(vocab, "w").crossJoin(F.broadcast(tot))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(F.log(F.col("c") / F.col("tot"))), 6).alias(
            "avg_logprob"
        ),
    )


TEXT_UNIGRAM_SQL = """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
vocab AS (SELECT w, count(*) AS c FROM words GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM vocab)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(ln(c / tot)), 6) AS avg_logprob
FROM words JOIN vocab USING (w) CROSS JOIN tot
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
def dedup_incremental_batch(spark, sf_dir):
    """Incremental-ingestion dedup: a new batch (doc_id % 10 = 0 here)
    lands against an already-curated corpus (the rest); batch docs whose
    exact fingerprint already exists in the corpus are dropped, the rest
    survive.  This is the steady-state shape of production dedup — the
    full-corpus pass runs once, every later ingest is this anti-join.

    Scale: LEFT ANTI join keyed on the 16-byte fingerprint — one
    shuffle of batch + corpus fingerprints only (no text movement, the
    corpus side projects to the single fp column); at 100 TB the corpus
    fp set is a bucketed table so the ingest join is exchange-free on
    the corpus side.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", fingerprint_col(F.col("text")).alias("fp")
    )
    existing = d.filter(F.col("doc_id") % 10 != 0).select("fp")
    batch = d.filter(F.col("doc_id") % 10 == 0)
    return batch.join(existing, "fp", "left_anti").select(
        "doc_id", "source", "fp"
    )


DEDUP_INCREMENTAL_SQL = """
WITH fps AS (
  SELECT doc_id, source,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
)
SELECT doc_id, source, fp
FROM fps
WHERE doc_id % 10 = 0
  AND fp NOT IN (SELECT fp FROM fps WHERE doc_id % 10 <> 0)
"""


# --------------------------------------------------------------------------
def dedup_incremental_prefilter(spark, sf_dir):
    """`dedup_incremental_batch` through the Bloom-style prefix
    pre-filter (operators/dedup.incremental_dedup_prefiltered): batch
    rows in unoccupied fingerprint-prefix buckets bypass the anti-join.
    Same result as the plain anti-join by construction — the oracle is
    byte-identical to DEDUP_INCREMENTAL_SQL."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        incremental_dedup_prefiltered,
    )

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", fingerprint_col(F.col("text")).alias("fp")
    )
    existing = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)
    return incremental_dedup_prefiltered(batch, existing, "fp").select(
        "doc_id", "source", "fp"
    )


# --------------------------------------------------------------------------
def dedup_incremental_bloom(spark, sf_dir):
    """`dedup_incremental_batch` through a REAL k-hash Bloom filter
    (operators/dedup.incremental_dedup_bloom — 2^16-bit bitmap, 4
    md5-derived positions, SQL-only build and probe): batch rows with
    any unset bit bypass the anti-join.  Same result as the plain
    anti-join by construction — the oracle is byte-identical to
    DEDUP_INCREMENTAL_SQL."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        incremental_dedup_bloom,
    )

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", fingerprint_col(F.col("text")).alias("fp")
    )
    existing = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)
    return incremental_dedup_bloom(batch, existing, "fp").select(
        "doc_id", "source", "fp"
    )


# --------------------------------------------------------------------------
def remove_boilerplate_spans(
    df, id_cols, text_col="text", span_tokens=8, min_repeats=2
):
    """Rebuild ``text_col`` from consecutive ``span_tokens``-token
    spans whose exact text occurs fewer than ``min_repeats`` times
    corpus-wide, plus an ``n_removed`` count — the single
    implementation behind text_remove_boilerplate and curate_corpus's
    optional cleaning stage."""
    toks = F.split(F.col(text_col), " ")
    n_segs = F.ceil(F.size(toks) / F.lit(float(span_tokens))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(
            F.slice(toks, i * span_tokens + 1, span_tokens), " "
        ),
    )
    exploded = df.select(
        *id_cols, F.posexplode(segs).alias("pos", "seg")
    )
    counts = exploded.groupBy("seg").agg(F.count(F.lit(1)).alias("_c"))
    flagged = exploded.join(counts, "seg").select(
        *id_cols, "pos", "seg",
        (F.col("_c") >= min_repeats).alias("_rm"),
    )
    ordered = F.array_sort(F.collect_list(F.struct("pos", "_rm", "seg")))
    return flagged.groupBy(*id_cols).agg(
        F.array_join(
            F.transform(
                F.filter(ordered, lambda s: ~s["_rm"]),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.sum(F.col("_rm").cast("int")).alias("n_removed"),
    )


def text_remove_boilerplate(spark, sf_dir):
    """C4-style boilerplate REMOVAL (the famous "drop any line that
    repeats across the corpus" rule, adapted to this corpus's flat
    token streams): every document is segmented into consecutive
    8-token spans, spans whose exact text occurs ≥ 2 times corpus-wide
    are deleted, and the document is rebuilt from the surviving spans
    in order.  Completes the detect→remove pair that
    ``dedup_span_profile`` starts (that query *flags* shared spans;
    this one produces the CLEANED corpus a training run would consume).

    Scale: one shuffle keyed on the span text for the count, one
    shuffle back on doc_id for the rebuild — both carry span-sized
    rows, never whole documents; the rebuild is an array_sort over a
    per-document list bounded by the document's own span count.
    Threshold 2 is corpus-calibrated (the synthetic corpus carries
    duplicated spans from its duplicate-document families); production
    C4 uses ≥ 3 occurrences of a line across the crawl.
    """
    d = t(spark, sf_dir, "documents")
    return remove_boilerplate_spans(d, ["doc_id"])


TEXT_REMOVE_BOILERPLATE_SQL = """
WITH segs AS (
  -- parallel unnests of equal-length lists zip row-wise (the engine's
  -- ROWS FROM alignment), giving each span its 1-based position
  SELECT doc_id,
         unnest(generate_series(1, len(s))) AS pos,
         unnest(s) AS seg
  FROM (
    SELECT doc_id,
           list_transform(
             generate_series(0,
               CAST(ceil(len(string_split(text, ' ')) / 8.0) AS INT) - 1),
             i -> array_to_string(
               list_slice(string_split(text, ' '), i * 8 + 1, i * 8 + 8), ' ')
           ) AS s
    FROM documents
  )
),
counts AS (SELECT seg, COUNT(*) AS c FROM segs GROUP BY seg)
SELECT s.doc_id,
       COALESCE(
         string_agg(s.seg, ' ' ORDER BY s.pos) FILTER (WHERE c.c < 2),
         '') AS clean_text,
       CAST(COUNT(*) FILTER (WHERE c.c >= 2) AS BIGINT) AS n_removed
FROM segs s JOIN counts c ON s.seg = c.seg
GROUP BY s.doc_id
"""


# --------------------------------------------------------------------------
def dedup_incremental_bloom_sharded(spark, sf_dir):
    """`dedup_incremental_bloom` through the SHARDED bitmap layout
    (bitmap_mode="sharded", m=2^43 — the true 100 TB sizing): probe
    verdicts per distinct fingerprint via a word-index equi-join
    against the sparse (word, bits) relation; no dense bitmap row at
    any m.  Same result as the plain anti-join by construction — the
    oracle is byte-identical to DEDUP_INCREMENTAL_SQL."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        incremental_dedup_bloom,
    )

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", fingerprint_col(F.col("text")).alias("fp")
    )
    existing = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)
    return incremental_dedup_bloom(
        batch, existing, "fp", m_log2=43, bitmap_mode="sharded"
    ).select("doc_id", "source", "fp")


# --------------------------------------------------------------------------
def text_shard_index(spark, sf_dir):
    """Byte-offset index for the packed-shard trainer export
    (operators/shards.py): (doc_id, shard, offset, n_bytes) where the
    offset is the running UTF-8 byte length over (shard, doc_id) order —
    exactly where each document's bytes start inside its shard blob.
    Pure window arithmetic (no Python); one shuffle on the shard key."""
    from rick_and_morty_data_pipeline_project_spark.operators.shards import (
        shard_index,
    )

    d = t(spark, sf_dir, "documents").withColumn(
        "shard", (F.col("doc_id") % 8).cast("int")
    )
    return shard_index(d)


SHARD_INDEX_SQL = """
SELECT doc_id,
       CAST(doc_id % 8 AS INT) AS shard,
       COALESCE(CAST(SUM(strlen(COALESCE(text, ''))) OVER (
         PARTITION BY doc_id % 8 ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         0) AS offset,
       CAST(strlen(COALESCE(text, '')) AS BIGINT) AS n_bytes
FROM documents
"""


# --------------------------------------------------------------------------
_SPAN_LEN = 8  # tokens per span — the exact-substring dedup unit


def dedup_span_profile(spark, sf_dir):
    """Exact duplicated-SPAN profiling — the substring-level dedup
    signal (the "dedup training data at the span level, not the
    document level" family): for every document with ≥ 8 tokens, the
    fraction of its distinct 8-token spans that appear verbatim in at
    least one OTHER document.  (Within-doc repeats are collapsed by
    the DISTINCT by design — intra-document repetition is
    ``text_repetition_signals``'s job.)  Document-level dedup misses
    boilerplate/quotation overlap between otherwise-distinct documents;
    this surfaces it per document so a curation pipeline can drop or
    trim high-overlap docs.

    Scale: distinct spans per doc (narrow transform + explode), one
    map-combinable count per span (shuffle on the span key — high
    cardinality, no skew), one join back + per-doc agg (shuffle on
    doc_id).  Both shuffles carry (hashable-string, small-int) rows;
    nothing is ever pairwise — cost is corpus token mass, not doc².
    At 100 TB hash the span to 16 bytes before the shuffle (md5 here
    would also keep the oracle exact) and the cost story is unchanged.
    """
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    staged = fan_out(d).select("doc_id", tk.alias("_tk")).filter(
        F.size("_tk") >= _SPAN_LEN
    )
    spans = staged.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("_tk") - _SPAN_LEN),
                    lambda i: F.concat_ws(
                        " ", F.slice("_tk", i + 1, _SPAN_LEN)
                    ),
                )
            )
        ).alias("span"),
    )
    counts = spans.groupBy("span").agg(F.count(F.lit(1)).alias("_n"))
    return (
        spans.join(counts, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("_n") > 1).cast("int"))
            .cast("bigint")
            .alias("n_dup_spans"),
            F.round(
                F.sum((F.col("_n") > 1).cast("int"))
                / F.count(F.lit(1)),
                6,
            ).alias("dup_fraction"),
        )
    )


SPAN_PROFILE_SQL = f"""
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
spans AS (
  SELECT DISTINCT doc_id,
         array_to_string(toks[g.i : g.i + {_SPAN_LEN - 1}], ' ') AS span
  FROM tk, LATERAL (
    SELECT unnest(generate_series(1, len(toks) - {_SPAN_LEN - 1})) AS i
  ) g
  WHERE len(toks) >= {_SPAN_LEN}
),
counts AS (SELECT span, count(*) AS n FROM spans GROUP BY 1)
SELECT s.doc_id,
       count(*) AS n_spans,
       CAST(sum(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       round(sum(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS dup_fraction
FROM spans s JOIN counts c ON s.span = c.span
GROUP BY 1
"""


# --------------------------------------------------------------------------
def dedup_remove_duplicate_spans(spark, sf_dir):
    """Cross-document exact-substring DEDUP TREATMENT — the removal
    half of ``dedup_span_profile``'s detection (the "deduplicating
    training data at the substring level" recipe: duplicated long
    spans are memorization fuel, so keep ONE copy corpus-wide and cut
    the rest).  Every 8-token span that appears in more than one
    document keeps its occurrences in the LOWEST-doc_id document
    holding it; in every other document, all tokens covered by that
    span are removed.  Overlapping duplicated spans union their
    coverage; documents under 8 tokens (or with only intra-document
    repeats — ``text_repetition_signals``'s job) pass through
    unchanged.  Output: (doc_id, n_tokens, n_tokens_removed,
    clean_text).

    Scale: explode to (doc, pos, span) — corpus token mass, narrow;
    one span-keyed aggregate for (distinct-doc count, keeper); join
    back + covered-index explode (8× the duplicated-span rows only);
    per-doc covered-set aggregate; rebuild is a JVM array
    filter-by-index per document.  Nothing pairwise, no Python —
    cost tracks duplicated-span mass, not |docs|².
    """
    d = t(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    staged = fan_out(d).select("doc_id", "text", tk.alias("_tk"))
    spans = (
        staged.filter(F.size("_tk") >= _SPAN_LEN)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_tk") - _SPAN_LEN),
                    lambda i: F.struct(
                        (i + 1).alias("pos"),
                        F.concat_ws(
                            " ", F.slice("_tk", i + 1, _SPAN_LEN)
                        ).alias("span"),
                    ),
                )
            ).alias("_ps"),
        )
        .select("doc_id", F.col("_ps.pos").alias("pos"), F.col("_ps.span").alias("span"))
    )
    dup_spans = (
        spans.groupBy("span")
        .agg(
            F.count_distinct("doc_id").alias("_nd"),
            F.min("doc_id").alias("_keeper"),
        )
        .filter(F.col("_nd") > 1)
        .select("span", "_keeper")
    )
    covered = (
        spans.join(dup_spans, "span")
        .filter(F.col("doc_id") != F.col("_keeper"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + _SPAN_LEN - 1)
            ).alias("idx"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_set("idx").alias("_cov"))
    )
    indexed = F.transform(
        F.col("_tk"), lambda x, i: F.struct(x.alias("t"), (i + 1).alias("i"))
    )
    kept = F.transform(
        F.filter(
            indexed, lambda s: ~F.array_contains(F.col("_cov"), s["i"])
        ),
        lambda s: s["t"],
    )
    return staged.join(covered, "doc_id", "left").select(
        "doc_id",
        F.size("_tk").cast("long").alias("n_tokens"),
        F.coalesce(F.size("_cov"), F.lit(0)).cast("long").alias(
            "n_tokens_removed"
        ),
        F.when(F.col("_cov").isNull(), F.col("text"))
        .otherwise(F.array_join(kept, " "))
        .alias("clean_text"),
    )


REMOVE_DUP_SPANS_SQL = f"""
WITH tk AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
),
spans AS (
  SELECT doc_id, g.i AS pos,
         array_to_string(toks[g.i : g.i + {_SPAN_LEN - 1}], ' ') AS span
  FROM tk, LATERAL (
    SELECT unnest(generate_series(1, len(toks) - {_SPAN_LEN - 1})) AS i
  ) g
  WHERE len(toks) >= {_SPAN_LEN}
),
dup AS (
  SELECT span, min(doc_id) AS keeper
  FROM spans GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
),
covered AS (
  SELECT DISTINCT s.doc_id, c.ci AS idx
  FROM spans s JOIN dup d USING (span),
       LATERAL (
         SELECT unnest(generate_series(s.pos, s.pos + {_SPAN_LEN - 1})) AS ci
       ) c
  WHERE s.doc_id <> d.keeper
),
cov_n AS (SELECT doc_id, count(*) AS n FROM covered GROUP BY 1),
toks_idx AS (
  SELECT doc_id, unnest(toks) AS tok,
         unnest(generate_series(1, len(toks))) AS idx
  FROM tk
),
kept AS (
  SELECT ti.doc_id, string_agg(ti.tok, ' ' ORDER BY ti.idx) AS clean_text
  FROM toks_idx ti
  ANTI JOIN covered cv ON ti.doc_id = cv.doc_id AND ti.idx = cv.idx
  GROUP BY 1
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(cn.n, 0) AS BIGINT) AS n_tokens_removed,
       CASE WHEN cn.n IS NULL THEN t.text
            ELSE COALESCE(k.clean_text, '') END AS clean_text
FROM tk t
LEFT JOIN cov_n cn USING (doc_id)
LEFT JOIN kept k USING (doc_id)
"""


# --------------------------------------------------------------------------
def dedup_incremental_lsh(spark, sf_dir):
    """Incremental NEAR-dedup: banded-MinHash candidates between the
    arriving batch (doc_id % 10 = 0) and the existing corpus only —
    batch×batch and corpus×corpus pairs never materialize
    (operators/dedup.minhash_lsh_pairs_between).  The near-dup
    complement of dedup_incremental_batch's exact anti-join; same
    band/signature constants as dedup_minhash_lsh_candidates so the
    oracle CTEs are shared."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        minhash_lsh_pairs_between,
    )

    d = t(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 10 == 0)
    existing = d.filter(F.col("doc_id") % 10 != 0)
    return minhash_lsh_pairs_between(
        batch, existing, "doc_id", "text",
        num_hashes=8, band_size=4, shingle_k=3,
    )


DEDUP_INCR_LSH_SQL = f"""
WITH {_BANDED_CTE_SQL}
SELECT DISTINCT a.doc_id AS id_left, b.doc_id AS id_right,
       len(list_filter(generate_series(1, 8), i -> a.sig[i] = b.sig[i])) / 8 AS jaccard_est
FROM banded a JOIN banded b ON a.band = b.band
WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
"""


# --------------------------------------------------------------------------
def sample_stratified_topk(spark, sf_dir):
    """Per-stratum balanced subcorpus: for every language keep the k=20
    documents with the smallest deterministic hash — a seeded,
    reproducible per-group reservoir (every engine run and the oracle
    agree on the exact sample).  Few strata means a plain per-group
    window is the parallelism-collapse shape, so this runs through
    ``grouped_topk_salted`` (salted two-stage exact top-k); the salt
    uses engine-native xxhash64, which never affects the result — only
    the bucketing — so oracle parity is unaffected."""
    from rick_and_morty_data_pipeline_project_spark.operators.topk import (
        grouped_topk_salted,
    )

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.md5(
            F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))
        ).alias("_h"),
    )
    return grouped_topk_salted(d, ["lang"], "_h", k=20).select(
        "doc_id", "lang", "source"
    )


SAMPLE_STRATIFIED_SQL = """
SELECT doc_id, lang, source
FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR))
         ) AS rn
  FROM documents
)
WHERE rn <= 20
"""


# --------------------------------------------------------------------------
_CHUNK = 32  # tokens per chunk (context-window size)
_STRIDE = 24  # tokens between chunk starts (8-token overlap)


def text_chunk_overlap(spark, sf_dir):
    """Sliding-window document chunking with overlap — the standard
    "split long documents into model-context-sized pieces" op of a
    training-data pipeline.  Chunks are `_CHUNK` tokens wide starting
    every `_STRIDE` tokens (so consecutive chunks share
    `_CHUNK - _STRIDE` tokens); short docs yield one chunk.

    Scale: a pure narrow transform — tokenize once (materialized
    projection, see tokens_col), explode one small index array per doc,
    slice the token array per chunk.  Zero shuffles, zero Python; output
    rows ∝ total token count / stride, i.e. linear in corpus size and
    embarrassingly partition-parallel.
    """
    d = fan_out(t(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", tokens_col(F.col("text")).alias("_tk")
    ).select(
        "doc_id",
        "_tk",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.ceil(
                        (F.size("_tk") - F.lit(_CHUNK)).cast("double")
                        / F.lit(_STRIDE)
                    ).cast("int"),
                    F.lit(0),
                ),
            )
        ).alias("chunk_id"),
    )
    sliced = F.slice(
        F.col("_tk"), F.col("chunk_id") * _STRIDE + 1, _CHUNK
    )
    return toks.select(
        "doc_id",
        "chunk_id",
        F.size(sliced).alias("n_chunk_tokens"),
        F.array_join(sliced, " ").alias("chunk_text"),
    )


TEXT_CHUNK_SQL = f"""
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
ix AS (
  SELECT doc_id, toks,
         unnest(generate_series(0,
             greatest(CAST(ceil((n - {_CHUNK}) / {_STRIDE}.0) AS INT), 0)
         )) AS chunk_id
  FROM tk
)
SELECT doc_id, chunk_id,
       len(toks[chunk_id * {_STRIDE} + 1 : chunk_id * {_STRIDE} + {_CHUNK}])
         AS n_chunk_tokens,
       array_to_string(
         toks[chunk_id * {_STRIDE} + 1 : chunk_id * {_STRIDE} + {_CHUNK}], ' ')
         AS chunk_text
FROM ix
"""


# --------------------------------------------------------------------------
def text_quantile_filter(spark, sf_dir):
    """Per-group quantile-threshold quality filter: keep documents whose
    token count exceeds their language's median — "drop the short tail,
    per language" (absolute thresholds misfire across languages with
    different tokenization densities).

    Scale: the threshold table is one exact-percentile agg with
    |languages| output rows — broadcast back against the scored stream,
    so the corpus is scanned once and never shuffled (the agg shuffles
    only (lang, n_tokens) pairs, map-side combinable into sorted
    sketches; at 100 TB use the shipped
    :func:`text_quantile_filter_approx` twin and the agg state is a
    fixed-size sketch per partition).
    """
    return _quantile_filter(spark, sf_dir, F.percentile)


def _quantile_filter(spark, sf_dir, pctl):
    d = t(spark, sf_dir, "documents")
    # single-space split (family convention; string_split(' ') in the
    # oracle) — NOT a \s+ regex split, which diverges from the oracle
    # on any doubled/tab/newline whitespace
    scored = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    med = scored.groupBy("lang").agg(
        pctl(F.col("n_tokens").cast("double"), 0.5).alias("lang_median")
    )
    return (
        scored.join(F.broadcast(med), "lang")
        .filter(F.col("n_tokens") > F.col("lang_median"))
        .select("doc_id", "lang", "n_tokens", "lang_median")
    )


def text_quantile_filter_approx(spark, sf_dir):
    """The 100 TB form of :func:`text_quantile_filter`: per-language
    median via ``percentile_approx`` (accuracy 10000) — the per-group
    aggregation state is a fixed-size quantile sketch instead of the
    sorted group.

    ORACLED (promoted r8 from rows-only, the audit-twin shape): the
    returned value of a Greenwald-Khanna sketch is layout-dependent, so
    the driver-checked surface is per-language EXACT statistics
    (hash-verified against DuckDB) plus Spark-computed booleans the
    oracle pins TRUE — the GK rank guarantee, stated tie-safely on
    value-level ranks (``#{≤ v}`` / ``#{< v}`` straddle the
    ``0.5·n ± (ε·n + 1)`` band for ε = 1/accuracy; a two-sided bound on
    the KEPT count would be tie-fragile — with a tie block at the
    median, ``#{> v}`` jumps by the block size — so only the two
    one-sided rank bounds are asserted, which hold for ANY sketch
    merge order).  ``kept_exact`` (documents above the exact
    interpolated median) stays in the output as the informative
    DuckDB-checkable column.  Kept-set drift vs the exact twin remains
    bounded in tests/test_approx.py.

    Scale: same plan as the exact twin — one map-combinable per-lang
    agg (fixed-size sketch state), thresholds broadcast back, two
    bounded scans of documents (the agg arm and the join-back rank
    arm; Catalyst does not share the subtree).
    """
    d = t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    med = scored.groupBy("lang").agg(
        F.percentile(F.col("n_tokens").cast("double"), F.lit(0.5)).alias(
            "_exact_med"
        ),
        approx_pctl(F.col("n_tokens").cast("double"), 0.5).alias(
            "_approx_med"
        ),
        F.count(F.lit(1)).alias("n_docs"),
    )
    eps = 1.0 / APPROX_PCTL_ACCURACY
    joined = scored.join(F.broadcast(med), "lang")
    n = F.first("n_docs")
    slack = eps * n + F.lit(1.0)
    return joined.groupBy("lang").agg(
        F.first("n_docs").alias("n_docs"),
        F.sum((F.col("n_tokens") > F.col("_exact_med")).cast("long")).alias(
            "kept_exact"
        ),
        (
            F.sum((F.col("n_tokens") <= F.col("_approx_med")).cast("long"))
            >= 0.5 * n - slack
        ).alias("rank_lo_ok"),
        (
            F.sum((F.col("n_tokens") < F.col("_approx_med")).cast("long"))
            <= 0.5 * n + slack
        ).alias("rank_hi_ok"),
    )


TEXT_QUANTILE_APPROX_AUDIT_SQL = """
WITH scored AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
med AS (
  SELECT lang, quantile_cont(CAST(n_tokens AS DOUBLE), 0.5) AS exact_med,
         count(*) AS n_docs
  FROM scored GROUP BY 1
)
SELECT s.lang,
       CAST(any_value(m.n_docs) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN s.n_tokens > m.exact_med THEN 1 ELSE 0 END)
            AS BIGINT) AS kept_exact,
       TRUE AS rank_lo_ok,
       TRUE AS rank_hi_ok
FROM scored s JOIN med m USING (lang)
GROUP BY s.lang
"""


TEXT_QUANTILE_SQL = """
WITH scored AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
med AS (
  SELECT lang, quantile_cont(CAST(n_tokens AS DOUBLE), 0.5) AS lang_median
  FROM scored GROUP BY lang
)
SELECT doc_id, lang, n_tokens, lang_median
FROM scored JOIN med USING (lang)
WHERE n_tokens > lang_median
"""


# --------------------------------------------------------------------------
def text_tfidf_topterms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms — the classic "what is this
    document about" keyword extractor (inputs come from the same
    token→count aggregates as text_vocab_df).

    Scale: two map-side-combinable aggs (tf on (doc, term), df on term),
    one high-cardinality join back on the term key, corpus-size scalar
    broadcast; the rank window partitions by doc_id (high cardinality —
    parallelism preserved).  tfidf is rounded to 6 decimals BEFORE
    ranking so the rank order itself (not just the printed value) is
    identical to the oracle's.
    """
    tf, df_, n_docs = _tfidf_weighted(spark, sf_dir)
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("_n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "term_rank")
    )


def _tfidf_weighted(spark, sf_dir):
    """Shared TF-IDF weighting pipeline: (tf, df_, n_docs) relations
    over the documents table — the single definition both
    ``text_tfidf_topterms`` and ``text_tfidf_cosine_pairs`` build on,
    so tokenization/idf can never drift between the two families."""
    d = fan_out(t(spark, sf_dir, "documents"))
    words = d.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    return tf, df_, n_docs


# the matching shared oracle CTE prefix (words/tf/dfq/nd)
_TFIDF_CTES_SQL = """words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)"""


# Exact cosine threshold implied by the rounded output filter:
# round(cosine, 6) >= 0.8  <=>  cosine >= 0.7999995 (round-half-up).
_TFIDF_COSINE_T = 0.7999995
# Double-arithmetic slack for the prefix bound (the normalized weights
# and their windowed tail sums run in double; relative error ~1e-15,
# 1e-6 is overwhelmingly generous and costs a handful of extra
# candidates that the exact verify discards).
_TFIDF_PREFIX_EPS = 1e-6


def _tfidf_weight_relation(spark, sf_dir):
    """The pruned decimal TF-IDF weight relation (doc_id, term, df, w)
    plus the per-doc L2 norms — shared by candidate generation and the
    decimal-exact verify phase.  Near-stopwords (df > 80% of docs) are
    pruned here, on both engines (oracle does the same in SQL)."""
    tf, df_, n_docs = _tfidf_weighted(spark, sf_dir)
    # referenced by norms, the prefix index and both verify sides:
    # materialize once instead of recomputing the tokenize pipeline
    # per reference
    w = materialize(
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") <= F.col("_n_docs") * 0.8)
        .select(
            "doc_id",
            "term",
            "df",
            F.round(F.col("tf") * F.log(F.col("_n_docs") / F.col("df")), 6)
            .cast("decimal(18,6)")
            .alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("norm")
    )
    return w, norms


def _tfidf_prefix_candidates(w, norms):
    """Exact PPJoin-style prefix-filtered candidate pairs.

    Theory (Bayardo et al., "Scaling Up All Pairs Similarity Search",
    WWW'07 — public method): fix a global term order (ascending df,
    then term — rare terms first, so prefixes index the SHORT posting
    lists).  For each doc sort its L2-normalized weights in that order
    and keep the minimal leading PREFIX such that the remaining
    suffix's L2 norm drops below the threshold t.  For any pair (x, y)
    whose terms collide only OUTSIDE x's prefix,

        cos(x, y) = <x̂, ŷ> <= ||x̂_suffix|| * ||ŷ|| < t,

    so every qualifying pair must match the prefix index of each of
    its members on at least one term.  Candidate generation is
    therefore prefix-postings ⋈ full-postings on the term key — cost
    ∝ Σ_t prefix_df(t)·df(t) (actual collisions), NEVER |docs|²: no
    BroadcastNestedLoopJoin, no CartesianProduct, survives a 100×
    corpus.  Membership test (term i is in the prefix ⟺ the tail sum
    Σ_{j>=i} x̂_j² >= t²) runs as ONE window over the weight relation,
    ordered (df asc, term asc) — deterministic, no ties.

    The filter is a strict superset generator: candidates are verified
    by the caller's decimal-exact posting aggregate, so output is
    bit-identical to the all-pairs form.
    """
    t_eff = _TFIDF_COSINE_T - _TFIDF_PREFIX_EPS
    nw2 = (F.col("w").cast("double") / F.col("norm")) ** 2
    tail_w = (
        Window.partitionBy("doc_id")
        .orderBy(F.asc("df"), F.asc("term"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prefix = (
        w.join(norms, "doc_id")
        .withColumn("_tail2", F.sum(nw2).over(tail_w))
        .filter(F.col("_tail2") >= F.lit(t_eff * t_eff))
        .select(F.col("doc_id").alias("_id_p"), "term")
    )
    full = w.select(F.col("doc_id").alias("_id_f"), "term")
    return (
        prefix.join(full.hint("shuffle_hash"), "term")
        .filter(F.col("_id_p") != F.col("_id_f"))
        .select(
            F.least("_id_p", "_id_f").alias("id_a"),
            F.greatest("_id_p", "_id_f").alias("id_b"),
        )
        .distinct()
    )


def _tfidf_dense_candidates(w, na, nb, terms):
    """Dense double-precision candidate pairs for the bounded-shape
    path: rounded cosine ≥ 0.8 ⟺ exact cosine ≥ 0.7999995, so the
    prefilter keeps dot ≥ (0.7999995 − 1e-7)·|a|·|b| — a guaranteed
    superset of the decimal-exact survivors.  Callers gate BOTH vocab
    (≤ _TFIDF_DENSE_VOCAB_CAP columns) and doc count
    (≤ _TFIDF_DENSE_DOC_CAP broadcast rows), so total work is a
    constant regardless of corpus scale."""
    import functools
    import operator

    dense = (
        w.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "w"))
            ).alias("_m")
        )
        .select(
            "doc_id",
            *[
                F.coalesce(
                    F.element_at(F.col("_m"), F.lit(t)).cast("double"),
                    F.lit(0.0),
                ).alias(f"_x{i}")
                for i, t in enumerate(terms)
            ],
        )
    )
    a = dense.join(
        na, dense["doc_id"] == na["id_a"]
    ).select("id_a", "_na", *[F.col(f"_x{i}").alias(f"_a{i}") for i in range(len(terms))])
    b = dense.join(
        nb, dense["doc_id"] == nb["id_b"]
    ).select("id_b", "_nb", *[F.col(f"_x{i}").alias(f"_b{i}") for i in range(len(terms))])
    dot_dbl = functools.reduce(
        operator.add,
        [F.col(f"_a{i}") * F.col(f"_b{i}") for i in range(len(terms))],
    )
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .filter(
            dot_dbl
            >= F.lit(0.7999995 - 1e-7) * F.col("_na") * F.col("_nb")
        )
        .select("id_a", "id_b")
    )


# Dense-path gates: the quadratic candidate generator is allowed ONLY
# when BOTH dimensions are bounded, so its total work is a constant
# (≤ 8192²/2 ≈ 33M fused-codegen pair evaluations — about one
# second of one core), never a function of corpus growth.
_TFIDF_DENSE_VOCAB_CAP = 256
_TFIDF_DENSE_DOC_CAP = 8192


def text_tfidf_cosine_pairs(spark, sf_dir):
    """TF-IDF cosine similarity pairs (cosine ≥ 0.8) — candidate
    generation dispatches on MEASURED corpus shape, exact output on
    every path:

    * **Dense path (vocab ≤ 256 AND docs ≤ 8192 — both probed with
      bounded limit-scans of the checkpointed weight relation).**
      Pivot each doc to a dense weight vector, evaluate all pairs with
      an unrolled double dot fused into a broadcast nested-loop filter.
      Quadratic — but the gate makes the quadratic a CONSTANT (≤ 33M
      codegen pair-evals), the same way a broadcast join bounds its
      build side.  This exists because the benchmark corpus is
      DEGENERATE by construction: 31-term vocabulary, 3.5% of all doc
      pairs genuinely ≥ 0.8 (measured at sf0.1: 445,287 of 12.5M), so
      the OUTPUT itself is Θ(n²) and no candidate generator can be
      subquadratic here (prefix filtering measured 99.75% candidate
      ratio — it prunes nothing when most pairs truly qualify).
    * **Scale path (anything larger): exact PPJoin prefix filtering**
      (`_tfidf_prefix_candidates`) — index only each doc's top-weight
      terms (minimal prefix whose complement's L2 norm < threshold,
      global term order rare-first); any qualifying pair must collide
      on a prefix term, so candidate count tracks prefix collisions,
      not |docs|².  On realistic open-vocabulary corpora (where
      qualifying pairs are sparse) this is the 100 TB shape: no
      BroadcastNestedLoopJoin, no CartesianProduct, no full Σ df²
      posting join.

    Both paths feed the same **decimal-exact verify**: only candidates
    enter the authoritative DECIMAL dot / norm aggregate (exact,
    order-independent); the cosine division is one double op per
    surviving pair, so the OUTPUT is bit-identical to the all-pairs
    oracle at every scale factor and on either path.

    Near-stopwords (df > 80% of docs) are pruned before weighting.
    Float parity: weights round to 6 decimals; tie-free deterministic
    prefix order (df asc, term asc); the double bounds carry 1e-6/1e-7
    slack so boundary pairs always reach the exact phase.
    """
    w, norms = _tfidf_weight_relation(spark, sf_dir)
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("norm").alias("_na"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("norm").alias("_nb"))

    # Bounded shape probes (limit caps the result set; one pass each
    # over the already-materialized weight relation, nothing touches
    # the raw corpus again), run concurrently instead of as two
    # serial driver actions.
    terms, n_docs_capped = concurrently(
        lambda: [
            r["term"]
            for r in w.select("term")
            .distinct()
            .orderBy("term")
            .limit(_TFIDF_DENSE_VOCAB_CAP + 1)
            .collect()
        ],
        lambda: w.select("doc_id")
        .distinct()
        .limit(_TFIDF_DENSE_DOC_CAP + 1)
        .count(),
    )
    dense_ok = (
        len(terms) <= _TFIDF_DENSE_VOCAB_CAP
        and n_docs_capped <= _TFIDF_DENSE_DOC_CAP
    )
    if dense_ok:
        # On the dense path the exact verify runs as an unrolled
        # int64-micros dot over the dense vectors (no posting join, no
        # shuffle); an overflow guard falls back to the posting verify.
        # Only this path reads max(w), so only it runs the probe.
        maxw = w.agg(F.max("w")).first()[0]
        out = _tfidf_dense_exact_verify(w, na, nb, terms, maxw)
        if out is not None:
            return out
        cand = _tfidf_dense_candidates(w, na, nb, terms)
    else:
        cand = _tfidf_prefix_candidates(w, norms)
    return _tfidf_posting_verify(w, na, nb, cand)


def _tfidf_posting_verify(w, na, nb, cand):
    """The decimal-exact posting verify: candidates joined back to the
    weight relation, one exact DECIMAL(38,12) dot aggregate per pair
    (order-independent), cosine division + round as one double op."""
    wa = w.select(
        F.col("doc_id").alias("id_a"), "term", F.col("w").alias("_wa")
    )
    wb = w.select(
        F.col("doc_id").alias("id_b"), "term", F.col("w").alias("_wb")
    )
    dots = (
        cand.join(wa, "id_a")
        .join(wb, ["id_b", "term"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("_wa") * F.col("_wb")).cast("double").alias("_dot"))
    )
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), 6).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= 0.8)
    )


def _tfidf_dense_exact_verify(w, na, nb, terms, maxw):
    """Dense-path exact verify WITHOUT the posting join (the shuffle
    is removed outright): the weights are DECIMAL(18,6),
    so each is an exact int64 count of micro-units (w·10⁶); the pair
    dot Σ wa·wb is then an exact int64 sum of products whose value,
    rescaled by the exact decimal literal 10⁻¹², is the IDENTICAL
    rational the posting verify's DECIMAL(38,12) aggregate produces —
    same double after the cast, same cosine bit (proven pairwise-equal
    over all 445k sf0.1 survivors and pinned in tests/test_textq.py).

    Shape: the narrow double-prefilter BNLJ runs exactly as before and
    is materialized (the barrier also keeps the huge prefilter
    expression and the dot tail in separate codegen stages — fusing
    them measured 5x slower than the two-stage form); survivors then
    broadcast-join the per-doc dense micros vectors and evaluate one
    unrolled codegen'd int64 dot each.  Replaces a Σ|pair terms| row
    shuffle + decimal hash aggregate with |survivors| narrow rows.

    Returns None when the int64 bound cannot be guaranteed (measured
    max|w| too large for n_terms products to stay under 2⁶² — never at
    the shipped SFs, where the margin is >10³); callers then keep the
    decimal posting verify.
    """
    import functools
    import operator

    if maxw is None:
        return None
    max_micros = int(maxw.scaleb(6)) + 1
    if len(terms) * max_micros * max_micros >= (1 << 62):
        return None

    n = len(terms)
    dl = (
        w.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "w"))
            ).alias("_m")
        )
        .select(
            "doc_id",
            *[
                F.coalesce(
                    (F.element_at(F.col("_m"), F.lit(t)) * F.lit(1000000))
                    .cast("long"),
                    F.lit(0).cast("long"),
                ).alias(f"_d{i}")
                for i, t in enumerate(terms)
            ],
        )
    )
    da = dl.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"_d{i}").alias(f"_da{i}") for i in range(n)],
    )
    db = dl.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"_d{i}").alias(f"_db{i}") for i in range(n)],
    )
    dot_long = functools.reduce(
        operator.add,
        [F.col(f"_da{i}") * F.col(f"_db{i}") for i in range(n)],
    )
    # exact rescale: int64 sum → DECIMAL(20,0) → ×10⁻¹² (DECIMAL(34,12),
    # no precision loss) → the same double the decimal aggregate casts to
    dot_dbl = (
        dot_long.cast("decimal(20,0)")
        * F.lit("0.000000000001").cast("decimal(13,12)")
    ).cast("double")
    cand = materialize(_tfidf_dense_candidates(w, na, nb, terms))
    return (
        cand.join(F.broadcast(da), "id_a")
        .join(F.broadcast(db), "id_b")
        .select("id_a", "id_b", dot_dbl.alias("_dot"))
        .join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), 6).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= 0.8)
    )


TFIDF_COSINE_SQL = f"""
WITH {_TFIDF_CTES_SQL},
wts AS (
  SELECT doc_id, term,
         CAST(round(tf * ln(n_docs / df), 6) AS DECIMAL(18,6)) AS w
  FROM tf JOIN dfq USING (term) CROSS JOIN nd
  WHERE df <= n_docs * 0.8
),
norms AS (
  SELECT doc_id, sqrt(CAST(sum(w * w) AS DOUBLE)) AS norm
  FROM wts GROUP BY 1
),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(sum(a.w * b.w) AS DOUBLE) AS dot
  FROM wts a JOIN wts b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(dot / (na.norm * nb.norm), 6) AS cosine
FROM dots
JOIN norms na ON na.doc_id = id_a
JOIN norms nb ON nb.doc_id = id_b
WHERE round(dot / (na.norm * nb.norm), 6) >= 0.8
"""


TEXT_TFIDF_SQL = f"""
WITH {_TFIDF_CTES_SQL},
scored AS (
  SELECT doc_id, term, tf, df, round(tf * ln(n_docs / df), 6) AS tfidf
  FROM tf JOIN dfq USING (term) CROSS JOIN nd
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS term_rank
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, term_rank
FROM ranked WHERE term_rank <= 3
"""


# --------------------------------------------------------------------------
def text_quality_normalized(spark, sf_dir):
    """Per-group feature normalization: z-score each document's token
    count against its LANGUAGE's mean/std — the standard "normalize
    features within their cohort before thresholding" step (absolute
    token counts are not comparable across languages).

    Float parity: group sums of integer token counts are exact BIGINTs;
    mean/var/z are the identical double expression tree in both engines
    (same pattern as events_zscore_outliers).  Scale: one agg keyed on
    lang (tiny output), broadcast back onto a single corpus scan —
    never a window over the corpus.
    """
    d = t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    stats = scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("n_tokens").cast("double").alias("_s"),
        F.sum(F.col("n_tokens") * F.col("n_tokens"))
        .cast("double")
        .alias("_s2"),
    )
    j = scored.join(F.broadcast(stats), "lang")
    mean = F.col("_s") / F.col("_n")
    # CASE-guard the variance: a singleton cohort (_n = 1) would make
    # the expression 0.0/0.0, which RAISES under the driver session's
    # ANSI defaults (DuckDB returns NULL and drops the row) — the
    # guard makes both engines drop singleton-language rows the same
    # lazy way
    var = F.when(
        F.col("_n") > 1,
        (F.col("_s2") - (F.col("_s") * F.col("_s")) / F.col("_n"))
        / (F.col("_n") - 1),
    )
    return j.filter(var > 0).select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(mean, 6).alias("lang_mean"),
        F.round(
            (F.col("n_tokens") - mean) / F.sqrt(var), 6
        ).alias("tokens_z"),
    )


TEXT_QNORM_SQL = """
WITH scored AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
stats AS (
  SELECT lang, CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(n_tokens) AS DOUBLE) AS s,
         CAST(sum(n_tokens * n_tokens) AS DOUBLE) AS s2
  FROM scored GROUP BY 1
)
SELECT doc_id, lang, n_tokens,
       round(s / n, 6) AS lang_mean,
       round((n_tokens - s / n)
             / sqrt(CASE WHEN n > 1
                         THEN (s2 - (s * s) / n) / (n - 1) END), 6)
         AS tokens_z
FROM scored JOIN stats USING (lang)
WHERE CASE WHEN n > 1 THEN (s2 - (s * s) / n) / (n - 1) END > 0
"""


# --------------------------------------------------------------------------
def text_pack_materialize(spark, sf_dir, capacity: int = _PACK_CAPACITY):
    """Materialized sequence packing: the texts of each (shard, bucket)
    from ``text_pack_buckets`` concatenated in doc-id order with an EOS
    separator — the actual packed training sequences, not just the
    plan.

    Scale: the cumsum window stays per-shard (parallel); the
    concatenation is one combinable-input groupBy on (shard, bucket)
    whose groups are capacity-bounded (≈ capacity tokens each), so no
    group ever exceeds a few KB regardless of corpus size.  collect_list
    order is non-deterministic, hence the array_sort on (doc_id, text)
    structs before joining — matching the oracle's ORDER BY inside
    string_agg.
    """
    d = t(spark, sf_dir, "documents")
    bucketed = _pack_bucketed(d, capacity, keep_text=True)
    packed = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
            lambda s: s["text"],
        ),
        "<|eos|>",
    )
    return bucketed.groupBy("shard", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        packed.alias("packed_text"),
    )


TEXT_PACK_MAT_SQL = f"""
WITH {_PACK_BUCKETED_SQL}
SELECT shard, bucket, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       string_agg(text, '<|eos|>' ORDER BY doc_id) AS packed_text
FROM bucketed
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
def dedup_minhash_estimate_audit(spark, sf_dir):
    """Sketch-quality audit: for every LSH candidate pair, the MinHash
    component-agreement ESTIMATE of Jaccard next to the EXACT Jaccard
    of the distinct 3-gram sets, with absolute error — the check that
    tells you whether your banding/threshold parameters actually track
    the similarity they claim to.

    Scale: exact Jaccard is computed ONLY for the LSH candidates
    (array_intersect per pair — fine because candidates ≪ n²; the full
    exact join would be the quadratic blowup LSH exists to avoid).
    The gram arrays join onto the pair ids, a high-cardinality shuffle.
    """
    d = t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=8, band_size=4, shingle_k=3
    )
    toked = fan_out(d).select(
        "doc_id", tokens_col(F.col("text")).alias("_tk")
    )
    grams = toked.select(
        "doc_id",
        F.array_distinct(
            shingles_from_tokens(F.col("_tk"), 3)
        ).alias("g"),
    )
    joined = (
        pairs.join(
            grams.select(F.col("doc_id").alias("id_a"), F.col("g").alias("_ga")),
            "id_a",
        )
        .join(
            grams.select(F.col("doc_id").alias("id_b"), F.col("g").alias("_gb")),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("_ga", "_gb"))
    exact = inter / (F.size("_ga") + F.size("_gb") - inter)
    return joined.select(
        "id_a",
        "id_b",
        F.round("jaccard_est", 6).alias("jaccard_est"),
        F.round(exact, 6).alias("jaccard_exact"),
        F.round(F.abs(F.col("jaccard_est") - exact), 6).alias("abs_err"),
    )


MINHASH_AUDIT_SQL = f"""
WITH {_BANDED_CTE_SQL},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_filter(generate_series(1, 8), i -> a.sig[i] = b.sig[i])) / 8 AS jaccard_est
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
),
grams AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(toks) >= 3
                THEN list_transform(generate_series(1, len(toks) - 2),
                                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                ELSE [array_to_string(toks, ' ')]
           END) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
)
SELECT p.id_a, p.id_b,
       round(p.jaccard_est, 6) AS jaccard_est,
       round(len(list_filter(ga.g, x -> list_contains(gb.g, x)))
             / (len(ga.g) + len(gb.g)
                - len(list_filter(ga.g, x -> list_contains(gb.g, x)))), 6)
         AS jaccard_exact,
       round(abs(p.jaccard_est
             - len(list_filter(ga.g, x -> list_contains(gb.g, x)))
               / (len(ga.g) + len(gb.g)
                  - len(list_filter(ga.g, x -> list_contains(gb.g, x))))), 6)
         AS abs_err
FROM pairs p
JOIN grams ga ON ga.doc_id = p.id_a
JOIN grams gb ON gb.doc_id = p.id_b
"""


# --------------------------------------------------------------------------
def dedup_cluster_representatives(spark, sf_dir):
    """The dedup pipeline's final decision: for every near-dup cluster,
    KEEP the highest-quality member (distinct-token ratio, doc_id
    tiebreak) and report the cluster size — "which doc survives and
    how many it replaced".

    Scale: clusters come from the iterative connected components; the
    quality join and the per-cluster rank window both key on
    high-cardinality ids (cluster count ∝ corpus).  Rank uses the
    UNROUNDED ratio (exact quotient of integers — bit-identical in
    both engines); only the displayed value is rounded.
    """
    clusters = dedup_minhash_clusters(spark, sf_dir)
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    quality = d.select(
        "doc_id",
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("_q"),
    )
    j = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("_q"), F.asc("doc_id")
    )
    reps = (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            F.round("_q", 9).alias("rep_quality"),
        )
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return reps.join(sizes, "cluster_id")


CLUSTER_REPS_SQL = f"""
WITH RECURSIVE {_BANDED_CTE_SQL},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION
  SELECT id_b AS src, id_a AS dst FROM cand
),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
clusters AS (
  SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY 1
),
quality AS (
  SELECT doc_id,
         len(list_distinct(string_split(text, ' ')))
           / len(string_split(text, ' ')) AS q
  FROM documents
),
ranked AS (
  SELECT c.cluster_id, c.doc_id, q.q,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.q DESC, c.doc_id ASC) AS rn
  FROM clusters c JOIN quality q USING (doc_id)
),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM clusters GROUP BY 1)
SELECT r.cluster_id, r.doc_id AS rep_doc_id, round(r.q, 9) AS rep_quality,
       s.cluster_size
FROM ranked r JOIN sizes s USING (cluster_id)
WHERE r.rn = 1
"""


# --------------------------------------------------------------------------
def text_pmi_collocations(spark, sf_dir):
    """Pointwise-mutual-information collocation mining: adjacent token
    pairs occurring ≥ 5 times, scored pmi = ln(P(ab) / (P(a)·P(b))).
    The classic "find multi-word expressions" corpus-statistics op.

    Scale: bigrams are a narrow zip-of-slices per document (no
    self-join, no positional shuffle); bigram and unigram counts are
    map-side-combinable aggs on high-cardinality keys; the two corpus
    totals broadcast.  PMI inputs are exact integer counts, so the only
    float steps (two divides, one ln) are identical in both engines;
    rounded to 6 before the hash.
    """
    d = fan_out(t(spark, sf_dir, "documents"))
    tk = d.select("doc_id", tokens_col(F.col("text")).alias("_tk"))
    n = F.size("_tk")
    pairs = tk.select(
        F.explode(
            F.arrays_zip(
                F.slice("_tk", 1, n - 1).alias("w1"),
                F.slice("_tk", 2, n - 1).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    uni = (
        tk.select(F.explode("_tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    tot = uni.agg(
        F.sum("c_w").cast("double").alias("_nu")
    )
    tot_b = big.agg(F.sum("c_ab").cast("double").alias("_nb"))
    return (
        big.filter(F.col("c_ab") >= 5)
        .join(
            F.broadcast(uni.select(F.col("w").alias("w1"),
                                   F.col("c_w").alias("_ca"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"),
                                   F.col("c_w").alias("_cb"))),
            "w2",
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tot_b))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab") / F.col("_nb"))
                    / ((F.col("_ca") / F.col("_nu"))
                       * (F.col("_cb") / F.col("_nu")))
                ),
                6,
            ).alias("pmi"),
        )
    )


TEXT_PMI_SQL = """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pairs AS (
  SELECT u.p[1] AS w1, u.p[2] AS w2
  FROM tk, LATERAL (
    SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
  ) u
),
big AS (SELECT w1, w2, count(*) AS c_ab FROM pairs GROUP BY 1, 2),
uni AS (
  SELECT w, count(*) AS c_w
  FROM (SELECT unnest(t) AS w FROM tk) GROUP BY 1
),
tot AS (SELECT CAST(sum(c_w) AS DOUBLE) AS nu FROM uni),
tot_b AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS nb FROM big)
SELECT b.w1, b.w2, b.c_ab,
       round(ln((b.c_ab / tot_b.nb) /
                ((ca.c_w / tot.nu) * (cb.c_w / tot.nu))), 6) AS pmi
FROM big b
JOIN uni ca ON ca.w = b.w1
JOIN uni cb ON cb.w = b.w2
CROSS JOIN tot CROSS JOIN tot_b
WHERE b.c_ab >= 5
"""


def text_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document (nats) — the cheap
    gibberish/boilerplate detector: natural text sits near ~3 nats,
    repeated-character spam and base64 blobs fall far outside.

    Entirely JVM higher-order functions, one narrow pass: split to
    chars, per-distinct-char frequency via ``filter``+``size``, and a
    left fold over the SORTED distinct chars so the summation order is
    identical to the oracle's ``list_reduce`` — the rounded value is
    then bit-stable.  Per-row cost is O(distinct·len); nothing shuffles.
    """
    d = t(spark, sf_dir, "documents")
    staged = fan_out(d).select(
        "doc_id", F.split(F.col("text"), "").alias("cs")
    ).select(
        "doc_id",
        "cs",
        F.size("cs").cast("long").alias("len_chars"),
        F.array_sort(F.array_distinct("cs")).alias("ds"),
    )

    def _p(c):
        return F.size(
            F.filter(F.col("cs"), lambda x: x == c)
        ).cast("double") / F.col("len_chars").cast("double")

    ent = F.aggregate(
        F.col("ds"),
        F.lit(0.0),
        lambda acc, c: acc + -(_p(c) * F.log(_p(c))),
    )
    return staged.select(
        "doc_id",
        "len_chars",
        F.size("ds").cast("long").alias("n_unique_chars"),
        F.round(ent, 6).alias("char_entropy_nats"),
    )


TEXT_CHAR_ENTROPY_SQL = """
WITH st AS (
  SELECT doc_id,
         str_split(text, '') AS cs,
         len(str_split(text, '')) AS n,
         list_sort(list_distinct(str_split(text, ''))) AS ds
  FROM documents
)
SELECT doc_id,
       n AS len_chars,
       len(ds) AS n_unique_chars,
       round(list_reduce(list_prepend(0.0, list_transform(ds, c ->
         -((len(list_filter(cs, x -> x = c))::DOUBLE / n::DOUBLE)
           * ln(len(list_filter(cs, x -> x = c))::DOUBLE / n::DOUBLE)))),
         (acc, x) -> acc + x), 6) AS char_entropy_nats
FROM st
"""


def text_bigram_logprob(spark, sf_dir):
    """Corpus bigram-LM document scoring with add-k smoothing — the
    next perplexity proxy up from ``text_unigram_logprob``:
    score = mean ln((c(w1,w2)+k) / (c(w1)+k·V)) over the doc's adjacent
    bigrams, k=0.5, V = unigram vocabulary size.

    Scale: bigram and unigram counts are map-side-combinable aggs on
    high-cardinality keys; scoring joins the doc bigram stream to the
    bigram vocab on its key and to the left-unigram counts; V is a
    1-row broadcast.  Docs with <2 tokens have no bigrams and drop out
    (identically in the oracle).
    """
    d = t(spark, sf_dir, "documents")
    toked = d.select("doc_id", tokens_col(F.col("text")).alias("t"))
    big = toked.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.slice(F.col("t"), 2, F.size("t")),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    uni = toked.select(F.explode("t").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    vocab = uc.agg(F.count(F.lit(1)).cast("double").alias("v"))
    scored = (
        big.join(bc, ["w1", "w2"])
        .join(uc.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.avg(
                F.log(
                    (F.col("c_ab") + F.lit(0.5))
                    / (F.col("c_w") + F.lit(0.5) * F.col("v"))
                )
            ),
            6,
        ).alias("avg_bigram_logprob"),
    )


TEXT_BIGRAM_LM_SQL = """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
big AS (
  SELECT doc_id, u.p[1] AS w1, u.p[2] AS w2
  FROM tk, LATERAL (
    SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
  ) u
),
bc AS (SELECT w1, w2, count(*) AS c_ab FROM big GROUP BY 1, 2),
uc AS (
  SELECT w, count(*) AS c_w
  FROM (SELECT unnest(t) AS w FROM tk) GROUP BY 1
),
vocab AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uc)
SELECT big.doc_id,
       count(*) AS n_bigrams,
       round(avg(ln((bc.c_ab + 0.5) / (uc.c_w + 0.5 * vocab.v))), 6)
         AS avg_bigram_logprob
FROM big
JOIN bc USING (w1, w2)
JOIN uc ON uc.w = big.w1
CROSS JOIN vocab
GROUP BY 1
"""


def text_keyness_by_source(spark, sf_dir):
    """Dunning log-likelihood (G²) keyness: the top-5 terms most
    over-represented in each source vs the rest of the corpus — the
    standard corpus-comparison statistic for characterizing what a
    source contributes (boilerplate detection, source profiling).

    G² = 2·[a·ln(a/E_a) + b·ln(b/E_b)] with a = term count in the
    source, b = count elsewhere, E the expected counts under the
    pooled rate.  All counts are exact integers from two
    map-combinable aggs; per-source and corpus totals broadcast back
    as scalars; the final rank windows on the source key over the
    (vocab × sources)-bounded keyness relation, never raw tokens.
    G² is rounded to 6 BEFORE ranking so rank order matches the
    oracle bit-for-bit; zero-count terms contribute 0 by the x·ln(x)
    limit (CASE-guarded identically in both engines).
    """
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tokens_col(F.col("text"))).alias("w")
    )
    st = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("a"))
    tot_w = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    tot_s = toks.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    n_all = toks.agg(F.count(F.lit(1)).alias("n"))
    j = (
        st.join(tot_w, "w")
        .join(tot_s, "source")
        .crossJoin(F.broadcast(n_all))
    )
    a = F.col("a").cast("double")
    b = (F.col("cw") - F.col("a")).cast("double")
    ns = F.col("ns").cast("double")
    nr = (F.col("n") - F.col("ns")).cast("double")
    ea = (F.col("cw").cast("double")) * ns / F.col("n").cast("double")
    eb = (F.col("cw").cast("double")) * nr / F.col("n").cast("double")
    term_a = F.when(a > 0, a * F.log(a / ea)).otherwise(F.lit(0.0))
    term_b = F.when(b > 0, b * F.log(b / eb)).otherwise(F.lit(0.0))
    scored = j.select(
        "source",
        "w",
        F.col("a").alias("count_in_source"),
        F.round(2.0 * (term_a + term_b), 6).alias("g2"),
    )
    win = Window.partitionBy("source").orderBy(
        F.desc("g2"), F.asc("w")
    )
    return (
        scored.withColumn(
            "rank", F.row_number().over(win).cast("long")
        )
        .filter(F.col("rank") <= 5)
        .select("source", "rank", "w", "count_in_source", "g2")
    )


TEXT_KEYNESS_SQL = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
st AS (SELECT source, w, count(*) AS a FROM toks GROUP BY 1, 2),
tw AS (SELECT w, count(*) AS cw FROM toks GROUP BY 1),
ts AS (SELECT source, count(*) AS ns FROM toks GROUP BY 1),
na AS (SELECT count(*) AS n FROM toks),
scored AS (
  SELECT st.source, st.w, st.a AS count_in_source,
         round(2.0 * (
           CASE WHEN st.a > 0 THEN st.a * ln(st.a /
             (cw * CAST(ns AS DOUBLE) / n)) ELSE 0.0 END
           + CASE WHEN cw - st.a > 0 THEN (cw - st.a) * ln((cw - st.a) /
             (cw * CAST(n - ns AS DOUBLE) / n)) ELSE 0.0 END
         ), 6) AS g2
  FROM st JOIN tw USING (w) JOIN ts USING (source) CROSS JOIN na
)
SELECT source, rank, w, count_in_source, g2 FROM (
  SELECT source, w, count_in_source, g2,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY g2 DESC, w ASC) AS rank
  FROM scored) WHERE rank <= 5
"""


_ZIPF_TOP_N = 1000


def text_zipf_fit(spark, sf_dir):
    """Zipf's-law fit over the top-N vocabulary: OLS of ln(freq) on
    ln(rank) — slope ≈ −1 for natural language, the corpus sanity
    check that catches synthetic/degenerate token distributions.

    Scale discipline: the fit runs over the TOP-1000 head only (where
    the law holds), fetched with a two-stage TakeOrderedAndProject, so
    the global rank window orders 1000 rows by construction — never
    the full vocabulary.  ln values are rounded to 6 dp and summed as
    DECIMAL(9,6) (exact, order-independent — a raw double sum over
    partitions would not be bit-reproducible), with the products kept
    inside both engines' int64 decimal-multiply width; the closed-form
    slope/intercept/r then divide exact sums in float64, identically
    in both engines.
    """
    d = t(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = vocab.orderBy(F.desc("c"), F.asc("w")).limit(_ZIPF_TOP_N)
    win = Window.orderBy(F.desc("c"), F.asc("w"))
    ranked = top.withColumn("rank", F.row_number().over(win))
    b = ranked.select(
        F.round(F.log("rank"), 6).cast("decimal(9,6)").alias("_x"),
        F.round(F.log("c"), 6).cast("decimal(9,6)").alias("_y"),
    )
    s = b.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    n = F.col("n_terms").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    cov_n = n * sxy - sx * sy
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    slope = cov_n / F.nullif(varx_n, F.lit(0.0))
    return s.select(
        "n_terms",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            cov_n / F.nullif(F.sqrt(varx_n * vary_n), F.lit(0.0)), 6
        ).alias("pearson_r"),
    )


TEXT_ZIPF_SQL = f"""
WITH vocab AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY 1
),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS rank
  FROM vocab
),
b AS (
  SELECT CAST(round(ln(rank), 6) AS DECIMAL(9,6)) AS x,
         CAST(round(ln(c), 6) AS DECIMAL(9,6)) AS y
  FROM ranked WHERE rank <= {_ZIPF_TOP_N}
),
s AS (
  SELECT count(*) AS n_terms,
         sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
         sum(x*x) AS sxx, sum(y*y) AS syy
  FROM b
)
SELECT n_terms,
       round((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / NULLIF(CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0),
             6) AS zipf_slope,
       round((CAST(sy AS DOUBLE)
              - (CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / NULLIF(CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)
                * CAST(sx AS DOUBLE))
             / CAST(n_terms AS DOUBLE), 6) AS intercept,
       round((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / NULLIF(sqrt((CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * (CAST(n_terms AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0),
             6) AS pearson_r
FROM s
"""


_FH_HEX = "0123456789abcdef"


def text_feature_hashing(spark, sf_dir):
    """Hashing-trick vectorizer (Vowpal-style): each document becomes a
    fixed 16-dimension signed-count feature vector with NO vocabulary
    — bucket = last md5 hex digit of the token, sign = top bit of the
    first digit (signed hashing keeps collision noise zero-mean).
    The cheap featurization step in front of linear probes/dedup
    heuristics when a trained vocab is unaffordable.

    Scale: one narrow tokenize+hash pass, one map-combinable 16-column
    conditional-sum agg on doc_id; features are exact integers (no
    float parity surface at all).  Dimension is a constant column
    count, so going to D=2^18 at scale means the array-typed variant
    of the same expressions.
    """
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("w")
    ).withColumn("h", F.md5("w"))
    sign = F.when(
        F.substring("h", 1, 1).isin(*"89abcdef"), F.lit(1)
    ).otherwise(F.lit(-1))
    return toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.substring("h", 32, 1) == c, sign).otherwise(0)
            ).alias(f"f{i}")
            for i, c in enumerate(_FH_HEX)
        ]
    )


_FH_COLS = ",\n       ".join(
    "CAST(SUM(CASE WHEN substr(h, 32, 1) = '{c}' THEN "
    "(CASE WHEN substr(h, 1, 1) IN "
    "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) "
    "ELSE 0 END) AS BIGINT) AS f{i}".format(c=c, i=i)
    for i, c in enumerate(_FH_HEX)
)

TEXT_FEATURE_HASH_SQL = f"""
SELECT doc_id,
       {_FH_COLS}
FROM (
  SELECT doc_id, md5(t.tok) AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents) t
)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Jensen–Shannon source-drift audit: JSD between each source's unigram
# distribution and the CORPUS distribution — the mixture-curation
# dashboard number ("which source drifted from the blend").
# Determinism: the only float-order hazard (the Σ over vocabulary of
# p·ln(p/m) terms) runs as a w-SORTED transform+fold (the chi2
# pattern), and the out-of-source-vocabulary remainder collapses to
# the CLOSED FORM ½·ln2·(1 − coverage) — coverage is an exact integer
# ratio — so no full-vocab scan per source and no unordered float sum
# anywhere.  ln parity is the established keyness/logprob precedent.

_LN2 = repr(math.log(2.0))


def text_js_divergence_sources(spark, sf_dir):
    """(source, n_terms, n_tokens, coverage, jsd_nats, jsd_bits) —
    JSD(P_source ‖ P_corpus) per source.  For w in the source's
    vocabulary the term is p·ln(p/m) + q·ln(q/m) with m = (p+q)/2;
    for the (possibly enormous) rest of the corpus vocabulary P = 0
    exactly, so those terms sum to ln2·Σq = ln2·(1 − coverage) —
    computed from one exact integer sum, never enumerated.  Scale:
    token aggregates are map-combinable; the fold runs over
    |source vocabulary| entries inside one row per source."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tokens_col(F.col("text"))).alias("w")
    )
    st = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    tw = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cw"))
    n_all = toks.agg(F.count(F.lit(1)).cast("long").alias("n"))
    j = st.join(tw, "w").crossJoin(F.broadcast(n_all))
    packed = j.groupBy("source").agg(
        F.array_sort(F.collect_list(F.struct("w", "a", "cw"))).alias("arr"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("a").cast("long").alias("ns"),
        F.sum("cw").cast("long").alias("cov_num"),
        F.first("n").alias("n"),
    )
    ns_d = F.col("ns").cast("double")
    n_d = F.col("n").cast("double")
    terms = F.transform(
        F.col("arr"),
        lambda s: (
            (s["a"].cast("double") / ns_d)
            * F.log(
                (s["a"].cast("double") / ns_d)
                / (
                    (
                        s["a"].cast("double") / ns_d
                        + s["cw"].cast("double") / n_d
                    )
                    / 2.0
                )
            )
            + (s["cw"].cast("double") / n_d)
            * F.log(
                (s["cw"].cast("double") / n_d)
                / (
                    (
                        s["a"].cast("double") / ns_d
                        + s["cw"].cast("double") / n_d
                    )
                    / 2.0
                )
            )
        ),
    )
    fold = F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
    cov = F.col("cov_num").cast("double") / n_d
    jsd = 0.5 * fold + 0.5 * F.lit(float(_LN2)) * (1.0 - cov)
    return packed.select(
        "source",
        "n_terms",
        F.col("ns").alias("n_tokens"),
        F.round(cov, 9).alias("coverage"),
        F.round(jsd, 6).alias("jsd_nats"),
        F.round(jsd / F.lit(float(_LN2)), 6).alias("jsd_bits"),
    )


TEXT_JSD_SQL = f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
st AS (SELECT source, w, CAST(count(*) AS BIGINT) AS a
       FROM toks GROUP BY 1, 2),
tw AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM toks GROUP BY 1),
n_all AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
j AS (
  SELECT st.source, st.w, st.a, tw.cw, n_all.n
  FROM st JOIN tw ON tw.w = st.w, n_all
),
packed AS (
  SELECT source,
         list(struct_pack(w := w, a := a, cw := cw) ORDER BY w) AS arr,
         CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(a) AS BIGINT) AS ns,
         CAST(sum(cw) AS BIGINT) AS cov_num,
         any_value(n) AS n
  FROM j GROUP BY source
),
folded AS (
  SELECT source, n_terms, ns, cov_num, n,
         list_reduce(list_prepend(0.0, list_transform(arr,
           s -> (CAST(s.a AS DOUBLE) / CAST(ns AS DOUBLE))
                * ln((CAST(s.a AS DOUBLE) / CAST(ns AS DOUBLE))
                     / ((CAST(s.a AS DOUBLE) / CAST(ns AS DOUBLE)
                         + CAST(s.cw AS DOUBLE) / CAST(n AS DOUBLE))
                        / 2.0))
                + (CAST(s.cw AS DOUBLE) / CAST(n AS DOUBLE))
                  * ln((CAST(s.cw AS DOUBLE) / CAST(n AS DOUBLE))
                       / ((CAST(s.a AS DOUBLE) / CAST(ns AS DOUBLE)
                           + CAST(s.cw AS DOUBLE) / CAST(n AS DOUBLE))
                          / 2.0)))),
           (acc, x) -> acc + x) AS fold
  FROM packed
)
SELECT source, n_terms, ns AS n_tokens,
       round(CAST(cov_num AS DOUBLE) / CAST(n AS DOUBLE), 9) AS coverage,
       round(0.5 * fold
             + 0.5 * {_LN2}
               * (1.0 - CAST(cov_num AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         AS jsd_nats,
       round((0.5 * fold
              + 0.5 * {_LN2}
                * (1.0 - CAST(cov_num AS DOUBLE) / CAST(n AS DOUBLE)))
             / {_LN2}, 6) AS jsd_bits
FROM folded
"""


QUERIES: dict[str, Q] = {
    "text_char_entropy": Q(text_char_entropy, TEXT_CHAR_ENTROPY_SQL),
    "text_feature_hashing": Q(text_feature_hashing, TEXT_FEATURE_HASH_SQL),
    "text_zipf_fit": Q(text_zipf_fit, TEXT_ZIPF_SQL),
    "text_js_divergence_sources": Q(
        text_js_divergence_sources,
        TEXT_JSD_SQL,
        "Jensen-Shannon drift of each source vs the corpus mixture",
    ),
    "text_keyness_by_source": Q(text_keyness_by_source, TEXT_KEYNESS_SQL),
    "text_bigram_logprob": Q(text_bigram_logprob, TEXT_BIGRAM_LM_SQL),
    "dedup_ngram_containment": Q(
        dedup_ngram_containment, DEDUP_CONTAINMENT_SQL
    ),
    "text_emotion_scores": Q(text_emotion_scores, TEXT_EMOTION_SQL),
    "unpivot_emotion_scores": Q(unpivot_emotion_scores, UNPIVOT_EMOTION_SQL),
    "dedup_minhash_clusters": Q(dedup_minhash_clusters, DEDUP_CLUSTERS_SQL),
    "text_vocab_df": Q(text_vocab_df, TEXT_VOCAB_SQL),
    "sample_hash_deterministic": Q(sample_hash_deterministic, SAMPLE_HASH_SQL),
    "text_redact_patterns": Q(text_redact_patterns, TEXT_REDACT_SQL),
    "decontaminate_ngram_overlap": Q(decontaminate_ngram_overlap, DECONTAM_SQL),
    "pipeline_filter_funnel": Q(pipeline_filter_funnel, FUNNEL_SQL),
    "text_pack_buckets": Q(text_pack_buckets, TEXT_PACK_SQL),
    "text_pii_redact": Q(text_pii_redact, TEXT_PII_SQL),
    "sample_source_mixture": Q(sample_source_mixture, SOURCE_MIXTURE_SQL),
    "sample_mixture_weights": Q(sample_mixture_weights, SAMPLE_MIX_SQL),
    "text_token_stats": Q(text_token_stats, TEXT_TOKEN_SQL),
    "text_top2_emotions": Q(text_top2_emotions, TEXT_TOP2_SQL),
    "text_quality_scores": Q(text_quality_scores, TEXT_QUALITY_SQL),
    "text_quality_classifier": Q(
        text_quality_classifier, TEXT_QUALITY_CLF_SQL
    ),
    "text_emotion_by_source": Q(text_emotion_by_source, TEXT_EMO_SOURCE_SQL),
    "text_filter_topk": Q(text_filter_topk, TEXT_FILTER_TOPK_SQL),
    "dedup_exact_stats": Q(dedup_exact_stats, DEDUP_EXACT_SQL),
    "dedup_dup_factor_profile": Q(
        dedup_dup_factor_profile,
        DUP_FACTOR_SQL,
        "histogram of exact-duplicate group sizes — the dup-factor"
        " statistic that prices the r13 collapse strategy",
    ),
    "dedup_minhash_signatures": Q(dedup_minhash_signatures, DEDUP_MINHASH_SQL),
    "dedup_minhash_lsh_candidates": Q(
        dedup_minhash_lsh_candidates, DEDUP_LSH_SQL
    ),
    "graph_triangle_count": Q(graph_triangle_count, GRAPH_TRIANGLES_SQL),
    "graph_kcore_peel": Q(graph_kcore_peel, GRAPH_KCORE_SQL),
    "dedup_lsh_recall_audit": Q(dedup_lsh_recall_audit, DEDUP_LSH_RECALL_SQL),
    "dedup_lsh_banding_frontier": Q(
        dedup_lsh_banding_frontier, BANDING_FRONTIER_SQL
    ),
    "dedup_threshold_frontier": Q(
        dedup_threshold_frontier, THRESHOLD_FRONTIER_SQL
    ),
    "text_quality_threshold_frontier": Q(
        text_quality_threshold_frontier, QUALITY_FRONTIER_SQL
    ),
    "dedup_ngram_jaccard": Q(dedup_ngram_jaccard, DEDUP_JACCARD_SQL),
    "dedup_jaccard_prefix_join": Q(
        dedup_jaccard_prefix_join, DEDUP_JACCARD_PREFIX_SQL
    ),
    "dedup_simhash": Q(dedup_simhash, DEDUP_SIMHASH_SQL),
    "text_repetition_signals": Q(
        text_repetition_signals, TEXT_REPETITION_SQL
    ),
    "text_unigram_logprob": Q(text_unigram_logprob, TEXT_UNIGRAM_SQL),
    "dedup_incremental_batch": Q(
        dedup_incremental_batch, DEDUP_INCREMENTAL_SQL
    ),
    "dedup_incremental_prefilter": Q(
        dedup_incremental_prefilter, DEDUP_INCREMENTAL_SQL
    ),
    "dedup_incremental_bloom": Q(
        dedup_incremental_bloom, DEDUP_INCREMENTAL_SQL
    ),
    "dedup_incremental_bloom_sharded": Q(
        dedup_incremental_bloom_sharded, DEDUP_INCREMENTAL_SQL
    ),
    "text_remove_boilerplate": Q(
        text_remove_boilerplate, TEXT_REMOVE_BOILERPLATE_SQL
    ),
    "split_leakage_safe": Q(split_leakage_safe, SPLIT_LEAKAGE_SAFE_SQL),
    "text_gopher_rules": Q(text_gopher_rules, TEXT_GOPHER_SQL),
    "text_winnowing_fingerprints": Q(
        text_winnowing_fingerprints, TEXT_WINNOWING_SQL
    ),
    "dedup_span_profile": Q(dedup_span_profile, SPAN_PROFILE_SQL),
    "dedup_remove_duplicate_spans": Q(
        dedup_remove_duplicate_spans, REMOVE_DUP_SPANS_SQL
    ),
    "text_shard_index": Q(text_shard_index, SHARD_INDEX_SQL),
    "text_tfidf_cosine_pairs": Q(text_tfidf_cosine_pairs, TFIDF_COSINE_SQL),
    "sample_stratified_topk": Q(
        sample_stratified_topk, SAMPLE_STRATIFIED_SQL
    ),
    "dedup_incremental_lsh": Q(dedup_incremental_lsh, DEDUP_INCR_LSH_SQL),
    "text_chunk_overlap": Q(text_chunk_overlap, TEXT_CHUNK_SQL),
    "text_quantile_filter": Q(text_quantile_filter, TEXT_QUANTILE_SQL),
    "text_quantile_filter_approx": Q(
        text_quantile_filter_approx, TEXT_QUANTILE_APPROX_AUDIT_SQL
    ),
    "text_tfidf_topterms": Q(text_tfidf_topterms, TEXT_TFIDF_SQL),
    "text_pmi_collocations": Q(text_pmi_collocations, TEXT_PMI_SQL),
    "text_quality_normalized": Q(text_quality_normalized, TEXT_QNORM_SQL),
    "text_pack_materialize": Q(text_pack_materialize, TEXT_PACK_MAT_SQL),
    "dedup_minhash_estimate_audit": Q(
        dedup_minhash_estimate_audit, MINHASH_AUDIT_SQL
    ),
    "dedup_cluster_representatives": Q(
        dedup_cluster_representatives, CLUSTER_REPS_SQL
    ),
    "dedup_simhash_pairs": Q(dedup_simhash_pairs, SIMHASH_PAIRS_SQL),
    "dedup_simhash64_pairs": Q(dedup_simhash64_pairs, SIMHASH64_PAIRS_SQL),
}
