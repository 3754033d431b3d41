"""Corpus retrieval queries: Okapi BM25 over a distributed inverted
index.

The retrieval primitive every RAG / training-data pipeline ends up
needing: score documents against keyword queries without ever
materializing a dense |docs| × |terms| matrix.  The layout is the same
posting-list shape as the set-similarity joins in
``operators/dedup.py`` — explode tokens, filter to the (tiny) query
vocabulary BEFORE any shuffle, aggregate per (doc, term) — so the
shuffled data is proportional to query-term postings, not the corpus.
At 100 TB the corpus scan is the only full pass; everything after the
early term filter is a few thousand rows per query term.

Float parity with the DuckDB oracle follows the TFIDF pattern
(``textq.py``): each per-term BM25 contribution is computed with an
op-for-op identical double expression in both engines, rounded to 6
decimals, cast to DECIMAL(18,6), and summed EXACTLY — the per-doc score
is therefore order-insensitive and bitwise identical, so ORDER BY
(score, doc_id) tiebreaks identically too.

Reference parity note: the reference engine (Scraper.py) has no
retrieval surface at all — this family is part of the §2.10
training-data-pipeline extension mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rick_and_morty_data_pipeline_project_spark.functions.textfns import tokens_col
from rick_and_morty_data_pipeline_project_spark.functions.vectors import dot_sql
from rick_and_morty_data_pipeline_project_spark.operators.localrel import (
    local_relation,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import Q, t

# Okapi BM25 constants (the standard Robertson defaults), written as the
# PRE-FOLDED literals (k1+1 = 2.2, 1−b = 0.25) so the Spark expression
# tree and the oracle SQL run the exact same float ops in the same
# order — see the module docstring.
_K1 = 1.2          # term-frequency saturation
_K1_PLUS_1 = 2.2
_B = 0.75          # length normalization strength
_ONE_MINUS_B = 0.25

# The fixed single-query term set (disjunctive keyword query).  Terms
# chosen from the synthetic corpus vocabulary with distinct document
# frequencies so scores separate on idf as well as tf/length.
BM25_TERMS = ("spark", "vector", "merge")
BM25_TOPK = 20

# The batched multi-query workload: (query_id, term) pairs.  This is
# the realistic serving shape — N queries scored in ONE corpus pass,
# per-query top-k via a rank window (WindowGroupLimit), instead of N
# sequential scans.
BM25_QUERIES: tuple[tuple[int, tuple[str, ...]], ...] = (
    (1, ("spark", "vector", "merge")),
    (2, ("hash", "join")),
    (3, ("window", "stream", "sort", "batch")),
)
BM25_PER_QUERY_K = 10

_ALL_QUERY_TERMS = tuple(
    sorted({term for _, terms in BM25_QUERIES for term in terms})
)


def _term_postings(docs, id_col: str, text_col: str, terms: tuple[str, ...]):
    """(id, term, tf, dl) for query-vocabulary terms only.

    The term filter sits BETWEEN the explode and the first shuffle, so
    only query-term postings are ever exchanged — the 100 TB-critical
    property.  ``dl`` (the full document token length) is projected
    BEFORE the explode and carried through the aggregate (min() of a
    per-doc constant), which avoids a second corpus pass or a join
    back to a lengths relation."""
    toked = docs.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_tk")
    ).select(
        id_col,
        F.size("_tk").alias("dl"),
        F.explode("_tk").alias("term"),
    )
    hits = toked.filter(F.col("term").isin(*terms))
    return hits.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl")
    )


def _corpus_stats(docs, text_col: str):
    """One-row (n_docs, avgdl) relation; broadcast into the scoring
    join.  avgdl is derived as double(sum_dl)/n_docs — one float op,
    written identically in the oracle."""
    return (
        docs.select(F.size(tokens_col(F.col(text_col))).alias("dl"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("sum_dl"),
        )
        .select(
            "n_docs",
            (F.col("sum_dl").cast("double") / F.col("n_docs")).alias(
                "avgdl"
            ),
        )
    )


def bm25_scores(docs, id_col: str, text_col: str, terms: tuple[str, ...]):
    """Reusable BM25 core over ANY document DataFrame: (id, bm25) for
    every document matching ≥1 query term.  Single posting pass (df
    via count window over the postings, never a second corpus scan),
    narrow stats pass, exact-decimal contribution sum — the scores are
    order-insensitive and engine-portable.  Property-tested against a
    pure-Python reference in tests/test_property.py."""
    tf = _term_postings(docs, id_col, text_col, terms)
    stats = _corpus_stats(docs, text_col)
    w_term = Window.partitionBy("term")
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(w_term))
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(_bm25_contrib()).cast("double").alias("bm25"))
    )


def _bm25_contrib():
    """Per-(doc, term) BM25 contribution, rounded and decimal-cast for
    exact order-insensitive summation.  Expects columns tf, dl, df,
    n_docs, avgdl in scope.  Expression structure mirrors the oracle
    SQL token for token."""
    idf = F.log(
        F.lit(1)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tfc = (F.col("tf") * F.lit(_K1_PLUS_1)) / (
        F.col("tf")
        + F.lit(_K1)
        * (
            F.lit(_ONE_MINUS_B)
            + F.lit(_B) * (F.col("dl") / F.col("avgdl"))
        )
    )
    return F.round(idf * tfc, 6).cast("decimal(18,6)")


# --------------------------------------------------------------------------
def text_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-k retrieval for one fixed disjunctive keyword
    query (``BM25_TERMS``).

    Plan shape: one posting pass (tokenize/explode → EARLY term filter,
    so only query-term postings shuffle → per-(doc, term) tf agg), df
    as a COUNT WINDOW over that same postings relation (partition by
    term — a separate ``dfreq`` aggregate would re-run the posting
    pipeline and re-scan the corpus for its branch: measured 3 parquet
    scans vs 2), one narrow stats scan (no explode), broadcast 1-row
    stats in, per-doc exact-decimal sum, and the global top-k as a
    single ``TakeOrderedAndProject`` (no full sort is ever
    materialized).  Everything after the term filter is O(matching
    postings)."""
    scored = bm25_scores(
        t(spark, sf_dir, "documents"), "doc_id", "text", BM25_TERMS
    )
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(BM25_TOPK)


# The single-query BM25 scoring pipeline as reusable CTE clauses
# (no final ORDER/LIMIT): every downstream oracle that needs "the
# scored relation" — top-k, snippets, RRF fusion, two-stage rerank,
# PRF feedback — composes this ONE definition instead of string-
# patching the finished query.
BM25_SCORED_CTES = f"""toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
  FROM toks
  WHERE term IN {BM25_TERMS!r}
  GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
stats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*)
           AS avgdl
  FROM documents
),
scored AS (
  SELECT doc_id,
         CAST(sum(CAST(round(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * {_K1_PLUS_1}) / (tf + {_K1} * ({_ONE_MINUS_B} + {_B} * (dl / avgdl)))
         , 6) AS DECIMAL(18,6))) AS DOUBLE) AS bm25
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
  GROUP BY 1
)"""

BM25_TOPK_SQL = f"""
WITH {BM25_SCORED_CTES}
SELECT doc_id, bm25 FROM scored
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOPK}
"""


# --------------------------------------------------------------------------
def text_bm25_multiquery(spark, sf_dir):
    """Batched BM25: all ``BM25_QUERIES`` scored in ONE corpus pass,
    per-query top-``BM25_PER_QUERY_K`` via a rank window.

    The union of all query vocabularies drives the single early term
    filter; the (query_id, term) mapping is a literal in-memory
    relation broadcast into the postings (queries are always the tiny
    side).  df is per TERM over the whole corpus — shared between
    queries that reuse a term — and computed as a count window over
    the already-filtered postings (same single-posting-pass rationale
    as ``text_bm25_topk``), not a second scan.  The per-query rank is
    ``row_number`` over (bm25 DESC, doc_id), executed as
    WindowGroupLimit: each shuffle partition keeps only its local
    top-k before the final per-query merge."""
    d = t(spark, sf_dir, "documents")
    tf = _term_postings(d, "doc_id", "text", _ALL_QUERY_TERMS)
    qterms = local_relation(
        spark,
        [(qid, term) for qid, terms in BM25_QUERIES for term in terms],
        "query_id int, term string",
    )
    stats = _corpus_stats(d, "text")
    w_term = Window.partitionBy("term")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(w_term))
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(_bm25_contrib()).cast("double").alias("bm25"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_PER_QUERY_K)
        .select("query_id", "rank", "doc_id", "bm25")
    )


_QTERM_VALUES = ", ".join(
    f"({qid}, '{term}')" for qid, terms in BM25_QUERIES for term in terms
)

BM25_MULTIQUERY_SQL = f"""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
  FROM toks
  WHERE term IN {_ALL_QUERY_TERMS!r}
  GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
qterms(query_id, term) AS (VALUES {_QTERM_VALUES}),
stats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*)
           AS avgdl
  FROM documents
),
scored AS (
  SELECT query_id, doc_id,
         CAST(sum(CAST(round(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * {_K1_PLUS_1}) / (tf + {_K1} * ({_ONE_MINUS_B} + {_B} * (dl / avgdl)))
         , 6) AS DECIMAL(18,6))) AS DOUBLE) AS bm25
  FROM tf
  JOIN qterms USING (term)
  JOIN dfreq USING (term)
  CROSS JOIN stats
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, bm25,
         row_number() OVER (
           PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, bm25
FROM ranked WHERE rank <= {BM25_PER_QUERY_K}
"""


# --------------------------------------------------------------------------
# Exact phrase search (positional matching).  Every phrase is evaluated
# against the SAME materialized token array in one narrow pass — no
# explode, no shuffle, no per-phrase rescan.  At 100 TB this is the
# shape that matters: phrase matching is embarrassingly parallel over
# documents, so the only cost is the corpus scan the query already
# pays; an exchange anywhere in this plan would be a bug (pinned in
# tests/test_plans.py).
_PHRASES: tuple[tuple[str, ...], ...] = (
    ("hash", "join"),
    ("fast", "sort"),
    ("key", "scan"),
)


def _phrase_hits(tk, n, phrase: tuple[str, ...]):
    """Occurrence count of ``phrase`` (consecutive tokens) in token
    array ``tk`` of length ``n``.  Guarded with when(n >= L): Spark's
    ``sequence(1, 0)`` steps DOWNWARD to [1, 0] rather than producing
    an empty array, so short docs must short-circuit to 0 (DuckDB's
    generate_series is empty there — the oracle has the same guard for
    structure parity)."""
    L = len(phrase)

    def at(p, i, term):
        return F.element_at(tk, (p + F.lit(i)).cast("int")) == F.lit(term)

    def match(p):
        cond = at(p, 0, phrase[0])
        for i, term in enumerate(phrase[1:], start=1):
            cond = cond & at(p, i, term)
        return cond

    starts = F.sequence(F.lit(1), (n - F.lit(L - 1)).cast("int"))
    return F.when(
        n >= L, F.size(F.filter(starts, match))
    ).otherwise(F.lit(0))


def text_phrase_search(spark, sf_dir):
    """Exact multi-phrase search: for each phrase in ``_PHRASES``,
    every document containing it with its occurrence count.

    The token array is materialized ONCE as a projection alias and
    referenced by all phrases (the winnowing lesson: arrays referenced
    inside lambdas inline per reference — staging it keeps the regexp
    split to one evaluation).  The wide→long pivot is a ``stack``
    Generate, still narrow.  Zero exchanges end to end."""
    d = t(spark, sf_dir, "documents")
    staged = d.select("doc_id", tokens_col(F.col("text")).alias("_tk"))
    n = F.size(F.col("_tk"))
    hits = staged.select(
        "doc_id",
        *[
            _phrase_hits(F.col("_tk"), n, ph).alias(f"_h{i}")
            for i, ph in enumerate(_PHRASES)
        ],
    )
    stack_args = ", ".join(
        f"'{' '.join(ph)}', _h{i}" for i, ph in enumerate(_PHRASES)
    )
    return hits.selectExpr(
        "doc_id",
        f"stack({len(_PHRASES)}, {stack_args}) AS (phrase, n_hits)",
    ).filter(F.col("n_hits") > 0).select("phrase", "doc_id", "n_hits")


def _phrase_hits_sql(phrase: tuple[str, ...]) -> str:
    L = len(phrase)
    cond = " AND ".join(
        f"tk[p+{i}] = '{term}'" for i, term in enumerate(phrase)
    )
    return (
        f"CASE WHEN len(tk) >= {L} THEN len(list_filter("
        f"generate_series(1, len(tk)-{L - 1}), p -> {cond})) ELSE 0 END"
    )


_PHRASE_ARMS = "\n  UNION ALL ".join(
    f"SELECT doc_id, '{' '.join(ph)}' AS phrase, _h{i} AS n_hits FROM hits"
    for i, ph in enumerate(_PHRASES)
)

_PHRASE_HIT_COLS = ",\n         ".join(
    f"{_phrase_hits_sql(ph)} AS _h{i}" for i, ph in enumerate(_PHRASES)
)

PHRASE_SEARCH_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
hits AS (
  SELECT doc_id,
         {_PHRASE_HIT_COLS}
  FROM toks
),
long AS (
  {_PHRASE_ARMS}
)
SELECT phrase, doc_id, n_hits FROM long WHERE n_hits > 0
"""


# --------------------------------------------------------------------------
_SNIPPET_RADIUS = 4


def text_bm25_snippets(spark, sf_dir):
    """Serving-side snippet extraction for the BM25 top-k: each hit
    document with a ±``_SNIPPET_RADIUS``-token window around the FIRST
    occurrence of any query term — the retrieve → rank → snippet tail
    of a search/RAG pipeline.

    The 20-row top-k relation broadcasts back onto the corpus scan
    (never the other way), and the snippet itself is pure narrow array
    work on the staged token array: first-match position via a filtered
    index sequence, then one slice — no explode, no extra shuffle.  A
    top-k document always contains ≥1 query term (idf of the +1-form is
    strictly positive), so the position list is never empty."""
    topk = text_bm25_topk(spark, sf_dir)
    d = t(spark, sf_dir, "documents")
    staged = d.join(F.broadcast(topk), "doc_id").select(
        "doc_id", "bm25", tokens_col(F.col("text")).alias("_tk")
    )
    tk = F.col("_tk")
    n = F.size(tk)
    positions = F.filter(
        F.sequence(F.lit(1), n),
        lambda p: F.element_at(tk, p.cast("int")).isin(*BM25_TERMS),
    )
    first = F.element_at(positions, 1)
    start = F.greatest(first - _SNIPPET_RADIUS, F.lit(1))
    end = F.least(first + _SNIPPET_RADIUS, n)
    return staged.select(
        "doc_id",
        "bm25",
        F.concat_ws(
            " ", F.slice(tk, start, end - start + F.lit(1))
        ).alias("snippet"),
    )


BM25_SNIPPETS_SQL = f"""
WITH {BM25_SCORED_CTES},
topk AS (
  SELECT doc_id, bm25 FROM scored
  ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOPK}
),
staged AS (
  SELECT d.doc_id, topk.bm25, string_split(d.text, ' ') AS tk
  FROM documents d JOIN topk ON d.doc_id = topk.doc_id
),
pos AS (
  SELECT doc_id, bm25, tk,
         list_filter(generate_series(1, len(tk)),
                     p -> list_contains({list(BM25_TERMS)!r}, tk[p]))[1]
           AS first
  FROM staged
)
SELECT doc_id, bm25,
       array_to_string(
         list_slice(tk, greatest(first - {_SNIPPET_RADIUS}, 1),
                        least(first + {_SNIPPET_RADIUS}, len(tk))), ' ')
         AS snippet
FROM pos
"""


# --------------------------------------------------------------------------
# Hybrid retrieval: the lexical (BM25) and dense (embedding-cosine)
# channels fused.  The `embeddings` table is keyed by the same id space
# as `documents` (vec_id == doc_id), standing in for per-document
# encoder outputs; the dense query vector is the embedding of
# ``_HYBRID_QUERY_VEC_ID`` (a stand-in for the encoded free-text query).
_HYBRID_QUERY_VEC_ID = 0
_RRF_K0 = 60          # the standard RRF dampening constant
_DENSE_K = 20         # dense-channel shortlist (lexical uses BM25_TOPK)
_FUSED_K = 15

_NORMED_DOCVEC_CTE = """normed AS (
  SELECT vec_id AS doc_id,
         list_transform(embedding, x -> x::DOUBLE / sqrt(list_reduce(
           list_prepend(0.0, list_transform(list_zip(embedding, embedding),
             p -> p[1]::DOUBLE * p[2]::DOUBLE)), (acc, x) -> acc + x)))
           AS nv
  FROM embeddings
)"""


def _dense_channel(spark, sf_dir, k: int):
    """(doc_id, cosine, dense_rank) — exact cosine top-k of the corpus
    embeddings against the fixed query vector.  The 1-row normalized
    query broadcasts onto the (fanned-out) corpus scan; scoring is a
    narrow fold per row, and the top-k is a WindowGroupLimit — per-
    partition local top-k before one tiny merge.  No corpus shuffle."""
    from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
        fan_out,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        _normalized,
    )

    e = t(spark, sf_dir, "embeddings")
    q = _normalized(
        e.filter(F.col("vec_id") == _HYBRID_QUERY_VEC_ID),
        "vec_id", "embedding", "_qid", "_qv",
    ).select("_qv")
    c = _normalized(fan_out(e), "vec_id", "embedding", "doc_id", "_cv")
    from rick_and_morty_data_pipeline_project_spark.functions.vectors import dot_col

    scored = c.crossJoin(F.broadcast(q)).select(
        "doc_id",
        F.round(dot_col(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
    )
    w = Window.orderBy(F.col("cosine").desc(), F.col("doc_id"))
    return (
        scored.withColumn("dense_rank", F.row_number().over(w))
        .filter(F.col("dense_rank") <= k)
    )


_DENSE_CHANNEL_SQL = f"""{_NORMED_DOCVEC_CTE},
qv AS (SELECT nv AS qv FROM normed WHERE doc_id = {_HYBRID_QUERY_VEC_ID}),
dense_scored AS (
  SELECT c.doc_id, round({dot_sql("qv.qv", "c.nv")}, 6) AS cosine
  FROM normed c CROSS JOIN qv
),
dense AS (
  SELECT doc_id, cosine,
         row_number() OVER (ORDER BY cosine DESC, doc_id) AS dense_rank
  FROM dense_scored
  QUALIFY dense_rank <= {{k}}
)"""


def text_hybrid_rrf(spark, sf_dir):
    """Hybrid search via reciprocal-rank fusion: the BM25 top-20 and
    the dense cosine top-20 fused with
    ``rrf = Σ_channel 1/(60 + rank)``, top-``_FUSED_K`` overall.

    The two channels never touch each other's data until both are
    k-bounded: the fusion is a full-outer join of two ≤20-row
    relations, so its cost is O(k) REGARDLESS of corpus size — at
    100 TB the lexical side is the early-term-filtered posting pass and
    the dense side one narrow scan (or its IVF variant); the fusion
    stage is free.  Rank contributions 1/(60+r) are the same two double
    divisions and one addition in both engines, so ordering is exact;
    remaining ties (e.g. lex-rank-r-only vs dense-rank-r-only docs)
    break on doc_id."""
    lex_scored = bm25_scores(
        t(spark, sf_dir, "documents"), "doc_id", "text", BM25_TERMS
    )
    w_lex = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    lex = (
        lex_scored.withColumn("lex_rank", F.row_number().over(w_lex))
        .filter(F.col("lex_rank") <= BM25_TOPK)
        .select("doc_id", "lex_rank")
    )
    dense = _dense_channel(spark, sf_dir, _DENSE_K).select(
        "doc_id", "dense_rank"
    )
    k0 = F.lit(float(_RRF_K0))
    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "dense_rank",
        (
            F.coalesce(F.lit(1.0) / (k0 + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (k0 + F.col("dense_rank")), F.lit(0.0))
        ).alias("_rrf"),
    )
    return (
        fused.orderBy(F.col("_rrf").desc(), "doc_id")
        .limit(_FUSED_K)
        .select(
            "doc_id",
            "lex_rank",
            "dense_rank",
            F.round(F.col("_rrf"), 6).alias("rrf"),
        )
    )


HYBRID_RRF_SQL = f"""
WITH {BM25_SCORED_CTES},
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
  FROM scored
  QUALIFY lex_rank <= {BM25_TOPK}
),
{_DENSE_CHANNEL_SQL.format(k=_DENSE_K)},
fused AS (
  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id, l.lex_rank, d.dense_rank,
         coalesce(1.0 / ({_RRF_K0}.0 + l.lex_rank), 0.0)
         + coalesce(1.0 / ({_RRF_K0}.0 + d.dense_rank), 0.0) AS _rrf
  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
)
SELECT doc_id, lex_rank, dense_rank, round(_rrf, 6) AS rrf
FROM fused
ORDER BY _rrf DESC, doc_id
LIMIT {_FUSED_K}
"""


# --------------------------------------------------------------------------
_RERANK_CANDIDATES = 50
_RERANK_K = 10


def text_rerank_two_stage(spark, sf_dir):
    """Two-stage retrieval — the canonical RAG serving shape: cheap
    BM25 candidate generation (top-``_RERANK_CANDIDATES`` via the
    inverted-index posting pass) followed by exact embedding-cosine
    re-ranking of ONLY those candidates against the query vector.

    The scale property is stage separation: stage 2's vector math runs
    on |candidates| rows, never the corpus — the 50-row candidate list
    broadcasts into the embedding fetch (a broadcast semi-prune of the
    dense scan), each candidate vector is normalized AFTER the prune,
    and the final top-k is one TakeOrderedAndProject.  Growing the
    corpus 100× grows stage 1's posting pass; stage 2 stays O(k)."""
    from rick_and_morty_data_pipeline_project_spark.functions.vectors import (
        dot_col,
        norm2_col,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        _normalized,
    )

    cand = (
        bm25_scores(t(spark, sf_dir, "documents"), "doc_id", "text", BM25_TERMS)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_RERANK_CANDIDATES)
    )
    e = t(spark, sf_dir, "embeddings")
    q = _normalized(
        e.filter(F.col("vec_id") == _HYBRID_QUERY_VEC_ID),
        "vec_id", "embedding", "_qid", "_qv",
    ).select("_qv")
    fetched = e.join(
        F.broadcast(cand), e["vec_id"] == cand["doc_id"]
    ).select("doc_id", "bm25", "embedding")
    # bm25 is carried THROUGH the normalization staging (same two-step
    # shape as similarity._normalized) so the candidate subplan — the
    # whole BM25 posting pass — is evaluated exactly once
    staged = fetched.select(
        "doc_id", "bm25", norm2_col(F.col("embedding")).alias("_n"),
        "embedding",
    )
    cn = staged.select(
        "doc_id",
        "bm25",
        F.transform(
            "embedding", lambda x: x.cast("double") / F.col("_n")
        ).alias("_cv"),
    )
    scored = cn.crossJoin(F.broadcast(q)).select(
        "doc_id",
        "bm25",
        F.round(dot_col(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
    )
    w = Window.orderBy(F.col("cosine").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rerank", F.row_number().over(w))
        .filter(F.col("rerank") <= _RERANK_K)
    )


RERANK_TWO_STAGE_SQL = f"""
WITH {BM25_SCORED_CTES},
cand AS (
  SELECT doc_id, bm25 FROM scored
  ORDER BY bm25 DESC, doc_id LIMIT {_RERANK_CANDIDATES}
),
{_NORMED_DOCVEC_CTE},
qv AS (SELECT nv AS qv FROM normed WHERE doc_id = {_HYBRID_QUERY_VEC_ID}),
rescored AS (
  SELECT c.doc_id, c.bm25, round({dot_sql("qv.qv", "n.nv")}, 6) AS cosine
  FROM cand c JOIN normed n USING (doc_id) CROSS JOIN qv
)
SELECT doc_id, bm25, cosine,
       row_number() OVER (ORDER BY cosine DESC, doc_id) AS rerank
FROM rescored
QUALIFY rerank <= {_RERANK_K}
"""


# --------------------------------------------------------------------------
_FEEDBACK_K = 10
_EXPANSION_K = 15


def text_prf_expansion(spark, sf_dir):
    """Pseudo-relevance-feedback query expansion (RM1-style): take the
    BM25 top-``_FEEDBACK_K`` documents as the relevance model, count
    candidate terms inside that feedback set, weight each by corpus
    idf, and emit the top-``_EXPANSION_K`` expansion terms.

    Two cost regimes, cleanly separated: the feedback-side counts come
    from ``_FEEDBACK_K`` documents only (the 10-row id list broadcasts
    back onto the corpus scan — a broadcast semi-prune, then explode);
    the corpus df relation is the one vocabulary-bounded aggregate
    (``array_distinct`` before explode ⇒ map-side combinable, the same
    artifact ``text_vocab_df`` maintains standalone), and the tiny
    feedback-term relation broadcasts INTO it so only candidate terms'
    df rows survive the join.  Scores ``fb_tf · ln(n_docs/df)`` are one
    log, one divide, one multiply — written identically in the oracle,
    rounded to 6 before the final order."""
    d = t(spark, sf_dir, "documents")
    fb_ids = (
        bm25_scores(d, "doc_id", "text", BM25_TERMS)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_FEEDBACK_K)
        .select("doc_id")
    )
    fb_terms = (
        d.join(F.broadcast(fb_ids), "doc_id")
        .select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
        .filter(~F.col("term").isin(*BM25_TERMS))
        .groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("fb_docs"),
            F.count(F.lit(1)).alias("fb_tf"),
        )
    )
    dfreq = (
        d.select(
            F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        dfreq.join(F.broadcast(fb_terms), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "fb_docs",
            "fb_tf",
            "df",
            F.round(
                F.col("fb_tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), "term").limit(_EXPANSION_K)


PRF_EXPANSION_SQL = f"""
WITH {BM25_SCORED_CTES},
fb AS (
  SELECT doc_id FROM scored ORDER BY bm25 DESC, doc_id
  LIMIT {_FEEDBACK_K}
),
fb_terms AS (
  SELECT term, count(DISTINCT doc_id) AS fb_docs, count(*) AS fb_tf
  FROM (
    SELECT d.doc_id, unnest(string_split(d.text, ' ')) AS term
    FROM documents d JOIN fb USING (doc_id)
  )
  WHERE term NOT IN {BM25_TERMS!r}
  GROUP BY 1
),
corpus_df AS (
  SELECT term, count(*) AS df
  FROM (
    SELECT unnest(list_distinct(string_split(text, ' '))) AS term
    FROM documents
  )
  GROUP BY 1
),
nd AS (SELECT count(*) AS n_docs FROM documents)
SELECT term, fb_docs, fb_tf, df,
       round(fb_tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
FROM corpus_df JOIN fb_terms USING (term) CROSS JOIN nd
ORDER BY score DESC, term
LIMIT {_EXPANSION_K}
"""


QUERIES: dict[str, Q] = {
    "text_bm25_topk": Q(text_bm25_topk, BM25_TOPK_SQL),
    "text_bm25_multiquery": Q(text_bm25_multiquery, BM25_MULTIQUERY_SQL),
    "text_bm25_snippets": Q(text_bm25_snippets, BM25_SNIPPETS_SQL),
    "text_phrase_search": Q(text_phrase_search, PHRASE_SEARCH_SQL),
    "text_hybrid_rrf": Q(text_hybrid_rrf, HYBRID_RRF_SQL),
    "text_rerank_two_stage": Q(text_rerank_two_stage, RERANK_TWO_STAGE_SQL),
    "text_prf_expansion": Q(text_prf_expansion, PRF_EXPANSION_SQL),
}
