"""Vector-compression query family: binary-quantized kNN, multi-probe
LSH, and sparse Johnson–Lindenstrauss projection.

All three are fully hash-verified against DuckDB: the sign bits /
bucket strings / projection matrix are frozen deterministic constants
inlined as literals on BOTH sides, integer stages (word packing,
Hamming) are exact by construction, and every float stage reuses the
engine-wide normalize-then-left-fold dot the rest of the oracle suite
already proves bit-equal (queries/vecq.py).
"""

from __future__ import annotations

import math
from functools import partial

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rick_and_morty_data_pipeline_project_spark.functions.vectors import (
    cosine_sql,
    dot_sql,
)
from rick_and_morty_data_pipeline_project_spark.operators.binquant import (
    WORD_BITS,
    knn_binary,
    knn_lsh_multiprobe,
)
from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
    concurrently,
    fan_out,
    materialize,
)
from rick_and_morty_data_pipeline_project_spark.operators.randproj import (
    jl_matrix,
    jl_scale,
)
from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
    _hyperplanes,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import Q, t

_DIM = 64
_K = 5
_SHORTLIST = 50
_MP_PLANES = 6  # multi-probe table: same planes as table 0 of knn_cosine_lsh
_JL_OUT = 16
_JL_SEED = 7


def knn_cosine_binary(spark, sf_dir):
    """1-bit binary-quantization ANN: Hamming shortlist over packed
    sign words (two BIGINTs per 64-dim vector — 32× smaller than
    float32), exact cosine rerank on the 50-row shortlist only.  The
    candidate stage is xor+popcount in whole-stage codegen; floats are
    touched for |queries|·50 pairs, never |queries|·|corpus|."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return knn_binary(
        queries, e, dim=_DIM, k=_K, shortlist=_SHORTLIST
    )


def _word_sql(vec: str, lo: int, n: int) -> str:
    """BIGINT sign-word over ``vec[lo..lo+n-1]`` (1-based inclusive
    slice), bit i weighted 2^i — mirrors binquant.sign_word_cols."""
    weights = ", ".join(f"CAST({1 << i} AS BIGINT)" for i in range(n))
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(list_zip({vec}[{lo}:{lo + n - 1}], [{weights}]), "
        f"p -> CASE WHEN p[1] >= 0 THEN p[2] ELSE CAST(0 AS BIGINT) END)), "
        f"(acc, x) -> acc + x)"
    )


_N_WORDS = (_DIM + WORD_BITS - 1) // WORD_BITS
_WORD_EXPRS = ",\n         ".join(
    f"{_word_sql('embedding', w * WORD_BITS + 1, min(WORD_BITS, _DIM - w * WORD_BITS))} AS w{w}"
    for w in range(_N_WORDS)
)
_HAMMING_SQL = " + ".join(
    f"CAST(bit_count(xor(q.w{w}, c.w{w})) AS INT)" for w in range(_N_WORDS)
)

_DOT_SELF = dot_sql("embedding", "embedding")

KNN_BINARY_SQL = f"""
WITH words AS (
  SELECT vec_id,
         {_WORD_EXPRS}
  FROM embeddings
),
ham AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ({_HAMMING_SQL}) AS hamming
  FROM words q, words c
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
),
short AS (
  SELECT query_id, neighbor_id, hamming,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY hamming ASC, neighbor_id ASC) AS r
  FROM ham
),
normed AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE / sqrt({_DOT_SELF})) AS nv
  FROM embeddings
),
rer AS (
  SELECT s.query_id, s.neighbor_id, s.hamming,
         round({dot_sql("nq.nv", "nc.nv")}, 6) AS cosine
  FROM short s
  JOIN normed nq ON nq.vec_id = s.query_id
  JOIN normed nc ON nc.vec_id = s.neighbor_id
  WHERE s.r <= {_SHORTLIST}
),
ranked AS (
  SELECT query_id, neighbor_id, hamming, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM rer
)
SELECT query_id, neighbor_id, hamming, cosine, rank
FROM ranked WHERE rank <= {_K}
"""


# ---------------------------------------------------------------------------
# IVF × binary: the composed 10⁹-vector recipe — coarse cells bound
# WHICH vectors are touched, sign words bound WHAT is read per touched
# vector.  Same deterministic head-id coarse quantizer as
# knn_cosine_ivf, so every stage replays in SQL.
_IVFB_SHORTLIST = 30
# word-column projection generated from _N_WORDS so a _DIM retune
# cannot desynchronize the cells/probes CTEs from _WORD_EXPRS /
# _HAMMING_SQL (which are already generated)
_W_COLS = ", ".join(f"w.w{i}" for i in range(_N_WORDS))


def knn_cosine_ivf_binary(spark, sf_dir):
    """IVF (8 head-id cells, 2-probe) with an in-cell binary Hamming
    shortlist and exact cosine rerank — candidates bounded by the cell
    join, bytes-per-candidate bounded by the 1-bit code, floats only
    on the 30-row shortlist."""
    from rick_and_morty_data_pipeline_project_spark.operators.binquant import (
        knn_ivf_binary,
    )

    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return knn_ivf_binary(
        queries, e, dim=_DIM, k=_K, n_cells=8, n_probe=2,
        shortlist=_IVFB_SHORTLIST,
    )


KNN_IVF_BINARY_SQL = f"""
WITH normed AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE / sqrt({_DOT_SELF})) AS nv
  FROM embeddings
),
words AS (
  SELECT vec_id,
         {_WORD_EXPRS}
  FROM embeddings
),
assign AS (
  SELECT e.vec_id, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {dot_sql("e.nv", "c.cent")} DESC, c.cell_id ASC
         ) AS r
  FROM normed e, (SELECT vec_id AS cell_id, nv AS cent
                  FROM normed ORDER BY vec_id LIMIT 8) c
),
cells AS (
  SELECT a.vec_id AS neighbor_id, a.cell_id, {_W_COLS}
  FROM assign a JOIN words w ON w.vec_id = a.vec_id
  WHERE a.r = 1
),
probes AS (
  SELECT a.vec_id AS query_id, a.cell_id, {_W_COLS}
  FROM assign a JOIN words w ON w.vec_id = a.vec_id
  WHERE a.r <= 2 AND a.vec_id < 10
),
ham AS (
  SELECT q.query_id, c.neighbor_id,
         ({_HAMMING_SQL}) AS hamming
  FROM probes q JOIN cells c ON q.cell_id = c.cell_id
  WHERE q.query_id <> c.neighbor_id
),
short AS (
  SELECT query_id, neighbor_id, hamming,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY hamming ASC, neighbor_id ASC) AS r
  FROM ham
),
rer AS (
  SELECT s.query_id, s.neighbor_id, s.hamming,
         round({dot_sql("nq.nv", "nc.nv")}, 6) AS cosine
  FROM short s
  JOIN normed nq ON nq.vec_id = s.query_id
  JOIN normed nc ON nc.vec_id = s.neighbor_id
  WHERE s.r <= {_IVFB_SHORTLIST}
),
ranked AS (
  SELECT query_id, neighbor_id, hamming, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM rer
)
SELECT query_id, neighbor_id, hamming, cosine, rank
FROM ranked WHERE rank <= {_K}
"""


# ---------------------------------------------------------------------------
# SQ8 — the 8-bit scalar-quantization tier (FAISS ScalarQuantizer
# QT_8bit shape): per-dimension min/max train stats over the
# unit-normalized corpus, one byte per dimension (4× smaller than
# float32), asymmetric ADC search (raw query × decoded codes) with an
# exact rerank of the shortlist.  Completes the quantization ladder:
# 1-bit binquant / 8-byte PQ / 64-byte SQ8 / full float.
_SQ_SHORTLIST = 50


def knn_cosine_sq8(spark, sf_dir):
    """SQ8 scalar-quantized ANN: per-dimension byte codes (64 bytes
    per 64-dim vector), ADC shortlist (raw unit query × affinely
    decoded codes), exact cosine rerank on the 50-row shortlist only.
    Train stats are ONE broadcast 2×dim row — zero corpus shuffle on
    the encode path."""
    from rick_and_morty_data_pipeline_project_spark.operators.sq import knn_sq8

    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return knn_sq8(queries, e, dim=_DIM, k=_K, shortlist=_SQ_SHORTLIST)


_SQ_MINS = ", ".join(f"min(nv[{d + 1}])" for d in range(_DIM))
_SQ_MAXS = ", ".join(f"max(nv[{d + 1}])" for d in range(_DIM))

# encode: clamp(floor((x-min)/(max-min)*255 + 0.5), 0, 255), degenerate
# dim → 0; decode: min + code*(max-min)/255.0 — textually the same
# IEEE expression sequence operators/sq.py evaluates, so ADC scores
# are bit-equal before the rank.
_SQ_CODE_LAMBDA = (
    "p -> CASE WHEN p[3] = p[2] THEN CAST(0 AS BIGINT) "
    "ELSE least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT), "
    "CAST(floor((p[1] - p[2]) / (p[3] - p[2]) * 255.0 + 0.5) AS BIGINT))) END"
)
_SQ_DECODE_LAMBDA = "p -> p[2] + CAST(p[1] AS DOUBLE) * (p[3] - p[2]) / 255.0"

KNN_SQ8_SQL = f"""
WITH normed AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE / sqrt({_DOT_SELF})) AS nv
  FROM embeddings
),
stats AS (
  SELECT [{_SQ_MINS}] AS mins, [{_SQ_MAXS}] AS maxs FROM normed
),
decoded AS (
  SELECT n.vec_id,
         list_transform(
           list_zip(
             list_transform(list_zip(n.nv, s.mins, s.maxs), {_SQ_CODE_LAMBDA}),
             s.mins, s.maxs),
           {_SQ_DECODE_LAMBDA}) AS dv
  FROM normed n, stats s
),
adc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {dot_sql("q.nv", "c.dv")} AS adc_raw
  FROM normed q, decoded c
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
),
short AS (
  SELECT query_id, neighbor_id, adc_raw,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_raw DESC, neighbor_id ASC) AS r
  FROM adc
),
rer AS (
  SELECT s.query_id, s.neighbor_id, round(s.adc_raw, 6) AS adc,
         round({dot_sql("nq.nv", "nc.nv")}, 6) AS cosine
  FROM short s
  JOIN normed nq ON nq.vec_id = s.query_id
  JOIN normed nc ON nc.vec_id = s.neighbor_id
  WHERE s.r <= {_SQ_SHORTLIST}
),
ranked AS (
  SELECT query_id, neighbor_id, adc, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM rer
)
SELECT query_id, neighbor_id, adc, cosine, rank
FROM ranked WHERE rank <= {_K}
"""


# ---------------------------------------------------------------------------
# Multi-probe LSH: ONE table (the same seed-42 planes as table 0 of
# knn_cosine_lsh), each query probing base + all Hamming-1 buckets.
_MP_TABLE = _hyperplanes(_DIM, _MP_PLANES, 42)


def knn_cosine_lsh_multiprobe(spark, sf_dir):
    """Multi-probe LSH ANN (Lv et al., VLDB'07, 1-step probing): one
    hash table does the recall work of several — the query probes its
    own sign-bit bucket plus the 6 Hamming-1 perturbations.  Candidate
    pairs are structurally unique (one corpus bucket × distinct probe
    strings), so the plan has no dedup shuffle."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return knn_lsh_multiprobe(queries, e, _MP_TABLE, k=_K)


def _lit_list_sql(plane: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in plane) + "]"


def _bucket_sql(vec: str) -> str:
    bits = " || ".join(
        f"(CASE WHEN {dot_sql(vec, _lit_list_sql(p))} >= 0 "
        f"THEN '1' ELSE '0' END)"
        for p in _MP_TABLE
    )
    return f"({bits})"


def _probe_sql(b: str, i: int) -> str:
    """Probe string with 1-based bit ``i`` flipped."""
    return (
        f"(substr({b}, 1, {i - 1}) || "
        f"(CASE WHEN substr({b}, {i}, 1) = '1' THEN '0' ELSE '1' END) || "
        f"substr({b}, {i + 1}))"
    )


_PROBES_SQL = ", ".join(
    ["bucket"] + [_probe_sql("bucket", i) for i in range(1, _MP_PLANES + 1)]
)

KNN_MULTIPROBE_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, {_bucket_sql("embedding")} AS bucket
  FROM embeddings
),
qp AS (
  SELECT vec_id AS query_id, embedding AS qe,
         unnest([{_PROBES_SQL}]) AS probe
  FROM b WHERE vec_id < 10
),
cand AS (
  SELECT qp.query_id, c.vec_id AS neighbor_id,
         round({cosine_sql("qp.qe", "c.embedding")}, 6) AS cosine
  FROM qp JOIN b c ON qp.probe = c.bucket
  WHERE qp.query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM cand
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {_K}
"""


# ---------------------------------------------------------------------------
# Sparse JL projection: the matrix is seeded and data-independent, so
# (unlike the PCA twin) the oracle needs no canonical-model staging —
# the ±1/0 rows inline as pure literals.
_JL_MATRIX = jl_matrix(_DIM, _JL_OUT, _JL_SEED)
_JL_SCALE = jl_scale(_JL_OUT)


def embedding_jl_project(spark, sf_dir):
    """Achlioptas sparse random projection 64 → 16 (seeded ±1/0 matrix,
    scale sqrt(3/16)) with the per-vector JL distortion audit
    (norm_ratio = ‖proj‖/‖x‖).  One narrow per-row map — zero shuffle;
    4× less dot-product work for every downstream ANN stage."""
    from rick_and_morty_data_pipeline_project_spark.operators.randproj import (
        jl_project,
    )

    e = t(spark, sf_dir, "embeddings")
    return jl_project(e, _JL_MATRIX)


_JL_PROJ_EXPRS = ",\n    ".join(
    f"({_JL_SCALE!r} * {dot_sql('embedding', _lit_list_sql(row))})"
    for row in _JL_MATRIX
)

JL_PROJECT_SQL = f"""
WITH proj AS (
  SELECT vec_id,
         [{_JL_PROJ_EXPRS}] AS p,
         sqrt({_DOT_SELF}) AS onorm
  FROM embeddings
),
staged AS (
  SELECT vec_id, p,
         sqrt(list_reduce(list_prepend(0.0,
                list_transform(p, x -> x * x)), (acc, x) -> acc + x))
           / onorm AS ratio
  FROM proj
)
SELECT vec_id,
       generate_subscripts(p, 1) - 1 AS pos,
       round(unnest(p), 6) AS proj_value,
       round(ratio, 6) AS norm_ratio
FROM staged
"""


# ---------------------------------------------------------------------------
# Exact all-pairs kNN graph (SemDeDup/clustering prerequisite) via
# Arrow-batched blocked GEMM.  Oracle is the plain all-pairs fold +
# rank; parity holds because scores round to 6 digits BEFORE ranking
# and the rounding margin is empirically pinned at every shipped SF
# (tests/test_vecx.py::test_gemm_graph_rounding_margin).


def knn_graph_gemm(spark, sf_dir):
    """Top-5 cosine neighbors for EVERY vector — one numpy GEMM per
    Arrow batch against the broadcast unit-normalized corpus, per-row
    exact top-k inside the batch, zero shuffle.  The vectorized scale
    path for brute-force scoring: BLAS does the n·k·dim inner loop,
    not a per-pair JVM fold."""
    from rick_and_morty_data_pipeline_project_spark.operators.gemmknn import (
        knn_graph_gemm as _graph,
    )

    e = t(spark, sf_dir, "embeddings")
    return _graph(e, k=_K)


KNN_GRAPH_SQL = f"""
WITH normed AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE / sqrt({_DOT_SELF})) AS nv
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({dot_sql("q.nv", "c.nv")}, 6) AS cosine
  FROM normed q, normed c
  WHERE q.vec_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {_K}
"""


# ---------------------------------------------------------------------------
# Recall matrix: the index-quality dashboard an ANN deployment runs
# after every rebuild — recall@5 per query for EVERY approximate
# variant against the exact top-5, in one relation.  Each arm is the
# variant's own catalog query (same parameters), so the matrix is
# deterministic and the oracle composes the variants' already-proven
# SQL verbatim as CTEs — nothing re-derived, nothing re-tuned.


# bootstrap-CI constants for the recall dashboard: B replicates of a
# classic n-out-of-n resample over the _RM_N per-query recalls, with
# CONTENT-ADDRESSED draws (md5 of variant∥replicate∥slot → 8-hex
# window vs pinned decile thresholds) so both engines resample the
# SAME queries — the statsq Poisson-bootstrap machinery's hex-compare
# trick, with a fixed n-draw resample so no replicate can come up
# empty at n=10.
_RM_B = 64
_RM_N = 10
_RM_T_HEX = [format((k * (1 << 32)) // _RM_N, "08x") for k in range(1, _RM_N)]


def _variant_builders(queries, e):
    """name -> zero-argument builder of each candidate-restricting ANN
    variant's top-k, with its own catalog query's parameters.  The
    operators are imported per call, so a patched operator module
    takes effect."""
    from rick_and_morty_data_pipeline_project_spark.operators.binquant import (
        knn_ivf_binary,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        knn_ivf,
        knn_lsh,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.sq import knn_sq8

    return {
        "lsh": lambda: knn_lsh(queries, e, k=_K, dim=_DIM, n_planes=6),
        "lsh_multiprobe": lambda: knn_lsh_multiprobe(queries, e, _MP_TABLE, k=_K),
        "ivf": lambda: knn_ivf(queries, e, k=_K, n_cells=8, n_probe=2),
        "binary": lambda: knn_binary(
            queries, e, dim=_DIM, k=_K, shortlist=_SHORTLIST
        ),
        "ivf_binary": lambda: knn_ivf_binary(
            queries, e, dim=_DIM, k=_K, n_cells=8, n_probe=2,
            shortlist=_IVFB_SHORTLIST,
        ),
        "sq8": lambda: knn_sq8(
            queries, e, dim=_DIM, k=_K, shortlist=_SQ_SHORTLIST
        ),
    }


def _exact_topk(queries, e):
    """The materialized exact (query_id, neighbor_id) top-k every
    recall arm is measured against."""
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        knn_bruteforce,
    )

    return materialize(
        knn_bruteforce(queries, e, k=_K).select("query_id", "neighbor_id")
    )


def _head_cents_lit(e, n_cells=8):
    """The head-id coarse quantizer's centroid literal (one driver
    collect)."""
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        centroids_literal,
        head_centroid_pairs,
    )

    cent_pairs = head_centroid_pairs(e, "vec_id", "embedding", n_cells)
    return centroids_literal(
        cent_pairs, e.schema["vec_id"].dataType.simpleString()
    )


def knn_recall_matrix(spark, sf_dir):
    """(variant, query_id, n_hits, recall, mean_recall, boot_lo,
    boot_hi) for the six candidate-restricting ANN variants: LSH,
    multi-probe LSH, IVF, binary, IVF×binary, SQ8.  Zero-hit queries
    appear with recall 0 (left join from the exact arm), so a broken
    index reads 0.0, not missing-row.  mean_recall is the variant's
    recall@5 over the 10 queries; [boot_lo, boot_hi] is a
    deterministic 95% bootstrap interval (B=64 md5-addressed
    resamples), making cross-variant comparisons defensible rather
    than point estimates."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    builders = _variant_builders(queries, e)

    # The exact arm is materialized ONCE (inlined, all six variant arms
    # would re-execute it), every variant is built concurrently with it
    # (py4j + eager analysis overlap), and each 10-row arm aggregate
    # materializes as its own concurrent job.  Materialized contents
    # are order-independent, so the matrix is bit-identical.
    exact, *variants = concurrently(
        lambda: _exact_topk(queries, e), *builders.values()
    )

    def arm(name, v):
        v = v.select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
        return materialize(
            exact.join(v, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"))
            .select(
                F.lit(name).alias("variant"),
                "query_id",
                F.col("n_hits").cast("long").alias("n_hits"),
                (F.col("n_hits") / F.lit(float(_K))).alias("recall"),
            )
        )

    arms = concurrently(
        *[partial(arm, name, v) for name, v in zip(builders, variants)]
    )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    # the 60-row matrix feeds the output rows AND the means AND the CI
    # replicate join — the arms above are already materialized, so the
    # three consumers re-read them instead of re-running the six ANN
    # pipelines

    # ---- deterministic bootstrap CI over the per-query recalls ----
    # Replicate sums use integer n_hits (exact), divided once by
    # n·k = 50 — no float accumulation order to diverge between
    # engines; the percentile interpolation is the Spark `percentile`
    # ≡ DuckDB `quantile_cont` p·(n−1) rule statsq already proves.
    idx = out.select(
        "variant",
        "n_hits",
        (
            F.row_number().over(
                Window.partitionBy("variant").orderBy("query_id")
            )
            - 1
        ).alias("_qidx"),
    )
    draws = (
        out.select("variant")
        .distinct()
        .select(
            "variant",
            F.explode(F.sequence(F.lit(0), F.lit(_RM_B - 1))).alias("_b"),
        )
        .select(
            "variant",
            "_b",
            F.explode(F.sequence(F.lit(0), F.lit(_RM_N - 1))).alias("_i"),
        )
    )
    h8 = F.substring(
        F.md5(
            F.concat(
                F.lit("rmboot:"),
                F.col("variant"),
                F.lit(":"),
                F.col("_b").cast("string"),
                F.lit(":"),
                F.col("_i").cast("string"),
            )
        ),
        1,
        8,
    )
    qidx = F.lit(0)
    for thex in _RM_T_HEX:
        qidx = qidx + (h8 >= F.lit(thex)).cast("int")
    reps = (
        draws.select("variant", "_b", qidx.alias("_qidx"))
        .join(idx, ["variant", "_qidx"])
        .groupBy("variant", "_b")
        .agg(F.sum("n_hits").alias("_rs"))
        .select(
            "variant",
            (F.col("_rs").cast("double") / F.lit(float(_RM_N * _K))).alias(
                "_rm"
            ),
        )
    )
    ci = reps.groupBy("variant").agg(
        F.round(F.expr("percentile(_rm, 0.025)"), 6).alias("boot_lo"),
        F.round(F.expr("percentile(_rm, 0.975)"), 6).alias("boot_hi"),
    )
    means = out.groupBy("variant").agg(
        F.round(
            F.sum("n_hits").cast("double") / F.lit(float(_RM_N * _K)), 6
        ).alias("mean_recall")
    )
    return (
        out.join(F.broadcast(means), "variant")
        .join(F.broadcast(ci), "variant")
        .select(
            "variant",
            "query_id",
            "n_hits",
            "recall",
            "mean_recall",
            "boot_lo",
            "boot_hi",
        )
    )


def _matrix_arm_sql(name: str, variant_sql: str) -> str:
    return f"""
SELECT '{name}' AS variant, e.query_id,
       CAST(count(v.neighbor_id) AS BIGINT) AS n_hits,
       count(v.neighbor_id) / {float(_K)!r} AS recall
FROM exact e
LEFT JOIN ({variant_sql}) v
  ON v.query_id = e.query_id AND v.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


def _build_matrix_sql() -> str:
    from rick_and_morty_data_pipeline_project_spark.queries.vecq import (
        KNN_IVF_SQL,
        KNN_LSH_SQL,
        KNN_SQL,
    )

    arms = "\nUNION ALL\n".join(
        _matrix_arm_sql(name, sql)
        for name, sql in (
            ("lsh", KNN_LSH_SQL),
            ("lsh_multiprobe", KNN_MULTIPROBE_SQL),
            ("ivf", KNN_IVF_SQL),
            ("binary", KNN_BINARY_SQL),
            ("ivf_binary", KNN_IVF_BINARY_SQL),
            ("sq8", KNN_SQ8_SQL),
        )
    )
    qidx_sql = " + ".join(
        f"CASE WHEN h8 >= '{thex}' THEN 1 ELSE 0 END" for thex in _RM_T_HEX
    )
    return f"""
WITH exact AS ({KNN_SQL}),
matrix AS (
{arms}
),
idx AS (
  SELECT variant, n_hits,
         ROW_NUMBER() OVER (PARTITION BY variant ORDER BY query_id) - 1 AS qidx
  FROM matrix
),
draws AS (
  SELECT v.variant, b.b,
         substr(md5('rmboot:' || v.variant || ':' || CAST(b.b AS VARCHAR)
                    || ':' || CAST(i.i AS VARCHAR)), 1, 8) AS h8
  FROM (SELECT DISTINCT variant FROM matrix) v,
       (SELECT unnest(generate_series(0, {_RM_B - 1})) AS b) b,
       (SELECT unnest(generate_series(0, {_RM_N - 1})) AS i) i
),
dq AS (
  SELECT variant, b, ({qidx_sql}) AS qidx FROM draws
),
reps AS (
  SELECT d.variant, d.b,
         sum(x.n_hits) / {float(_RM_N * _K)!r} AS rm
  FROM dq d JOIN idx x ON x.variant = d.variant AND x.qidx = d.qidx
  GROUP BY d.variant, d.b
),
ci AS (
  SELECT variant,
         round(quantile_cont(rm, 0.025), 6) AS boot_lo,
         round(quantile_cont(rm, 0.975), 6) AS boot_hi
  FROM reps GROUP BY variant
),
means AS (
  SELECT variant,
         round(sum(n_hits) / {float(_RM_N * _K)!r}, 6) AS mean_recall
  FROM matrix GROUP BY variant
)
SELECT m.variant, m.query_id, m.n_hits, m.recall,
       mn.mean_recall, c.boot_lo, c.boot_hi
FROM matrix m
JOIN means mn ON mn.variant = m.variant
JOIN ci c ON c.variant = m.variant
"""


KNN_RECALL_MATRIX_SQL = _build_matrix_sql()


# ---------------------------------------------------------------------------
# Label-outlier audit: the "mislabeled embedding" detector a curation
# pipeline runs before training on labeled vectors (confident-learning
# shape): cosine of each vector to its OWN label centroid, z-scored
# within the label — a vector far below its label's typical
# self-similarity is a labeling or embedding defect.


# ---------------------------------------------------------------------------
# Hubness audit (Radovanović et al., JMLR'10): the high-dimensional
# ANN pathology metric — the k-occurrence distribution N_k(x) (how
# often each vector appears in OTHER vectors' exact top-k) and its
# skewness.  A right-skewed N_k means a few "hub" vectors dominate
# neighbor lists, degrading every candidate-restricting index at
# once; production vector stores audit this after each reindex.
# Built on the exact GEMM graph, so the oracle composes the proven
# KNN_GRAPH_SQL verbatim.  Determinism: moments come from EXACT
# integer power sums (Σc, Σc², Σc³ over integer occurrence counts —
# order-free), converted to doubles through one identical expression
# sequence on both sides.


def knn_hubness_audit(spark, sf_dir):
    """(k_occurrences, n_vectors, n_total, max_occ, zero_frac,
    skew_g1): the N_5 histogram with the distribution summary repeated
    per row.  Vectors in nobody's top-5 appear as the k_occurrences=0
    bucket (left join from the corpus), so a degenerate hub corpus
    reads as mass at 0 + a long tail, not missing rows.  Scale: the
    graph is the audited GEMM operator; everything downstream is two
    integer aggregates over |corpus| rows."""
    from rick_and_morty_data_pipeline_project_spark.operators.gemmknn import (
        knn_graph_gemm as _graph,
    )

    e = t(spark, sf_dir, "embeddings")
    graph = _graph(e, k=_K)
    cnt = graph.groupBy(
        F.col("neighbor_id").alias("vec_id")
    ).agg(F.count(F.lit(1)).alias("_c"))
    # materialize: occ feeds BOTH the moments aggregate and the
    # histogram — without it each branch re-runs the GEMM graph; the
    # materialized relation is |corpus| integers
    occ = materialize(
        e.select("vec_id")
        .join(cnt, "vec_id", "left")
        .select(F.coalesce(F.col("_c"), F.lit(0)).cast("long").alias("c"))
    )
    sums = occ.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.sum(F.col("c") * F.col("c") * F.col("c")).alias("s3"),
        F.max("c").alias("max_occ"),
        F.sum(F.when(F.col("c") == 0, 1).otherwise(0)).alias("zeros"),
    )
    nd = F.col("n").cast("double")
    mom = sums.select(
        "n",
        "max_occ",
        "zeros",
        (F.col("s1").cast("double") / nd).alias("mu"),
        (F.col("s2").cast("double") / nd).alias("r2"),
        (F.col("s3").cast("double") / nd).alias("r3"),
    )
    mu = F.col("mu")
    summ = mom.select(
        "n",
        "max_occ",
        "zeros",
        "mu",
        (F.col("r2") - mu * mu).alias("m2"),
        (
            F.col("r3") - F.lit(3.0) * mu * F.col("r2")
            + F.lit(2.0) * mu * mu * mu
        ).alias("m3"),
    )
    hist = occ.groupBy(F.col("c").alias("k_occurrences")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    return hist.crossJoin(F.broadcast(summ)).select(
        "k_occurrences",
        "n_vectors",
        F.col("n").cast("long").alias("n_total"),
        F.col("max_occ").cast("long").alias("max_occ"),
        F.round(F.col("zeros").cast("double") / F.col("n").cast("double"), 9).alias(
            "zero_frac"
        ),
        # m2 = 0 exactly when every count is equal (integer-derived
        # moments) — Spark would emit NaN where DuckDB's division
        # yields NULL, so the degenerate skew is an explicit NULL on
        # the same exact condition in both engines (r11 review)
        F.when(
            F.col("m2") > 0,
            F.round(F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2"))), 9),
        ).alias("skew_g1"),
    )


HUBNESS_SQL = f"""
WITH graph AS ({KNN_GRAPH_SQL}),
occ AS (
  SELECT CAST(count(g.neighbor_id) AS BIGINT) AS c
  FROM embeddings e LEFT JOIN graph g ON g.neighbor_id = e.vec_id
  GROUP BY e.vec_id
),
sums AS (
  SELECT count(*) AS n, sum(c) AS s1, sum(c*c) AS s2, sum(c*c*c) AS s3,
         max(c) AS max_occ,
         sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS zeros
  FROM occ
),
mom AS (
  SELECT n, max_occ, zeros,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3
  FROM sums
),
summ AS (
  SELECT n, max_occ, zeros, mu,
         r2 - mu * mu AS m2,
         r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3
  FROM mom
),
hist AS (
  SELECT c AS k_occurrences, CAST(count(*) AS BIGINT) AS n_vectors
  FROM occ GROUP BY c
)
SELECT h.k_occurrences, h.n_vectors,
       CAST(s.n AS BIGINT) AS n_total,
       CAST(s.max_occ AS BIGINT) AS max_occ,
       round(CAST(s.zeros AS DOUBLE) / CAST(s.n AS DOUBLE), 9) AS zero_frac,
       CASE WHEN s.m2 > 0
            THEN round(s.m3 / (s.m2 * sqrt(s.m2)), 9)
       END AS skew_g1
FROM hist h, summ s
"""


# ---------------------------------------------------------------------------
# nDCG@5 label-relevance evaluation — the ranking-quality metric a
# retrieval deployment reports next to recall: graded position-
# discounted gain of the exact top-5 under same-label relevance.
# Determinism trick: the 5-slot binary relevance vector is folded to
# an INTEGER pattern (Σ rel·2^(rank-1), an order-free integer sum),
# and DCG/IDCG/nDCG are looked up from PYTHON-COMPUTED LITERALS (32
# patterns × 3 metrics) inlined identically on both sides — no float
# summation ever happens at query time, so log2's libm cannot enter
# the plan at all.

_NDCG_K = 5
_NDCG_W = [1.0 / math.log2(r + 1) for r in range(1, _NDCG_K + 1)]
_NDCG_DCG = {
    p: sum(w for i, w in enumerate(_NDCG_W) if p & (1 << i))
    for p in range(1 << _NDCG_K)
}
_NDCG_IDCG = {m: sum(_NDCG_W[:m]) for m in range(_NDCG_K + 1)}
_NDCG_NDCG = {
    p: (_NDCG_DCG[p] / _NDCG_IDCG[bin(p).count("1")] if p else 0.0)
    for p in range(1 << _NDCG_K)
}


def knn_ndcg_label_eval(spark, sf_dir):
    """(query_id, q_label, rel_pattern, n_relevant, dcg, idcg, ndcg)
    for the 10 standard query vectors over the exact top-5 under
    same-label binary relevance.  rel_pattern is the bit-packed
    relevance vector (bit r-1 = neighbor at rank r shares the query's
    label); dcg/idcg/ndcg come from the 32-entry literal table.
    Scale: the exact arm is the audited broadcast top-k; the label
    join touches k·|queries| rows; the metric stage is one integer
    aggregate plus a literal CASE."""
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        knn_bruteforce,
    )

    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    nn = knn_bruteforce(queries, e, k=_NDCG_K).select(
        "query_id", "neighbor_id", "rank"
    )
    qlab = e.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    nlab = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
    )
    rel = (
        nn.join(F.broadcast(qlab), "query_id")
        .join(nlab, "neighbor_id")
        .select(
            "query_id",
            "q_label",
            F.when(F.col("n_label") == F.col("q_label"), 1)
            .otherwise(0)
            .alias("_rel"),
            "rank",
        )
    )
    pat = rel.groupBy("query_id", "q_label").agg(
        F.sum(
            F.col("_rel")
            * F.pow(F.lit(2), F.col("rank") - 1).cast("long")
        ).cast("long").alias("rel_pattern"),
        F.sum("_rel").cast("long").alias("n_relevant"),
    )

    def _case(table):
        expr = F.lit(table[0])
        for p in range(1, 1 << _NDCG_K):
            expr = F.when(F.col("rel_pattern") == p, F.lit(table[p])).otherwise(
                expr
            )
        return expr

    return pat.select(
        "query_id",
        "q_label",
        "rel_pattern",
        "n_relevant",
        _case(_NDCG_DCG).alias("dcg"),
        _case([_NDCG_IDCG[bin(p).count("1")] for p in range(1 << _NDCG_K)]).alias(
            "idcg"
        ),
        _case(_NDCG_NDCG).alias("ndcg"),
    )


def _ndcg_case_sql(table) -> str:
    # CAST('…' AS DOUBLE), not a bare numeric literal: DuckDB lexes a
    # 17-significant-digit literal as DECIMAL(18,17) and converts
    # decimal→double through an int64-scaled division whose numerator
    # exceeds 2⁵³ — a double-rounding that lands 1 ULP off Python's
    # strtod for w(5)=1/log2(6).  Invisible at sf0.01 (no rank-5-only
    # pattern occurs); caught by the r12 sf0.1 full-catalog sweep.
    # The string cast is the correctly-rounded parse on both engines.
    whens = "\n    ".join(
        f"WHEN {p} THEN CAST('{table[p]!r}' AS DOUBLE)"
        for p in range(1, 1 << _NDCG_K)
    )
    return f"CASE rel_pattern {whens}\n    ELSE CAST('{table[0]!r}' AS DOUBLE) END"


NDCG_SQL = f"""
WITH normed AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE / sqrt({_DOT_SELF})) AS nv
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({dot_sql("q.nv", "c.nv")}, 6) AS cosine
  FROM normed q, normed c
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
),
topk AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {_NDCG_K}
),
rel AS (
  SELECT t.query_id, eq.label AS q_label, t.rank,
         CASE WHEN en.label = eq.label THEN 1 ELSE 0 END AS r
  FROM topk t
  JOIN embeddings eq ON eq.vec_id = t.query_id
  JOIN embeddings en ON en.vec_id = t.neighbor_id
),
pat AS (
  SELECT query_id, q_label,
         CAST(sum(r * CAST(power(2, rank - 1) AS BIGINT)) AS BIGINT)
           AS rel_pattern,
         CAST(sum(r) AS BIGINT) AS n_relevant
  FROM rel GROUP BY query_id, q_label
)
SELECT query_id, q_label, rel_pattern, n_relevant,
       {_ndcg_case_sql(_NDCG_DCG)} AS dcg,
       {_ndcg_case_sql([_NDCG_IDCG[bin(p).count("1")] for p in range(1 << _NDCG_K)])} AS idcg,
       {_ndcg_case_sql(_NDCG_NDCG)} AS ndcg
FROM pat
"""


def embedding_outlier_scores(spark, sf_dir):
    """(vec_id, label, cos_to_centroid, z_score, is_outlier) — all
    relational: centroids are a (label, pos) aggregate (never
    collected), the similarity is a pos-keyed join + sum, and the
    z-score is one more label-keyed aggregate joined back.  The
    outlier flag derives from the ROUNDED z (bit-equal across
    engines), so the boolean cannot flip on float noise.  Scale: every
    stage is a map-combinable aggregate or an equi-join on
    (label, pos) / label — no stage holds more than |labels|·dim or
    |rows| records."""
    e = t(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    ).select("vec_id", "label", "pos", F.col("x").cast("double").alias("x"))
    cent = ex.groupBy("label", "pos").agg(F.avg("x").alias("c"))
    norms = e.select(
        "vec_id",
        F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda v: v.cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v * v,
            )
        ).alias("vnorm"),
    )
    cnorm = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("cnorm")
    )
    dots = (
        ex.join(cent, ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("x") * F.col("c")).alias("dot"))
    )
    sims = (
        dots.join(norms, "vec_id")
        .join(cnorm, "label")
        .select(
            "vec_id",
            "label",
            (F.col("dot") / (F.col("vnorm") * F.col("cnorm"))).alias("_sim"),
        )
    )
    stats = sims.groupBy("label").agg(
        F.avg("_sim").alias("_mu"),
        F.sqrt(
            F.avg(F.col("_sim") * F.col("_sim"))
            - F.avg("_sim") * F.avg("_sim")
        ).alias("_sd"),
    )
    z = (F.col("_sim") - F.col("_mu")) / F.col("_sd")
    out = sims.join(stats, "label").select(
        "vec_id",
        "label",
        F.round(F.col("_sim"), 6).alias("cos_to_centroid"),
        F.round(z, 6).alias("z_score"),
    )
    return out.select(
        "vec_id",
        "label",
        "cos_to_centroid",
        "z_score",
        (F.col("z_score") < F.lit(-2.0)).alias("is_outlier"),
    )


OUTLIER_SQL = """
WITH ex AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings
),
cent AS (SELECT label, pos, avg(x) AS c FROM ex GROUP BY 1, 2),
norms AS (
  SELECT vec_id,
         sqrt(list_reduce(list_prepend(0.0,
           list_transform(embedding, v -> v::DOUBLE * v::DOUBLE)),
           (acc, v) -> acc + v)) AS vnorm
  FROM embeddings
),
cnorm AS (SELECT label, sqrt(sum(c * c)) AS cnorm FROM cent GROUP BY 1),
dots AS (
  SELECT ex.vec_id, ex.label, sum(ex.x * cent.c) AS dot
  FROM ex JOIN cent ON cent.label = ex.label AND cent.pos = ex.pos
  GROUP BY 1, 2
),
sims AS (
  SELECT d.vec_id, d.label, d.dot / (n.vnorm * cn.cnorm) AS sim
  FROM dots d JOIN norms n ON n.vec_id = d.vec_id
  JOIN cnorm cn ON cn.label = d.label
),
stats AS (
  SELECT label, avg(sim) AS mu,
         sqrt(avg(sim * sim) - avg(sim) * avg(sim)) AS sd
  FROM sims GROUP BY 1
),
scored AS (
  SELECT s.vec_id, s.label,
         round(s.sim, 6) AS cos_to_centroid,
         round((s.sim - st.mu) / st.sd, 6) AS z_score
  FROM sims s JOIN stats st ON st.label = s.label
)
SELECT vec_id, label, cos_to_centroid, z_score,
       z_score < -2.0 AS is_outlier
FROM scored
"""


# ---------------------------------------------------------------------------
# Recall-vs-cost Pareto frontier (r11 verdict stretch item 8): the
# decision-tool completion of knn_recall_matrix.  The matrix answers
# "how accurate is each candidate-restricting variant"; this query
# joins that recall@5 to a DETERMINISTIC candidate-stage cost model —
# the quantity an ANN deployment actually trades off — and flags the
# Pareto-optimal variants.
#
# Cost model (FAISS-style bytes-touched accounting, fully countable in
# both engines — no wall-clock, so the whole row set stays oracled):
#   cand_pairs      pairs entering the variant's CHEAP scoring stage —
#                   actual bucket/cell collision counts for the
#                   bucket-restricted tiers (computed with the SAME
#                   bucket/cell expressions the operators themselves
#                   use: lsh_bucket_col / probe_bucket_cols /
#                   head_centroid_pairs+cell_sim_cmp), |queries|·(N−1)
#                   for the full-scan compressed tiers
#   bytes_per_cand  bytes read per candidate at that stage: dim·4
#                   (float32 vectors) for the exact-scoring tiers, 8
#                   (2 packed sign words) for binary, dim (byte codes)
#                   for SQ8
#   rerank_pairs    pairs entering the exact float rerank (Σ_q
#                   min(shortlist, cand_q); 0 for tiers whose cheap
#                   stage IS the exact score)
#   cost_bytes      cand_pairs·bytes_per_cand + rerank_pairs·dim·4
# on_frontier: no other variant has (recall ≥ AND cost <) or
# (recall > AND cost ≤) — strict Pareto dominance over exact integers
# and one 6-dp-rounded ratio, so the flag cannot float-diverge.
# ivf and ivf_binary share the head-id coarse quantizer (n_cells=8,
# n_probe=2), so they share cand_pairs by construction — the frontier
# makes the 32× bytes_per_cand gap between them legible.

_FRONT_FLOAT_BYTES = _DIM * 4  # float32 storage per vector
_FRONT_BIN_BYTES = _N_WORDS * 4  # packed 32-bit sign words
_FRONT_SQ_BYTES = _DIM  # one byte code per dimension
_FRONT_IVFB_SHORT = 30  # knn_ivf_binary's shortlist
_FRONT_SHORT = 50  # binary / sq8 shortlist


def shared_knn_relations(spark, sf_dir):
    """(exact, cents_lit) built ONCE for multi-arm consumers — the
    run-card composition runs BOTH vector decision tables
    (knn_frontier_recall_cost and knn_ivf_probe_frontier), which would
    otherwise each recompute the brute-force exact top-k AND collect
    the head-id coarse-quantizer centroids.  ``exact`` is
    materialized (it anchors recall in both tables); ``cents_lit``
    is the centroid literal — one driver collect instead of two."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return _exact_topk(queries, e), _head_cents_lit(e)


def knn_frontier_recall_cost(spark, sf_dir, _shared=None):
    """(variant, mean_recall, cand_pairs, bytes_per_cand,
    rerank_pairs, cost_bytes, on_frontier) — one row per
    candidate-restricting ANN variant; see the cost-model comment
    above.  Recall arms are the knn_recall_matrix pipelines; candidate
    counts reuse the operators' own bucket/cell expressions so the
    cost column counts what the variants actually score.

    ``_shared`` is the :func:`shared_knn_relations` pair when the run
    card amortizes the exact top-k + coarse-quantizer collect across
    both vector decision tables."""
    from rick_and_morty_data_pipeline_project_spark.functions.vectors import (
        dot_col,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.binquant import (
        probe_bucket_cols,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        _normalized,
        cell_sim_cmp,
        lsh_bucket_col,
    )

    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)

    # Six variant pipelines built one after another (py4j + eager
    # analysis per DataFrame op) and one giant union job whose AQE
    # stage waves serialize the arm tails would make this builder's
    # wall time SERIAL driver work.  Instead the hit arms and the
    # candidate counts are two independent chains: every variant is
    # built in its own thread and each ONE-ROW hit/count aggregate
    # materializes as its own concurrent job.  Materialized contents
    # are order-independent, so the relation is bit-identical.

    def hit_arms():
        # ---- recall arms (the matrix's variants, means only) ----
        builders = _variant_builders(queries, e)
        exact, *variants = concurrently(
            lambda: _shared[0] if _shared is not None else _exact_topk(queries, e),
            *builders.values(),
        )

        def arm(name, v):
            return materialize(
                exact.join(
                    v.select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"],
                )
                .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
                .select(F.lit(name).alias("variant"), "n_hits")
            )

        return concurrently(
            *[partial(arm, name, v) for name, v in zip(builders, variants)]
        )

    def counts():
        # ---- candidate-stage counts ----
        # corpus size (full-scan tiers touch every non-self vector)
        ncorp = e.agg(F.count(F.lit(1)).cast("long").alias("_n"))

        # lsh: distinct bucket collisions across the 3 OR-amplified tables
        # (same seeds/planes as knn_lsh's defaults: seed 42 + 1000·table)
        tables = [_hyperplanes(_DIM, 6, 42 + 1000 * ti) for ti in range(3)]

        def with_buckets(df, out_id):
            keys = F.array(
                *[
                    F.concat_ws(
                        "#",
                        F.lit(str(ti)),
                        lsh_bucket_col(F.col("embedding"), planes),
                    )
                    for ti, planes in enumerate(tables)
                ]
            )
            return df.select(
                F.col("vec_id").alias(out_id), F.explode(keys).alias("bucket")
            )

        # fan_out: the corpus-side bucket/assignment
        # expressions below are interpreted higher-order vector folds; on
        # the unsplittable single-file local scan they ran on ONE task
        # while 31 cores idled.  Count semantics are aggregates over
        # unordered pairs, so the balancing exchange cannot change a row.
        lsh_tot = (
            with_buckets(queries, "query_id")
            .join(with_buckets(fan_out(e), "neighbor_id"), "bucket")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .dropDuplicates()
            .agg(F.count(F.lit(1)).cast("long").alias("_cand"))
        )

        # multiprobe: probe-string hits against the one-bucket corpus
        # (structurally unique pairs — no distinct needed, mirroring the
        # operator's no-dedup plan)
        # explode(array(bucket)) = the same one bucket per row, but the
        # Generate blocks the join-constraint isnotnull(bucket) from being
        # substituted (6 interpreted plane dots) and pushed below the
        # fan_out exchange onto the 1-task scan — see the cells comment in
        # knn_ivf_probe_frontier.
        cb = fan_out(e).select(
            F.col("vec_id").alias("neighbor_id"),
            F.explode(
                F.array(lsh_bucket_col(F.col("embedding"), _MP_TABLE))
            ).alias("bucket"),
        )
        qp = queries.select(
            F.col("vec_id").alias("query_id"),
            lsh_bucket_col(F.col("embedding"), _MP_TABLE).alias("_b"),
        ).select(
            "query_id",
            F.explode(
                F.array(*probe_bucket_cols(F.col("_b"), _MP_PLANES))
            ).alias("bucket"),
        )
        mp_tot = (
            F.broadcast(qp)
            .join(cb, "bucket")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .agg(F.count(F.lit(1)).cast("long").alias("_cand"))
        )

        # ivf / ivf_binary: probed-cell memberships under the shared
        # head-id coarse quantizer (identical pair count for both tiers);
        # per-query counts also bound ivf_binary's exact rerank
        cents_lit = _shared[1] if _shared is not None else _head_cents_lit(e)
        nc = _normalized(fan_out(e), "vec_id", "embedding", "_id", "_nv")
        nq = _normalized(queries, "vec_id", "embedding", "_id", "_nv")

        def cellof(df, out_id, nprobe):
            sims = F.transform(
                cents_lit,
                lambda c: F.struct(
                    dot_col(F.col("_nv"), c["cent"]).alias("sim"),
                    c["cell_id"].alias("cell_id"),
                ),
            )
            top = F.slice(F.array_sort(sims, cell_sim_cmp), 1, nprobe)
            return df.select(
                F.col("_id").alias(out_id), F.explode(top).alias("_c")
            ).select(out_id, F.col("_c.cell_id").alias("cell_id"))

        ivf_per_q = (
            F.broadcast(cellof(nq, "query_id", 2))
            .join(cellof(nc, "neighbor_id", 1), "cell_id")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
        )
        ivf_tot = ivf_per_q.agg(
            F.sum("_cnt").cast("long").alias("_cand"),
            F.sum(F.least(F.lit(_FRONT_IVFB_SHORT).cast("long"), F.col("_cnt")))
            .cast("long")
            .alias("_rer"),
        )

        # each one-row count relation is an independent job
        return concurrently(
            *[partial(materialize, df) for df in (lsh_tot, mp_tot, ivf_tot, ncorp)]
        )

    arms, (lsh_tot, mp_tot, ivf_tot, ncorp) = concurrently(hit_arms, counts)
    hits = arms[0]
    for a in arms[1:]:
        hits = hits.unionByName(a)

    # ---- per-variant cost rows ----
    def _lits(b, r):
        return (
            F.lit(int(b)).cast("long").alias("bytes_per_cand"),
            r.cast("long").alias("rerank_pairs"),
        )

    zero = F.lit(0)
    full_scan = (F.lit(10) * (F.col("_n") - 1)).cast("long")
    full_rer = F.lit(10) * F.least(
        F.lit(_FRONT_SHORT).cast("long"), F.col("_n") - 1
    )
    cost_rows = [
        lsh_tot.select(
            F.lit("lsh").alias("variant"),
            F.col("_cand").alias("cand_pairs"),
            *_lits(_FRONT_FLOAT_BYTES, zero),
        ),
        mp_tot.select(
            F.lit("lsh_multiprobe").alias("variant"),
            F.col("_cand").alias("cand_pairs"),
            *_lits(_FRONT_FLOAT_BYTES, zero),
        ),
        ivf_tot.select(
            F.lit("ivf").alias("variant"),
            F.col("_cand").alias("cand_pairs"),
            *_lits(_FRONT_FLOAT_BYTES, zero),
        ),
        ncorp.select(
            F.lit("binary").alias("variant"),
            full_scan.alias("cand_pairs"),
            *_lits(_FRONT_BIN_BYTES, full_rer),
        ),
        ivf_tot.select(
            F.lit("ivf_binary").alias("variant"),
            F.col("_cand").alias("cand_pairs"),
            *_lits(_FRONT_BIN_BYTES, F.col("_rer")),
        ),
        ncorp.select(
            F.lit("sq8").alias("variant"),
            full_scan.alias("cand_pairs"),
            *_lits(_FRONT_SQ_BYTES, full_rer),
        ),
    ]
    costs = cost_rows[0]
    for row in cost_rows[1:]:
        costs = costs.unionByName(row)

    # 6-row relation feeds the output AND the dominance self-join —
    # unmaterialized, every ANN arm would re-execute per branch
    m = materialize(
        hits.join(costs, "variant").select(
            "variant",
            F.round(
                F.col("n_hits").cast("double") / F.lit(float(_RM_N * _K)), 6
            ).alias("mean_recall"),
            "cand_pairs",
            "bytes_per_cand",
            "rerank_pairs",
            (
                F.col("cand_pairs") * F.col("bytes_per_cand")
                + F.col("rerank_pairs") * F.lit(int(_FRONT_FLOAT_BYTES))
            )
            .cast("long")
            .alias("cost_bytes"),
        )
    )
    other = m.select(
        F.col("mean_recall").alias("_or"), F.col("cost_bytes").alias("_oc")
    )
    dominated = (
        (F.col("_or") >= F.col("mean_recall"))
        & (F.col("_oc") < F.col("cost_bytes"))
    ) | (
        (F.col("_or") > F.col("mean_recall"))
        & (F.col("_oc") <= F.col("cost_bytes"))
    )
    return (
        m.join(other, dominated, "left_outer")
        .groupBy(
            "variant",
            "mean_recall",
            "cand_pairs",
            "bytes_per_cand",
            "rerank_pairs",
            "cost_bytes",
        )
        .agg(F.count(F.col("_oc")).alias("_ndom"))
        .select(
            "variant",
            "mean_recall",
            "cand_pairs",
            "bytes_per_cand",
            "rerank_pairs",
            "cost_bytes",
            (F.col("_ndom") == 0).alias("on_frontier"),
        )
    )


def _build_frontier_sql() -> str:
    from rick_and_morty_data_pipeline_project_spark.queries.vecq import (
        _ASSIGN_SQL,
        _LSH_BUCKETS,
        _NORMED_CTE,
        KNN_IVF_SQL,
        KNN_LSH_SQL,
        KNN_SQL,
    )

    hit_arms = "\nUNION ALL\n".join(
        f"""  SELECT '{name}' AS variant, CAST(count(*) AS BIGINT) AS n_hits
  FROM exact e JOIN ({sql}) v
    ON v.query_id = e.query_id AND v.neighbor_id = e.neighbor_id"""
        for name, sql in (
            ("lsh", KNN_LSH_SQL),
            ("lsh_multiprobe", KNN_MULTIPROBE_SQL),
            ("ivf", KNN_IVF_SQL),
            ("binary", KNN_BINARY_SQL),
            ("ivf_binary", KNN_IVF_BINARY_SQL),
            ("sq8", KNN_SQ8_SQL),
        )
    )
    fb, bb, sb = _FRONT_FLOAT_BYTES, _FRONT_BIN_BYTES, _FRONT_SQ_BYTES
    return f"""
WITH {_NORMED_CTE},
exact AS (SELECT query_id, neighbor_id FROM ({KNN_SQL})),
hits AS (
{hit_arms}
),
ncorp AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
b3 AS (SELECT vec_id, unnest([{_LSH_BUCKETS}]) AS bucket FROM embeddings),
lshc AS (
  SELECT CAST(count(*) AS BIGINT) AS cand FROM (
    SELECT DISTINCT q.vec_id AS qa, c.vec_id AS ca
    FROM b3 q JOIN b3 c USING (bucket)
    WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
),
mb AS (SELECT vec_id, {_bucket_sql("embedding")} AS bucket FROM embeddings),
mq AS (SELECT vec_id AS query_id, unnest([{_PROBES_SQL}]) AS probe
       FROM mb WHERE vec_id < 10),
mpc AS (
  SELECT CAST(count(*) AS BIGINT) AS cand
  FROM mq q JOIN mb c ON q.probe = c.bucket
  WHERE q.query_id <> c.vec_id
),
assign AS ({_ASSIGN_SQL}),
ivfq AS (
  SELECT p.vec_id AS query_id, count(*) AS cnt
  FROM assign p JOIN assign c ON p.cell_id = c.cell_id AND c.r = 1
  WHERE p.r <= 2 AND p.vec_id < 10 AND p.vec_id <> c.vec_id
  GROUP BY p.vec_id
),
ivfc AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS cand,
         CAST(sum(least({_FRONT_IVFB_SHORT}, cnt)) AS BIGINT) AS rer
  FROM ivfq
),
costs AS (
  SELECT 'lsh' AS variant, cand AS cand_pairs,
         CAST({fb} AS BIGINT) AS bytes_per_cand,
         CAST(0 AS BIGINT) AS rerank_pairs FROM lshc
  UNION ALL SELECT 'lsh_multiprobe', cand, CAST({fb} AS BIGINT),
         CAST(0 AS BIGINT) FROM mpc
  UNION ALL SELECT 'ivf', cand, CAST({fb} AS BIGINT),
         CAST(0 AS BIGINT) FROM ivfc
  UNION ALL SELECT 'binary', CAST(10 * (n - 1) AS BIGINT),
         CAST({bb} AS BIGINT),
         CAST(10 * least({_FRONT_SHORT}, n - 1) AS BIGINT) FROM ncorp
  UNION ALL SELECT 'ivf_binary', cand, CAST({bb} AS BIGINT), rer FROM ivfc
  UNION ALL SELECT 'sq8', CAST(10 * (n - 1) AS BIGINT),
         CAST({sb} AS BIGINT),
         CAST(10 * least({_FRONT_SHORT}, n - 1) AS BIGINT) FROM ncorp
),
m AS (
  SELECT h.variant,
         round(h.n_hits / {float(_RM_N * _K)!r}, 6) AS mean_recall,
         c.cand_pairs, c.bytes_per_cand, c.rerank_pairs,
         CAST(c.cand_pairs * c.bytes_per_cand
              + c.rerank_pairs * {fb} AS BIGINT) AS cost_bytes
  FROM hits h JOIN costs c USING (variant)
)
SELECT variant, mean_recall, cand_pairs, bytes_per_cand, rerank_pairs,
       cost_bytes,
       NOT EXISTS (
         SELECT 1 FROM m o
         WHERE (o.mean_recall >= m.mean_recall
                AND o.cost_bytes < m.cost_bytes)
            OR (o.mean_recall > m.mean_recall
                AND o.cost_bytes <= m.cost_bytes)
       ) AS on_frontier
FROM m
"""


FRONTIER_SQL = _build_frontier_sql()


# ---------------------------------------------------------------------------
# IVF probe-sweep tuning curve (r12 continuation): the frontier answers
# "which TIER"; this answers the next operational question — "how many
# probes" — by measuring recall@5 and candidate cost at EVERY n_probe
# 1..n_cells in one relation.  The trick that makes it one pass: each
# corpus vector lives in exactly one cell, so every (query, neighbor)
# pair carries exactly one probe rank pr (the rank of the neighbor's
# cell in the query's centroid ordering); the candidate set at probe
# level p is simply the pairs with pr ≤ p.  Score each pair ONCE, fan
# it to its qualifying probe levels (≤ n_cells× on a pair relation
# already bounded by |queries|·N), and rank per (p, query).  At 100 TB
# the pair scoring is the same broadcast-probes/cell-join shape as
# knn_ivf itself; the fan-out multiplies a |queries|-bounded relation,
# never the corpus.


def knn_ivf_probe_frontier(spark, sf_dir, _shared=None):
    """(n_probe, cand_pairs, n_hits, mean_recall, marginal_recall)
    for n_probe = 1..8 under the shared head-id coarse quantizer —
    the recall-vs-probes tuning curve an IVF deployment reads to pick
    its operating point.  marginal_recall is the recall bought by the
    p-th probe (lag difference; identical IEEE ops both engines).

    ``_shared`` is the :func:`shared_knn_relations` pair when the run
    card amortizes the exact top-k + coarse-quantizer collect across
    both vector decision tables."""
    from rick_and_morty_data_pipeline_project_spark.functions.vectors import (
        dot_col,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        _normalized,
        cell_sim_cmp,
        knn_bruteforce,
    )

    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    n_cells = 8

    cents_lit = _shared[1] if _shared is not None else _head_cents_lit(e, n_cells)
    # fan_out: the corpus cell assignment below is an
    # interpreted 8-centroid fold + comparator sort per row — on the
    # 1-task local scan it serialized the whole px materialization onto
    # one core (measured 8.2 s of this query's 9.1 s construct).
    nc = _normalized(fan_out(e), "vec_id", "embedding", "_id", "_nv")
    nq = _normalized(queries, "vec_id", "embedding", "_id", "_nv")

    def simsort(df):
        sims = F.transform(
            cents_lit,
            lambda c: F.struct(
                dot_col(F.col("_nv"), c["cent"]).alias("sim"),
                c["cell_id"].alias("cell_id"),
            ),
        )
        return F.array_sort(sims, cell_sim_cmp)

    # cell_id is derived through an explode-of-slice(…,1,1) rather than
    # element_at(…,1) — identical value (the sorted array is a
    # non-empty constant-length transform, so the 1-slice explodes to
    # exactly one row per input row), but the Generate is a predicate-
    # pushdown BARRIER: joining on a scalar-projected cell_id made
    # InferFiltersFromConstraints infer isnotnull(cell_id), substitute
    # the whole 8-centroid assignment expression into it, and push it
    # below the fan_out exchange onto the 1-task scan (measured: 8.6 s
    # of this query's construct was that single-task double
    # evaluation; the operator knn_ivf was immune for exactly this
    # reason — its assignment explodes).
    cells = nc.select(
        F.col("_id").alias("neighbor_id"),
        F.col("_nv").alias("_cv"),
        F.explode(F.slice(simsort(nc), 1, 1)).alias("_c"),
    ).select("neighbor_id", "_cv", F.col("_c.cell_id").alias("cell_id"))
    probes = nq.select(
        F.col("_id").alias("query_id"),
        F.col("_nv").alias("_qv"),
        F.posexplode(simsort(nq)).alias("_pos", "_c"),
    ).select(
        "query_id",
        "_qv",
        (F.col("_pos") + 1).alias("pr"),
        F.col("_c.cell_id").alias("cell_id"),
    )
    pairs = (
        F.broadcast(probes)
        .join(cells, "cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "pr",
            F.round(dot_col(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
        )
    )
    # materialize: px feeds BOTH the hits branch (window + exact join)
    # and the cand count — without it the assignment + pair scoring
    # pipeline executes once per branch; the relation is
    # |queries|·N·avg-fan rows
    px = materialize(
        pairs.select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.explode(F.sequence(F.col("pr"), F.lit(n_cells))).alias("n_probe"),
        )
    )
    exact = (
        _shared[0]
        if _shared is not None
        else knn_bruteforce(queries, e, k=_K).select(
            "query_id", "neighbor_id"
        )
    )
    w = Window.partitionBy("n_probe", "query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    hits = (
        px.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= _K)
        .join(exact, ["query_id", "neighbor_id"])
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    cand = px.groupBy("n_probe").agg(
        F.count(F.lit(1)).cast("long").alias("cand_pairs")
    )
    p_range = spark.range(1, n_cells + 1).select(
        F.col("id").cast("int").alias("n_probe")
    )
    m = (
        p_range.join(cand, "n_probe", "left")
        .join(hits, "n_probe", "left")
        .select(
            "n_probe",
            F.coalesce(F.col("cand_pairs"), F.lit(0)).cast("long").alias(
                "cand_pairs"
            ),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias(
                "n_hits"
            ),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.lit(float(_RM_N * _K)),
                6,
            ).alias("mean_recall"),
        )
    )
    wseq = Window.orderBy("n_probe")  # 8-row relation (n_cells literal)
    return m.select(
        "n_probe",
        "cand_pairs",
        "n_hits",
        "mean_recall",
        (
            F.col("mean_recall")
            - F.coalesce(F.lag("mean_recall").over(wseq), F.lit(0.0))
        ).alias("marginal_recall"),
    )


def _build_probe_frontier_sql() -> str:
    from rick_and_morty_data_pipeline_project_spark.queries.vecq import (
        _ASSIGN_SQL,
        _NORMED_CTE,
        KNN_SQL,
    )

    return f"""
WITH {_NORMED_CTE},
assign AS ({_ASSIGN_SQL}),
cells AS (SELECT vec_id AS neighbor_id, nv AS cv, cell_id
          FROM assign WHERE r = 1),
probes AS (SELECT vec_id AS query_id, nv AS qv, cell_id, r AS pr
           FROM assign WHERE vec_id < 10),
pairs AS (
  SELECT p.query_id, c.neighbor_id, p.pr,
         round({dot_sql("p.qv", "c.cv")}, 6) AS cosine
  FROM probes p JOIN cells c ON p.cell_id = c.cell_id
  WHERE p.query_id <> c.neighbor_id
),
px AS (
  SELECT query_id, neighbor_id, cosine,
         unnest(generate_series(pr, 8)) AS n_probe
  FROM pairs
),
exact AS (SELECT query_id, neighbor_id FROM ({KNN_SQL})),
hits AS (
  SELECT n_probe, CAST(count(*) AS BIGINT) AS n_hits
  FROM (
    SELECT n_probe, query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY n_probe, query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM px
  ) r JOIN exact e
    ON e.query_id = r.query_id AND e.neighbor_id = r.neighbor_id
  WHERE r.rk <= {_K}
  GROUP BY n_probe
),
cand AS (
  SELECT n_probe, CAST(count(*) AS BIGINT) AS cand_pairs
  FROM px GROUP BY n_probe
),
m AS (
  SELECT g.p AS n_probe,
         CAST(coalesce(c.cand_pairs, 0) AS BIGINT) AS cand_pairs,
         CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         round(coalesce(h.n_hits, 0) / {float(_RM_N * _K)!r}, 6)
           AS mean_recall
  FROM (SELECT unnest(generate_series(1, 8)) AS p) g
  LEFT JOIN cand c ON c.n_probe = g.p
  LEFT JOIN hits h ON h.n_probe = g.p
)
SELECT n_probe, cand_pairs, n_hits, mean_recall,
       mean_recall - coalesce(lag(mean_recall)
                              OVER (ORDER BY n_probe), 0.0)
         AS marginal_recall
FROM m
"""


PROBE_FRONTIER_SQL = _build_probe_frontier_sql()


QUERIES = {
    "knn_cosine_binary": Q(
        knn_cosine_binary,
        KNN_BINARY_SQL,
        "binary sign-quantized ANN: packed-word Hamming shortlist + exact rerank",
    ),
    "knn_cosine_lsh_multiprobe": Q(
        knn_cosine_lsh_multiprobe,
        KNN_MULTIPROBE_SQL,
        "multi-probe LSH (1 table, Hamming-1 probe set)",
    ),
    "embedding_jl_project": Q(
        embedding_jl_project,
        JL_PROJECT_SQL,
        "sparse Johnson-Lindenstrauss projection with distortion audit",
    ),
    "knn_graph_gemm": Q(
        knn_graph_gemm,
        KNN_GRAPH_SQL,
        "exact all-pairs kNN graph via Arrow-batched blocked GEMM",
    ),
    "knn_cosine_ivf_binary": Q(
        knn_cosine_ivf_binary,
        KNN_IVF_BINARY_SQL,
        "IVF cells x in-cell binary Hamming shortlist + exact rerank",
    ),
    "knn_cosine_sq8": Q(
        knn_cosine_sq8,
        KNN_SQ8_SQL,
        "SQ8 scalar-quantized ANN: byte codes, ADC shortlist + exact rerank",
    ),
    "knn_recall_matrix": Q(
        knn_recall_matrix,
        KNN_RECALL_MATRIX_SQL,
        "recall@5 + bootstrap CI per candidate-restricting ANN variant",
    ),
    "embedding_outlier_scores": Q(
        embedding_outlier_scores,
        OUTLIER_SQL,
        "label-outlier audit: z-scored cosine to own label centroid",
    ),
    "knn_hubness_audit": Q(
        knn_hubness_audit,
        HUBNESS_SQL,
        "k-occurrence hubness audit over the exact GEMM graph (+ skewness)",
    ),
    "knn_frontier_recall_cost": Q(
        knn_frontier_recall_cost,
        FRONTIER_SQL,
        "recall@5 vs candidate-stage byte cost + Pareto frontier flag",
    ),
    "knn_ivf_probe_frontier": Q(
        knn_ivf_probe_frontier,
        PROBE_FRONTIER_SQL,
        "IVF recall-vs-probes tuning curve (all n_probe levels, one pass)",
    ),
    "knn_ndcg_label_eval": Q(
        knn_ndcg_label_eval,
        NDCG_SQL,
        "nDCG@5 of exact top-k under same-label relevance (literal table)",
    ),
}
