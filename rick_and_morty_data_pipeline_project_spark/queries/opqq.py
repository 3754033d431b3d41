"""Driver-certified OPQ ANN query (round 10 — the r9 verdict's
stretch #9 "oracled query if it earns its slot").

``knn_cosine_opq`` extends the PQ certification pattern
(queries/pqq.py) with the trained orthogonal rotation of
``operators/opq.py`` (Ge et al., CVPR 2013).  Every stage is replayed
bit-exactly by the DuckDB oracle:

* **Training** — ``opq_fit`` on the shared xxhash64-ordered sample;
  the distributed-sample fit is ASSERTED bitwise equal to a canonical
  pure-Python replay of the same sample (rotation matrix AND books),
  then R and the books are inlined as literals into BOTH engines.
* **Rotation** — the operator rotates with one numpy GEMM per Arrow
  batch (``opq_encode``); the oracle derives each rotated coordinate
  relationally: ``rot(i, col)`` VALUES × the normed vector, one
  left-fold dot product per output dimension, reassembled in i order.
  The same relational rotation is run by Spark (broadcast rot
  relation, shared fold expression) as the bounded in-query replay.
* **Encode** — after the fold rotation the replay is EXACTLY
  ``pqq._jvm_pq_codes`` (codebook relation, squared-L2 fold,
  first-min argmin); the operator's GEMM-rotated numpy codes are
  asserted equal, so a near-tie argmin flip between summation orders
  is a loud driver error, never silent hash drift.
* **ADC top-k** — unchanged ``pq_topk_batched`` over queries rotated
  driver-side (q @ R: numpy over inputs bit-equal in both arms — the
  fold-normalization parity proven since r1 — so the LUT literals
  agree bit-for-bit).

Because R is orthogonal, L2 distances are preserved and the scoring
operator needs no change — the rotation is pure index-build cost (one
GEMM per Arrow batch), which is the point of OPQ at 10⁹ vectors: the
scanned relation stays m=8 small ints per vector while the codes
model correlated dimensions plain PQ cannot.

Verification is BOUNDED exactly as the PQ family (≤1M-row corpora);
above the cap only the O(sample) training collect and the real
operator run.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.operators.localrel import (
    local_relation,
)
from rick_and_morty_data_pipeline_project_spark.operators.opq import (
    opq_encode,
    opq_fit,
)
from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
    fan_out,
    materialize,
)
from rick_and_morty_data_pipeline_project_spark.operators.pq import (
    _subspaces,
    adc_lut,
    pq_topk_batched,
)
from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
    _normalized,
    sample_vectors_deterministic,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import Q, t
from rick_and_morty_data_pipeline_project_spark.queries.pqq import (
    _M,
    _K,
    _N_QUERIES,
    _SAMPLE,
    _TOPK,
    _assert_same_codes,
    _canonical_normed,
    _canonical_queries,
    _canonical_sample,
    _jvm_pq_codes,
    _lit_list,
    _lit_list2,
    ORACLE_CANON,
    _pq_oracle_sql,  # noqa: F401  (fingerprint anchor: this module's
    #   oracle tail mirrors the PQ oracle's CTE chain — tie the stale
    #   detector to its source)
    _SELF_DOT,
    _sq_fold_sql,
)

_OUTER = 4  # OPQ alternating iterations (deterministic, driver-side)


def _jvm_rotated(normed_df, R):
    """The oracle's relational rotation run by Spark: broadcast
    ``rot(i, col)`` relation (col[j] = R[j][i]), one shared left-fold
    dot per output dimension, coordinates reassembled in i order.
    Bounded-verify only — the real operator rotates via GEMM inside
    ``opq_encode``."""
    d = len(R)
    rdf = local_relation(
        normed_df.sparkSession,
        [(i, [float(R[j][i]) for j in range(d)]) for i in range(d)],
        "i int, col array<double>",
    )
    dot = F.aggregate(
        F.zip_with("nv", "col", lambda x, c: x * c),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rows = normed_df.join(F.broadcast(rdf)).select(
        "vec_id", "i", dot.alias("rv")
    )
    return rows.groupBy("vec_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("i", "rv"))),
            lambda s: s["rv"],
        ).alias("nv")
    )


def knn_cosine_opq(spark, sf_dir):
    """OPQ ANN: trained-rotation PQ, every stage oracle-replayed (module
    docstring).  Output shape matches the PQ family: per-query top-k
    by ADC distance with (dist, id) tie order."""
    e = t(spark, sf_dir, "embeddings")
    normed = materialize(
        _normalized(fan_out(e), "vec_id", "embedding", "vec_id", "nv")
    )
    X_dist = sample_vectors_deterministic(normed, "vec_id", "nv", _SAMPLE)
    R, books = opq_fit(X_dist, _M, _K, n_outer=_OUTER)
    canon = _canonical_normed(sf_dir)
    if canon is not None:
        Xc = _canonical_sample(canon)
        Rc, bc = opq_fit(Xc, _M, _K, n_outer=_OUTER)
        if not (np.array_equal(R, Rc) and books == bc):
            raise AssertionError(
                "knn_cosine_opq: distributed-sample OPQ training "
                "diverged from the canonical replay of the same sample"
            )
    dim = len(R)
    codes = materialize(opq_encode(normed, R, books, vec_col="nv"))
    if canon is not None:
        rotated = materialize(_jvm_rotated(normed, R))
        _assert_same_codes(
            codes,
            _jvm_pq_codes(rotated, books, dim),
            ["codes"],
            "knn_cosine_opq",
        )
    queries = sorted(
        (
            (r["vec_id"], (np.asarray(r["nv"], dtype=np.float64) @ R).tolist())
            for r in normed.filter(F.col("vec_id") < _N_QUERIES).collect()
        ),
        key=lambda p: p[0],
    )
    out = pq_topk_batched(queries, codes, books, top_k=_TOPK)
    return out.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round("adc_dist", 6).alias("adc_dist"),
    )


def _opq_oracle_sql(canon, X) -> str | None:
    if canon is None:
        return None
    R, books = opq_fit(X, _M, _K, n_outer=_OUTER)
    dim = X.shape[1]
    spans = _subspaces(dim, _M)
    w = dim // _M
    rot_rows = ", ".join(
        f"({i + 1}, {_lit_list(R[:, i])})" for i in range(dim)
    )
    book_rows = ", ".join(
        f"({j}, {kk}, {_lit_list(books[j][kk])})"
        for j in range(_M)
        for kk in range(_K)
    )
    lut_rows = ", ".join(
        f"({qid}, {_lit_list2(adc_lut(books, spans, np.asarray(qv, dtype=np.float64) @ R))})"
        for qid, qv in _canonical_queries(canon)
    )
    chain = " + ".join(
        f"l.lut[{j + 1}][c.codes[{j + 1}] + 1]" for j in range(_M)
    )
    return f"""
WITH normed AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE / sqrt({_SELF_DOT})) AS nv
  FROM embeddings
),
rot(i, col) AS (VALUES {rot_rows}),
rotated AS (
  SELECT vec_id, list(rv ORDER BY i) AS nv
  FROM (
    SELECT n.vec_id, r.i,
           list_reduce(list_prepend(0.0,
             list_transform(list_zip(n.nv, r.col),
                            p -> p[1]::DOUBLE * p[2]::DOUBLE)),
             (acc, x) -> acc + x) AS rv
    FROM normed n, rot r)
  GROUP BY vec_id
),
books(j, code_id, cent) AS (VALUES {book_rows}),
dists AS (
  SELECT n.vec_id, b.j, b.code_id,
         {_sq_fold_sql(f"n.nv[b.j * {w} + 1 : (b.j + 1) * {w}]", "b.cent")} AS d2
  FROM rotated n, books b
),
argmin AS (
  SELECT vec_id, j, code_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id, j
                            ORDER BY d2 ASC, code_id ASC) AS rn
  FROM dists
),
codes AS (
  SELECT vec_id, list(code_id ORDER BY j) AS codes
  FROM argmin WHERE rn = 1 GROUP BY vec_id
),
luts(query_id, lut) AS (VALUES {lut_rows}),
scored AS (
  SELECT l.query_id, c.vec_id AS neighbor_id, {chain} AS adc
  FROM luts l, codes c
),
ranked AS (
  SELECT query_id, neighbor_id, adc,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(adc, 6) AS adc_dist
FROM ranked WHERE rank <= {_TOPK}
"""


# pqq already ran (or OSError-skipped) the one canonical replay at its
# import; reuse it — and let any REAL builder bug raise at import
# instead of silently degrading the certification to rows-only (the
# frozen-core pin exists precisely to keep this set from growing).
QUERIES: dict[str, Q] = {
    "knn_cosine_opq": Q(knn_cosine_opq, _opq_oracle_sql(*ORACLE_CANON)),
}
