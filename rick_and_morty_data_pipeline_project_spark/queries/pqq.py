"""Driver-certified PQ / IVFADC ANN queries.

The product-quantization operators (``operators/pq.py`` — Jégou,
Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
TPAMI 2011) get their CORRECTNESS rows here: the full train → encode →
ADC-top-k pipeline is replayed by a DuckDB oracle **bit-exactly**, the
same canonical-literal pattern as ``knn_cosine_ivf_kmeans``
(queries/vecq.py) but extended to cover the distributed ENCODE step,
not just driver-side training:

* **Normalization** — both engines unit-normalize with the identical
  left-fold float64 arithmetic (``similarity._normalized`` ≡ the
  oracle's ``list_reduce`` CTE), proven bit-equal across the whole knn
  family since r1.
* **Training** — driver-side and Python-deterministic: the Spark arm
  trains on the shared xxhash64-ordered sample
  (``similarity.sample_vectors_deterministic`` → numpy cores
  ``pq.pq_fit_books`` / ``pq.ivf_pq_fit``) and ASSERTS the result is
  bitwise equal to a canonical pure-Python replay of the same sample
  (:func:`spark_xxhash64_long` ordering + the same numpy core); the
  codebook/centroid literals are then inlined into BOTH engines.
* **Encoding** — the distributed step the oracle must recompute.  The
  DuckDB arm derives each vector's codes relationally (cross join
  against the codebook VALUES, squared-L2 left-fold, first-min
  ROW_NUMBER argmin); the Spark arm uses the real operator
  (``pq_encode`` / ``ivf_pq_index`` — vectorized numpy under Arrow)
  and, under the same bounded-verify guard as the canonical replay,
  ASSERTS those codes equal a pure-JVM fold replay — the oracle's own
  relational formulation run by Spark (broadcast codebook relation,
  one shared fold expression, first-min argmin via lexicographic
  struct MIN), O(1) plan size where the first literal-array variant
  paid ~6 s of fixed Catalyst analysis per call.  numpy's pairwise/BLAS
  summation could in principle flip a near-tie argmin vs the
  sequential fold; on the fixed testdata it provably doesn't (the
  assertion makes any future flip a loud driver error, never a silent
  hash drift).
* **ADC scoring** — the per-query m×k look-up tables are built by ONE
  shared numpy helper (``pq.adc_lut``); the Spark arm broadcasts them
  as a relation and scores ALL queries in one scan
  (``pq_topk_batched`` / ``ivf_pq_topk_batched`` — the equi-join ON
  cell_id IS the IVFADC probe), the oracle inlines the same values as
  literals; both engines fold the m look-ups left-to-right (Spark
  ``aggregate(zip_with(codes, lut))`` ≡ the oracle's explicit
  ``lut[1][c[1]+1] + … + lut[m][c[m]+1]`` chain) and take the
  per-query top-k with the same (dist, id) ordering (salted two-stage
  exact top-k ≡ ROW_NUMBER ≤ k).

Scale story (the reason PQ exists): the scanned relation is m=8 small
ints per vector — 384× less than d=768 float32 — and scoring is pure
whole-stage-codegen arithmetic, no Python, no float vectors touched;
IVFADC additionally prunes the scan to n_probe/n_cells of the corpus
via the broadcast-hash probe join on the int cell_id.  The in-query assertions
and the canonical replay are BOUNDED verification (≤1M-row corpora —
the same gate as ``_canonical_kmeans_centroids``); above that only
the O(sample) training collect and the real operator path run.

Reference provenance: the reference pipeline (reference/Scraper.py —
453 lines of requests + sqlite3) has no vector surface at all; this
family is §2.10 training-data-pipeline scope mandated by the brief.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.operators.pq import (
    _subspaces,
    adc_lut,
    ivf_pq_fit,
    ivf_pq_index,
    ivf_pq_topk_batched,
    pq_encode,
    pq_fit_books,
    pq_topk_batched,
    probe_cells,
    train_ivf_pq,
    train_pq_codebooks,
)
from rick_and_morty_data_pipeline_project_spark.operators.localrel import (
    local_relation,
)
from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
    fan_out,
    materialize,
)
from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
    _normalized,
    sample_vectors_deterministic,  # noqa: F401  (fingerprint anchor: the
    #   trainers sample through this shared helper — reference it here so
    #   the rule-2 stale detector ties these queries to its source)
    spark_xxhash64_long,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import Q, t

_M, _K = 8, 16
_NCELLS, _NPROBE = 8, 2
_TOPK = 5
_SAMPLE = 4096
_N_QUERIES = 10
#: canonical replay / in-query assertion bound — same policy as
#: _canonical_kmeans_centroids (a full-corpus replay needs a full scan)
_VERIFY_CAP = 1_000_000


# ---------------------------------------------------------------------
# canonical pure-Python replay (the oracle's ground truth inputs)
# ---------------------------------------------------------------------


def _fold_norm(vec) -> list:
    """Unit-normalize exactly like the JVM fold (`_normalized`) and the
    oracle CTE: sequential left fold of x², element-wise divide —
    Python floats ARE IEEE doubles, so all three agree to the bit.
    This scalar form is the REFERENCE for ``_canonical_normed``'s
    vectorized replay; their bit-equality is pinned in
    tests/test_pq.py::test_canonical_normed_bit_equals_scalar_fold."""
    acc = 0.0
    for x in vec:
        xd = float(x)
        acc = acc + xd * xd
    n = math.sqrt(acc)
    return [float(x) / n for x in vec]


def _canonical_normed(sf_dir):
    """``(ids, Xn)`` — int64 vec_id array + unit-vector float64 matrix
    for the whole corpus, or None above the bounded-verify cap.
    pyarrow.dataset handles both layouts the engine reads — a single
    parquet file (the testdata) and a directory of part files (any
    Spark-written corpus; default ignore_prefixes skips _SUCCESS/.crc
    sidecars).

    The replay allocates O(rows × dim) numpy, never Python object
    graphs (r9 verdict item 6 — ``to_pylist`` dicts were multiple GB
    at the 1M-row cap).  Bit-exactness to the JVM fold is preserved:
    the squared norm accumulates COLUMN-BY-COLUMN in index order —
    the sequential left fold of ``_fold_norm``, vectorized across
    rows — because ``np.sum``'s pairwise summation would produce a
    different float; the divide is element-wise IEEE, identical in
    both formulations."""
    import numpy as np
    import pyarrow.dataset as pds

    dset = pds.dataset(f"{sf_dir}/embeddings.parquet", format="parquet")
    if dset.count_rows() > _VERIFY_CAP:
        return None
    tbl = dset.to_table(columns=["vec_id", "embedding"])
    ids = tbl.column("vec_id").to_numpy().astype(np.int64, copy=False)
    X = np.stack(
        tbl.column("embedding").to_numpy(zero_copy_only=False)
    ).astype(np.float64)  # value-exact float32 -> float64 widening
    acc = np.zeros(len(ids), dtype=np.float64)
    for j in range(X.shape[1]):  # left fold over dims, all rows at once
        acc = acc + X[:, j] * X[:, j]
    return ids, X / np.sqrt(acc)[:, None]


def _canonical_sample(canon):
    """Replay ``sample_vectors_deterministic``'s xxhash64 ordering in
    pure Python over the canonical normalized vectors."""
    import numpy as np

    ids, Xn = canon
    order = sorted(
        range(len(ids)),
        key=lambda r: (spark_xxhash64_long(int(ids[r])), int(ids[r])),
    )
    return Xn[np.asarray(order[:_SAMPLE], dtype=np.int64)]


def _canonical_queries(canon):
    ids, Xn = canon
    picked = sorted(
        (int(i), r) for r, i in enumerate(ids) if i < _N_QUERIES
    )
    return [(i, Xn[r]) for i, r in picked]


# ---------------------------------------------------------------------
# pure-JVM fold replays (in-query assertions: operator ≡ oracle
# arithmetic on the live corpus, bounded)
# ---------------------------------------------------------------------


def _sq_fold_col(a, b):
    """Σ (aᵢ − bᵢ)² over two array COLUMNS — the exact arithmetic order
    of the oracle's ``list_reduce`` replay, with no inlined literals."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _books_df(spark, books):
    """(j, code_id, bk array<double>) — the codebook as a (tiny,
    broadcastable) relation, mirroring the oracle's ``books`` VALUES."""
    return local_relation(
        spark,
        [
            (j, kk, [float(x) for x in books[j][kk]])
            for j in range(len(books))
            for kk in range(len(books[j]))
        ],
        "j int, code_id int, bk array<double>",
    )


def _codes_from_dists(dists):
    """(vec_id[, cell_id], j, code_id, d2) → (vec_id[, cell_id],
    codes): first-min argmin per (vec, j) via lexicographic struct MIN
    (bit-identical d2 on both engines; ties to the lowest code id —
    the oracle's ROW_NUMBER ORDER BY d2, code_id), then the m codes
    reassembled in j order."""
    keys = [c for c in ("vec_id", "cell_id") if c in dists.columns]
    per_j = dists.groupBy(*keys, "j").agg(
        F.min(F.struct("d2", "code_id"))["code_id"].alias("code")
    )
    return per_j.groupBy(*keys).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("j", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )


def _jvm_pq_codes(normed_df, books, dim):
    """Relational fold replay of the encode — the oracle's formulation
    run by Spark: normed × codebook relation, ONE fold expression
    (O(1) plan size — the literal-array variant cost ~6 s of fixed
    Catalyst analysis per call), first-min argmin per (vec, subspace).
    """
    w = dim // _M
    bdf = _books_df(normed_df.sparkSession, books)
    dists = normed_df.join(F.broadcast(bdf)).select(
        "vec_id",
        "j",
        "code_id",
        _sq_fold_col(
            F.slice("nv", F.col("j") * w + 1, w), F.col("bk")
        ).alias("d2"),
    )
    return _codes_from_dists(dists)


def _jvm_ivfpq_index(normed_df, cents, books, dim):
    """Same relational replay with the coarse stage: assign each vector
    to its first-min cell (cents as a broadcast relation), compute the
    residual ONCE per row, then per-subspace argmin over the residual
    books — ((x − cent) − book)², the numpy path's arithmetic order."""
    w = dim // _M
    sess = normed_df.sparkSession
    cdf = local_relation(
        sess,
        [(c, [float(x) for x in cents[c]]) for c in range(_NCELLS)],
        "cell_id int, cent array<double>",
    )
    # argmin carries only (d2, cell_id) through the aggregate — the
    # 64-dim vectors ride along once via any_value (identical across a
    # vec's group) and the winning centroid joins back broadcast
    assigned = (
        normed_df.join(F.broadcast(cdf))
        .select(
            "vec_id",
            "nv",
            "cell_id",
            _sq_fold_col(F.col("nv"), F.col("cent")).alias("d2"),
        )
        .groupBy("vec_id")
        .agg(
            F.min(F.struct("d2", "cell_id")).alias("_m"),
            F.any_value("nv").alias("nv"),
        )
        .select("vec_id", F.col("_m.cell_id").alias("cell_id"), "nv")
        .join(F.broadcast(cdf), "cell_id")
        .select(
            "vec_id",
            "cell_id",
            F.zip_with("nv", "cent", lambda x, cc: x - cc).alias("rv"),
        )
    )
    bdf = _books_df(sess, books)
    dists = assigned.join(F.broadcast(bdf)).select(
        "vec_id",
        "cell_id",
        "j",
        "code_id",
        _sq_fold_col(
            F.slice("rv", F.col("j") * w + 1, w), F.col("bk")
        ).alias("d2"),
    )
    return _codes_from_dists(dists)


def _assert_same_codes(op_df, jvm_df, cols, what):
    # FULL OUTER join so a vector missing from either side is a loud
    # error, not silently dropped (r10 advisory) — and ONE pass over
    # the expensive fold replay: the missing-row and diverged-codes
    # counts ride a single aggregate (a three-counts formulation would
    # evaluate the un-checkpointed replay three times).
    joined = op_df.alias("a").join(jvm_df.alias("b"), "vec_id", "full_outer")
    miss = F.col(f"a.{cols[0]}").isNull() | F.col(f"b.{cols[0]}").isNull()
    diff = None
    for c in cols:
        ne = F.col(f"a.{c}") != F.col(f"b.{c}")
        diff = ne if diff is None else (diff | ne)
    row = joined.select(
        F.count(F.when(miss, 1)).alias("n_missing"),
        F.count(F.when(~miss & diff, 1)).alias("n_bad"),
    ).collect()[0]
    if row["n_missing"]:
        raise AssertionError(
            f"{what}: {row['n_missing']} vectors present on only one "
            "side of the operator-vs-replay compare — a row went "
            "missing from the encode or the fold replay"
        )
    if row["n_bad"]:
        raise AssertionError(
            f"{what}: the operator's numpy encode diverged from the "
            f"JVM fold replay on {row['n_bad']} vectors — a near-tie "
            "argmin flipped between summation orders; the oracle would "
            "hash-mismatch, failing loudly here instead"
        )


# ---------------------------------------------------------------------
# the queries
# ---------------------------------------------------------------------


def knn_cosine_pq(spark, sf_dir):
    """ADC top-k over the PQ-compressed corpus (unit vectors, so
    squared-L2 ADC ranks by cosine).  ONE scan of the m-byte codes
    relation scores ALL queries (broadcast LUT relation + codegen
    fold); the per-query top-k is the salted two-stage exact top-k —
    query_id is low-cardinality, the shape a bare rank window would
    serialize (and |queries| separate heap branches would re-scan)."""
    e = t(spark, sf_dir, "embeddings")
    # normed feeds training, the fold replay, the query collect AND the
    # encode — ``materialize`` the tiny (id, unit-vector) relation
    # once; fan_out first so the m·k fold-replay assertion doesn't
    # serialize on the unsplittable single-file local scan
    normed = materialize(
        _normalized(fan_out(e), "vec_id", "embedding", "vec_id", "nv")
    )
    books = train_pq_codebooks(normed, vec_col="nv", m=_M, k=_K)
    canon = _canonical_normed(sf_dir)
    if canon is not None:
        X = _canonical_sample(canon)
        if books != pq_fit_books(X, _M, _K):
            raise AssertionError(
                "knn_cosine_pq: distributed-sample training diverged "
                "from the canonical replay of the same sample"
            )
    dim = len(books) * len(books[0][0])
    codes = materialize(pq_encode(normed, books, vec_col="nv"))
    if canon is not None:
        _assert_same_codes(
            codes,
            _jvm_pq_codes(normed, books, dim),
            ["codes"],
            "knn_cosine_pq",
        )
    queries = sorted(
        (
            (r["vec_id"], r["nv"])
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


def knn_cosine_ivfpq(spark, sf_dir):
    """IVFADC: jointly-trained coarse cells + residual PQ books; the
    broadcast (query, cell, residual-LUT) relation's equi-join ON
    cell_id IS the probe — only rows in some query's probed cells are
    scored, in one scan of the index — then the salted two-stage
    per-query top-k."""
    e = t(spark, sf_dir, "embeddings")
    normed = materialize(
        _normalized(fan_out(e), "vec_id", "embedding", "vec_id", "nv")
    )
    cents, books = train_ivf_pq(normed, vec_col="nv", n_cells=_NCELLS, m=_M, k=_K)
    canon = _canonical_normed(sf_dir)
    if canon is not None:
        X = _canonical_sample(canon)
        if (cents, books) != ivf_pq_fit(X, _NCELLS, _M, _K):
            raise AssertionError(
                "knn_cosine_ivfpq: distributed-sample joint training "
                "diverged from the canonical replay of the same sample"
            )
    dim = len(cents[0])
    idx = materialize(ivf_pq_index(normed, cents, books, vec_col="nv"))
    if canon is not None:
        _assert_same_codes(
            idx,
            _jvm_ivfpq_index(normed, cents, books, dim),
            ["cell_id", "codes"],
            "knn_cosine_ivfpq",
        )
    queries = sorted(
        (
            (r["vec_id"], r["nv"])
            for r in normed.filter(F.col("vec_id") < _N_QUERIES).collect()
        ),
        key=lambda p: p[0],
    )
    out = ivf_pq_topk_batched(
        queries, idx, cents, books, n_probe=_NPROBE, top_k=_TOPK
    )
    return out.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round("adc_dist", 6).alias("adc_dist"),
    )


# ---------------------------------------------------------------------
# DuckDB oracles — canonical literals fit from the sf0.01 testdata at
# import (driver correctness runs are pinned to sf0.01; the
# _ivf_kmeans_oracle_sql / PCA-literal pattern)
# ---------------------------------------------------------------------

_SELF_DOT = (
    "list_reduce(list_prepend(0.0, list_transform(embedding, "
    "x -> x::DOUBLE * x::DOUBLE)), (acc, x) -> acc + x)"
)


def _sq_fold_sql(a: str, b: str) -> str:
    """Σ (aᵢ − bᵢ)² as the same left fold the Spark arm uses."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
        f"p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE)"
        f")), (acc, x) -> acc + x)"
    )


def _lit_list(vals) -> str:
    return "[" + ", ".join(repr(float(x)) for x in vals) + "]"


def _lit_list2(rows) -> str:
    return "[" + ", ".join(_lit_list(r) for r in rows) + "]"


_ORACLE_SF_DIR = "/root/testdata/sf0.01"


def _oracle_canon():
    """ONE canonical replay shared by both oracle builders — the
    full-corpus read + fold-normalize + xxhash sort runs once per
    import, not once per builder."""
    canon = _canonical_normed(_ORACLE_SF_DIR)
    if canon is None:
        return None, None
    return canon, _canonical_sample(canon)


def _pq_oracle_sql(canon, X) -> str | None:
    import numpy as np

    if canon is None:
        return None
    books = pq_fit_books(X, _M, _K)
    dim = X.shape[1]
    spans = _subspaces(dim, _M)
    w = dim // _M
    book_rows = ", ".join(
        f"({j}, {kk}, {_lit_list(books[j][kk])})"
        for j in range(_M)
        for kk in range(_K)
    )
    lut_rows = ", ".join(
        f"({qid}, {_lit_list2(adc_lut(books, spans, np.asarray(qv, dtype=np.float64)))})"
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
books(j, code_id, cent) AS (VALUES {book_rows}),
dists AS (
  SELECT n.vec_id, b.j, b.code_id,
         {_sq_fold_sql(f"n.nv[b.j * {w} + 1 : (b.j + 1) * {w}]", "b.cent")} AS d2
  FROM normed n, books b
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


def _ivfpq_oracle_sql(canon, X) -> str | None:
    import numpy as np

    if canon is None:
        return None
    cents, books = ivf_pq_fit(X, _NCELLS, _M, _K)
    dim = X.shape[1]
    spans = _subspaces(dim, _M)
    w = dim // _M
    Cn = np.array(cents, dtype=np.float64)
    cent_rows = ", ".join(
        f"({c}, {_lit_list(cents[c])})" for c in range(_NCELLS)
    )
    book_rows = ", ".join(
        f"({j}, {kk}, {_lit_list(books[j][kk])})"
        for j in range(_M)
        for kk in range(_K)
    )
    lut_rows = []
    for qid, qv in _canonical_queries(canon):
        q = np.asarray(qv, dtype=np.float64)
        for cell in probe_cells(Cn, q, _NPROBE):
            lut_rows.append(
                f"({qid}, {cell}, "
                f"{_lit_list2(adc_lut(books, spans, q - Cn[cell]))})"
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
cents(cell_id, cent) AS (VALUES {cent_rows}),
cell_d AS (
  SELECT n.vec_id, n.nv, c.cell_id, c.cent,
         ROW_NUMBER() OVER (PARTITION BY n.vec_id
                            ORDER BY {_sq_fold_sql("n.nv", "c.cent")} ASC,
                                     c.cell_id ASC) AS rn
  FROM normed n, cents c
),
assigned AS (
  SELECT vec_id,
         list_transform(list_zip(nv, cent),
                        p -> p[1]::DOUBLE - p[2]::DOUBLE) AS rv,
         cell_id
  FROM cell_d WHERE rn = 1
),
books(j, code_id, bk) AS (VALUES {book_rows}),
dists AS (
  SELECT a.vec_id, a.cell_id, b.j, b.code_id,
         {_sq_fold_sql(f"a.rv[b.j * {w} + 1 : (b.j + 1) * {w}]", "b.bk")} AS d2
  FROM assigned a, books b
),
argmin AS (
  SELECT vec_id, cell_id, j, code_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id, j
                            ORDER BY d2 ASC, code_id ASC) AS rn
  FROM dists
),
codes AS (
  SELECT vec_id, any_value(cell_id) AS cell_id,
         list(code_id ORDER BY j) AS codes
  FROM argmin WHERE rn = 1 GROUP BY vec_id
),
luts(query_id, cell_id, lut) AS (VALUES {", ".join(lut_rows)}),
scored AS (
  SELECT l.query_id, c.vec_id AS neighbor_id, {chain} AS adc
  FROM luts l JOIN codes c ON c.cell_id = l.cell_id
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


try:
    # shared with queries/opqq.py (one canonical replay per import for
    # ALL three builders; numpy-backed since r10 — ~300 KB at sf0.01,
    # so keeping it resident replaced the old free-after-use del)
    ORACLE_CANON = _oracle_canon()
    KNN_PQ_SQL = _pq_oracle_sql(*ORACLE_CANON)
    KNN_IVFPQ_SQL = _ivfpq_oracle_sql(*ORACLE_CANON)
except OSError:  # testdata not present on this machine
    ORACLE_CANON = (None, None)
    KNN_PQ_SQL = None
    KNN_IVFPQ_SQL = None


QUERIES: dict[str, Q] = {
    "knn_cosine_pq": Q(knn_cosine_pq, KNN_PQ_SQL),
    "knn_cosine_ivfpq": Q(knn_cosine_ivfpq, KNN_IVFPQ_SQL),
}
