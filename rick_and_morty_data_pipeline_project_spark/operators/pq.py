"""Product quantization (PQ) for ANN — the memory half of the
10⁹-vector story.

IVF (`operators/similarity.knn_ivf`) cuts the vectors SCANNED per
query; PQ cuts the BYTES per vector: split each d-dim vector into
``m`` contiguous subvectors, k-means each subspace into ``k``
centroids, store only the m code ids (Jégou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011).  At d=768
float32 → m=8 bytes that's a 384× compression, the difference between
"embeddings fit in executor memory" and "they don't" at 10⁹ rows.

Engine mapping, Spark-first:

* **Training** reuses the engine's deterministic driver-side sampling
  (rows ordered by ``xxhash64(id)`` — replayable, bounded collect) and
  a pure-numpy per-subspace L2 k-means; no ``rand()`` anywhere.
* **Encoding** is one Arrow ``mapInPandas`` pass: vectorized argmin
  over the (batch × k) distance matrix per subspace — the only Python
  in the pipeline, batched and column-oriented.
* **Search (ADC — asymmetric distance computation)** stays entirely
  JVM-side: each query's look-up table (m × k squared-L2 distances
  from the query's subvectors to every centroid, built driver-side —
  kilobytes) rides a broadcast relation, and the approximate distance
  is ``F.aggregate(F.zip_with(codes, lut, (c, row) → row[c+1]), sum)``
  — whole-stage-codegen arithmetic over the code bytes, never a Python
  call per row, followed by a per-query exact top-k.  Scan cost: m
  array look-ups per (row, query) over an m-byte column, no float
  vectors touched.

Recall characteristics are data-dependent (quantization error); the
test pins recall@10 against exact L2 search on this corpus and the
determinism of the whole train → encode → search pipeline.
"""

from __future__ import annotations

from typing import List, Sequence

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rick_and_morty_data_pipeline_project_spark.operators.localrel import (
    local_relation,
)


def _subspaces(dim: int, m: int) -> List[tuple]:
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m={m}")
    w = dim // m
    return [(j * w, (j + 1) * w) for j in range(m)]


def _kmeans_l2(X: np.ndarray, k: int, n_iters: int, seed: int) -> np.ndarray:
    """Plain-L2 k-means on a small sample (driver-side, deterministic:
    seeded init over the sample, numpy ops only)."""
    if len(X) < k:
        raise ValueError(f"pq: sample of {len(X)} cannot seed {k} codes")
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(n_iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    sample_size: int = 4096,
    n_iters: int = 10,
    seed: int = 42,
) -> List[List[List[float]]]:
    """m codebooks of k centroids each (python lists, ready to inline
    as literals/broadcasts).  Bounded deterministic sample — the shared
    xxhash64-ordered heap top-k (``similarity.
    sample_vectors_deterministic``, also the IVF trainer's sampler): a
    few MB collected no matter the corpus size."""
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        sample_vectors_deterministic,
    )

    X = sample_vectors_deterministic(corpus, id_col, vec_col, sample_size)
    return pq_fit_books(X, m, k, n_iters, seed)


def pq_fit_books(
    X: "np.ndarray", m: int, k: int, n_iters: int = 10, seed: int = 42
) -> List[List[List[float]]]:
    """The pure-numpy PQ training core shared by the distributed
    sampler (:func:`train_pq_codebooks`) and the canonical oracle twin
    (queries/pqq.py): identical input rows → bitwise-identical
    codebooks."""
    return [
        _kmeans_l2(X[:, lo:hi], k, n_iters, seed).tolist()
        for lo, hi in _subspaces(X.shape[1], m)
    ]


def argmin_codes(
    V: "np.ndarray",
    books: Sequence["np.ndarray"],
    spans: Sequence[tuple],
) -> "np.ndarray":
    """Vectorized per-subspace nearest-centroid codes for a batch —
    THE encode arithmetic, shared by ``pq_encode``, ``ivf_pq_index``'s
    residual path and ``opq.opq_encode`` so a tie-break or dtype change
    can never drift between them.  ``||s − c||² = ||s||² − 2 s·c +
    ||c||²``; the row-constant ``||s||²`` cannot change the argmin."""
    m = len(books)
    codes = np.empty((len(V), m), dtype=np.int32)
    for j, (lo, hi) in enumerate(spans):
        S = V[:, lo:hi]
        d2 = (books[j] ** 2).sum(axis=1)[None, :] - 2.0 * (S @ books[j].T)
        codes[:, j] = d2.argmin(axis=1)
    return codes


def pq_encode(
    df: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int> of length m) — one Arrow pass, vectorized
    argmin per subspace.  The codes column is the ENTIRE index the
    search path scans."""
    m = len(codebooks)
    dim = sum(len(b[0]) for b in codebooks)
    spans = _subspaces(dim, m)
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),  # any id type
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(batches):
        for b in batches:
            V = np.array(list(b[vec_col]), dtype=np.float64)
            codes = argmin_codes(V, books, spans)
            import pandas as pd

            yield pd.DataFrame(
                {id_col: b[id_col], "codes": list(map(list, codes))}
            )

    return df.select(id_col, vec_col).mapInPandas(encode, out_schema)


def adc_lut(
    books: Sequence[Sequence[Sequence[float]]],
    spans: Sequence[tuple],
    q: "np.ndarray",
) -> List[List[float]]:
    """The m×k ADC look-up table for one (residualized) query vector —
    exact squared-L2 distances from each subvector of ``q`` to every
    centroid.  ONE numpy expression shared by the Spark scorers below
    and the DuckDB oracle builder (queries/pqq.py), so the literal
    doubles inlined into both engines' plans are bitwise identical."""
    return [
        ((np.array(books[j], dtype=np.float64) - q[lo:hi][None, :]) ** 2)
        .sum(axis=1)
        .tolist()
        for j, (lo, hi) in enumerate(spans)
    ]


def probe_cells(C: "np.ndarray", q: "np.ndarray", n_probe: int) -> List[int]:
    """The n_probe nearest coarse cells for a query — stable argsort,
    shared by :func:`ivf_pq_topk_batched` and the oracle builder."""
    cell_d2 = ((C - q[None, :]) ** 2).sum(axis=1)
    return np.argsort(cell_d2, kind="stable")[:n_probe].tolist()


# ---------------------------------------------------------------------
# IVF + PQ (IVFADC) — the combined architecture: an L2 coarse
# quantizer routes each vector to a cell, PQ encodes the RESIDUAL
# v − centroid (Jégou et al. §IV: residual energy is far below vector
# energy, so the same code budget quantizes much finer), and a query
# scores codes in its n_probe nearest cells only.  Scan cost per
# query: (n_probe / n_cells) of the corpus, m bytes per row — both
# knobs of the 10⁹-vector bill in one plan, still pure codegen.
#
# Train coarse and fine stages TOGETHER (train_ivf_pq): the PQ books
# must be fit on residuals (their actual input distribution), and the
# coarse k-means must share ADC's L2 geometry — books trained on raw
# vectors, or unit-norm spherical centroids (similarity.py's cosine
# quantizer), measurably degrade recall here.
# ---------------------------------------------------------------------


def train_ivf_pq(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    m: int = 8,
    k: int = 16,
    sample_size: int = 4096,
    n_iters: int = 10,
    seed: int = 42,
):
    """(coarse_centroids, codebooks) from ONE deterministic sample:
    L2 k-means for the cells, then per-subspace k-means on the
    sample's residuals — the distribution the encoder will actually
    quantize."""
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        sample_vectors_deterministic,
    )

    X = sample_vectors_deterministic(corpus, id_col, vec_col, sample_size)
    return ivf_pq_fit(X, n_cells, m, k, n_iters, seed)


def ivf_pq_fit(
    X: "np.ndarray",
    n_cells: int,
    m: int,
    k: int,
    n_iters: int = 10,
    seed: int = 42,
):
    """The pure-numpy joint IVF+PQ training core shared by
    :func:`train_ivf_pq` and the canonical oracle twin
    (queries/pqq.py): coarse L2 cells first, then per-subspace books
    on the sample's RESIDUALS."""
    C = _kmeans_l2(X, n_cells, n_iters, seed)
    assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    R = X - C[assign]
    books = [
        _kmeans_l2(R[:, lo:hi], k, n_iters, seed).tolist()
        for lo, hi in _subspaces(X.shape[1], m)
    ]
    return C.tolist(), books


def ivf_pq_index(
    df: DataFrame,
    coarse_centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell_id, codes) — assignment and residual encoding in ONE
    Arrow pass; the output relation (int + m small ints per row) IS
    the entire search-time index."""
    m = len(codebooks)
    dim = sum(len(b[0]) for b in codebooks)
    spans = _subspaces(dim, m)
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    C = np.array(coarse_centroids, dtype=np.float64)
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("cell_id", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(batches):
        import pandas as pd

        for b in batches:
            V = np.array(list(b[vec_col]), dtype=np.float64)
            d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            cells = d2.argmin(axis=1).astype(np.int32)
            codes = argmin_codes(V - C[cells], books, spans)  # residuals
            yield pd.DataFrame(
                {
                    id_col: b[id_col],
                    "cell_id": cells,
                    "codes": list(map(list, codes)),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(encode, out_schema)


def pq_topk_batched(
    queries: Sequence[tuple],
    codes_df: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    top_k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """All queries' ADC top-k in ONE scan of the codes relation: the
    per-query LUTs (:func:`adc_lut`) ride a broadcast relation, scoring
    is the ``aggregate(zip_with(codes, lut))`` fold after a broadcast
    cross join, and the per-query top-k is the salted two-stage exact
    top-k (query_id is low-cardinality by construction — the precise
    shape a bare per-query rank window would serialize), ordered by
    (dist, id).  Output: (query_id, vec_id, adc_dist), ``top_k`` rows
    per query; equal to a numpy ADC reference, pinned in
    tests/test_pq.py."""
    from rick_and_morty_data_pipeline_project_spark.operators.topk import (
        grouped_topk_salted,
    )

    if not queries:
        raise ValueError("pq_topk_batched: queries must be non-empty")
    m = len(codebooks)
    dim = sum(len(b[0]) for b in codebooks) // m * m
    spans = _subspaces(dim, m)
    qtype = "string" if isinstance(queries[0][0], str) else "long"
    luts = local_relation(
        codes_df.sparkSession,
        [
            (qid, adc_lut(codebooks, spans, np.asarray(qv, dtype=np.float64)))
            for qid, qv in queries
        ],
        f"query_id {qtype}, lut array<array<double>>",
    )
    scored = codes_df.join(F.broadcast(luts)).select(
        "query_id",
        id_col,
        F.aggregate(
            F.zip_with(
                "codes",
                F.col("lut"),
                lambda c, row: F.element_at(row, c + F.lit(1)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("adc_dist"),
    )
    return grouped_topk_salted(
        scored, ["query_id"], "adc_dist", top_k, tiebreak=id_col
    )


def ivf_pq_topk_batched(
    queries: Sequence[tuple],
    index_df: DataFrame,
    coarse_centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    n_probe: int = 2,
    top_k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Batched IVFADC: the (query_id, cell_id, residual-LUT) relation
    broadcasts and the equi-join ON cell_id IS the probe — only rows
    in some query's probed cells are scored, in ONE scan of the index,
    then the salted two-stage per-query top-k over the residual-LUT
    fold (:func:`probe_cells`, :func:`adc_lut` of ``q − centroid``),
    ordered by (dist, id)."""
    from rick_and_morty_data_pipeline_project_spark.operators.topk import (
        grouped_topk_salted,
    )

    if not queries:
        raise ValueError("ivf_pq_topk_batched: queries must be non-empty")
    m = len(codebooks)
    dim = sum(len(b[0]) for b in codebooks) // m * m
    spans = _subspaces(dim, m)
    C = np.array(coarse_centroids, dtype=np.float64)
    qtype = "string" if isinstance(queries[0][0], str) else "long"
    rows = []
    for qid, qvec in queries:
        q = np.asarray(qvec, dtype=np.float64)
        for cell in probe_cells(C, q, n_probe):
            rows.append((qid, cell, adc_lut(codebooks, spans, q - C[cell])))
    luts = local_relation(
        index_df.sparkSession,
        rows,
        f"query_id {qtype}, cell_id int, lut array<array<double>>",
    )
    scored = index_df.join(F.broadcast(luts), "cell_id").select(
        "query_id",
        id_col,
        F.aggregate(
            F.zip_with(
                "codes",
                F.col("lut"),
                lambda c, row: F.element_at(row, c + F.lit(1)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("adc_dist"),
    )
    return grouped_topk_salted(
        scored, ["query_id"], "adc_dist", top_k, tiebreak=id_col
    )
