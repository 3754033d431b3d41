"""Optimized Product Quantization (OPQ) — a trained orthogonal
rotation in front of PQ (Ge, He, Ke, Sun: "Optimized Product
Quantization for Approximate Nearest Neighbor Search", CVPR 2013,
non-parametric solution §3.2; also Norouzi & Fleet's ck-means).

Plain PQ (operators/pq.py) quantizes fixed coordinate slices
``[0:w], [w:2w], ...`` independently.  When the data's energy is
concentrated in a few (or correlated) dimensions, those slices are
badly conditioned — some codebooks model almost nothing while others
are overloaded.  OPQ learns an orthogonal matrix R that re-balances
variance and de-correlates the subspaces, then runs ordinary PQ in
the rotated space.  Because R is orthogonal, L2 distances are
preserved (‖Rx − Rq‖ = ‖x − q‖), so search is EXACTLY the plain-PQ
ADC path over rotated queries — no new scoring operator is needed:

    R, books = opq_fit(X, m, k)          # driver-side, bounded sample
    codes    = opq_encode(df, R, books)  # one Arrow pass (rotate+argmin)
    topk     = pq_topk_batched([(qid, (q @ R)), ...], codes, books)

Training alternates the two sub-problems exactly as the paper does:
fix R → fit the m codebooks on X·R (the shared deterministic
``pq_fit_books`` core); fix the codebooks → the optimal orthogonal R
is the Procrustes solution ``R = U Vᵀ`` of ``svd(Xᵀ X̂)`` where X̂ is
the codebook reconstruction of the current rotation's codes.  All
numpy on the same ≤4096-row sample PQ already trains on — determinism
and the canonical-literal oracle pattern carry over unchanged (R is
inlined as literals next to the codebooks).

Scale: identical cost structure to PQ — training is bounded
driver-side; encode is one Arrow pass (the rotate adds one
(batch × d) @ (d × d) GEMM per Arrow batch); the search path scans m
small ints per vector.  At 10⁹ vectors nothing here grows.
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from rick_and_morty_data_pipeline_project_spark.operators.pq import (
    _subspaces,
    argmin_codes,
    pq_fit_books,
)


def _reconstruct(
    Xr: np.ndarray, books: List[List[List[float]]]
) -> np.ndarray:
    """Decode(encode(Xr)): each subspace slice replaced by its nearest
    centroid — the X̂ of the Procrustes step."""
    m = len(books)
    spans = _subspaces(Xr.shape[1], m)
    B = [np.asarray(b, dtype=np.float64) for b in books]
    codes = argmin_codes(Xr, B, spans)  # the one shared encode arithmetic
    out = np.empty_like(Xr)
    for j, (lo, hi) in enumerate(spans):
        out[:, lo:hi] = B[j][codes[:, j]]
    return out


def opq_fit(
    X: np.ndarray,
    m: int,
    k: int,
    n_outer: int = 8,
    n_iters: int = 10,
    seed: int = 42,
) -> Tuple[np.ndarray, List[List[List[float]]]]:
    """(R, books): the trained d×d orthogonal rotation and the m
    codebooks fit on X·R.  Deterministic for a given sample (seeded
    k-means init + numpy SVD).  Alternating minimization of
    ‖X·R − X̂‖² per Ge et al. §3.2 — each step cannot increase the
    objective, so quantization error is monotonically non-increasing
    across outer iterations (pinned in tests/test_opq.py)."""
    X = np.asarray(X, dtype=np.float64)
    d = X.shape[1]
    R = np.eye(d)
    books: List[List[List[float]]] = pq_fit_books(X, m, k, n_iters, seed)
    for _ in range(n_outer):
        Xhat = _reconstruct(X @ R, books)
        U, _, Vt = np.linalg.svd(X.T @ Xhat)
        R = U @ Vt
        books = pq_fit_books(X @ R, m, k, n_iters, seed)
    return R, books


def opq_encode(
    df: DataFrame,
    R: np.ndarray,
    codebooks: Sequence[Sequence[Sequence[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — ONE Arrow pass: rotate the batch
    (a single GEMM) then the same vectorized per-subspace argmin as
    ``pq_encode``.  Codes are a pure function of the vector, so an
    encode-on-arrival upsert keyed on the id composes unchanged."""
    m = len(codebooks)
    dim = sum(len(b[0]) for b in codebooks)
    spans = _subspaces(dim, m)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    Rm = np.asarray(R, dtype=np.float64)
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(batches):
        import pandas as pd

        for b in batches:
            V = np.array(list(b[vec_col]), dtype=np.float64) @ Rm
            codes = argmin_codes(V, books, spans)
            yield pd.DataFrame(
                {id_col: b[id_col], "codes": list(map(list, codes))}
            )

    return df.select(id_col, vec_col).mapInPandas(encode, out_schema)
