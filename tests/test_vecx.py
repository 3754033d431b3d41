"""Binary-quantized kNN, multi-probe LSH, and sparse JL projection —
recall/accuracy properties and plan shape (operators/binquant.py,
operators/randproj.py; driver queries in queries/vecxq.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.operators.binquant import (
    knn_binary,
    knn_lsh_multiprobe,
    sign_word_cols,
)
from rick_and_morty_data_pipeline_project_spark.operators.randproj import (
    jl_matrix,
    jl_project,
    jl_scale,
)
from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
    _hyperplanes,
    knn_bruteforce,
    knn_lsh,
)
from rick_and_morty_data_pipeline_project_spark.plans.explain_utils import (
    formatted_plan,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import t
from tests.conftest import SF_ORACLE, SF_SMALL


def _pairs(df):
    return set(
        (r["query_id"], r["neighbor_id"])
        for r in df.select("query_id", "neighbor_id").collect()
    )


def _recall(approx: set, exact: set) -> float:
    return len(approx & exact) / len(exact)


def test_sign_word_packing_known_vector(spark):
    # bits 0, 2 set in word 0 (elements +,-,+ then 29 negatives);
    # bits 0, 31 set in word 1
    vec = [1.0, -1.0, 0.5] + [-1.0] * 29 + [2.0] + [-1.0] * 30 + [0.0]
    assert len(vec) == 64
    df = spark.createDataFrame([(vec,)], "v array<float>")
    w0, w1 = sign_word_cols(F.col("v"), 64)
    row = df.select(w0.alias("w0"), w1.alias("w1")).collect()[0]
    assert row["w0"] == (1 << 0) + (1 << 2)
    # element 63 is 0.0 → >= 0 → bit 31 of word 1 set
    assert row["w1"] == (1 << 0) + (1 << 31)


def test_binary_knn_recall_floor(spark):
    e = t(spark, SF_ORACLE, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = _pairs(knn_bruteforce(q, e, k=5))
    approx = _pairs(knn_binary(q, e, dim=64, k=5, shortlist=50))
    # measured 0.68 on the sf0.01 corpus (500 vectors, 10% shortlist);
    # floor leaves headroom for corpus regeneration, not for regressions
    assert _recall(approx, exact) >= 0.5


def test_binary_knn_self_duplicate_is_hamming_zero_top1(spark):
    # a corpus clone of the query vector has Hamming 0 and cosine 1 —
    # it must survive the shortlist and rank first
    e = t(spark, SF_ORACLE, "embeddings")
    base = e.filter(F.col("vec_id") == 3).select("embedding").collect()[0][0]
    clone = spark.createDataFrame([(9999, base)], "vec_id long, embedding array<float>")
    corpus = e.select("vec_id", "embedding").unionByName(clone)
    q = e.filter(F.col("vec_id") == 3)
    top = (
        knn_binary(q, corpus, dim=64, k=5, shortlist=50)
        .filter(F.col("rank") == 1)
        .collect()[0]
    )
    assert top["neighbor_id"] == 9999
    assert top["hamming"] == 0
    assert abs(top["cosine"] - 1.0) < 1e-6


def test_multiprobe_beats_single_probe(spark):
    e = t(spark, SF_ORACLE, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = _pairs(knn_bruteforce(q, e, k=5))
    planes = _hyperplanes(64, 6, 42)
    single = _recall(
        _pairs(knn_lsh(q, e, k=5, dim=64, n_planes=6, n_tables=1)), exact
    )
    multi = _recall(_pairs(knn_lsh_multiprobe(q, e, planes, k=5)), exact)
    # measured 0.34 vs 0.08 at sf0.01 — probing Hamming-1 buckets of the
    # SAME table must strictly add recall (it only adds candidates)
    assert multi > single
    assert multi >= 0.2


def test_multiprobe_pairs_structurally_unique(spark):
    # one corpus bucket × pairwise-distinct probe strings ⇒ no
    # duplicate (query, neighbor) candidates, hence no dedup needed
    e = t(spark, SF_ORACLE, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    out = knn_lsh_multiprobe(q, e, _hyperplanes(64, 6, 42), k=5)
    n = out.count()
    assert out.select("query_id", "neighbor_id").distinct().count() == n
    plan = formatted_plan(out)
    assert "dropDuplicates" not in plan


def test_binary_candidate_stage_is_integer_only(spark):
    # the Hamming stage must run on packed words (xor+popcount in
    # codegen), never on the float arrays
    e = t(spark, SF_ORACLE, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    plan = formatted_plan(knn_binary(q, e, dim=64, k=5, shortlist=50))
    assert "bit_count" in plan
    # queries broadcast against the corpus — the corpus never shuffles
    # in the candidate stage
    assert "BroadcastNestedLoopJoin" in plan


def test_ivf_binary_recall_floor_and_cost_order(spark):
    # the composed index loses recall ONLY at its two documented dials
    # (cells probed, bits per code): measured 0.6 vs the float in-cell
    # IVF's 0.8 and exact 1.0 at sf0.01 — floor well under both
    from rick_and_morty_data_pipeline_project_spark.operators.binquant import (
        knn_ivf_binary,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        knn_ivf,
    )

    e = t(spark, SF_ORACLE, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = _pairs(knn_bruteforce(q, e, k=5))
    ivf = _recall(_pairs(knn_ivf(q, e, k=5, n_cells=8, n_probe=2)), exact)
    ivfb = _recall(
        _pairs(
            knn_ivf_binary(q, e, k=5, n_cells=8, n_probe=2, shortlist=30)
        ),
        exact,
    )
    assert ivfb >= 0.4
    # the binary in-cell scan can only discard what the float scan
    # keeps — never the other way around
    assert ivfb <= ivf + 1e-9


def test_gemm_graph_matches_bruteforce_subset(spark):
    # the all-pairs graph restricted to the 10 standard query vectors
    # must equal the fold-based exact kNN, pair for pair, cosine for
    # cosine (both round to 6 before ranking)
    from rick_and_morty_data_pipeline_project_spark.operators.gemmknn import (
        knn_graph_gemm,
    )

    e = t(spark, SF_ORACLE, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"]): (r["cosine"], r["rank"])
        for r in knn_bruteforce(q, e, k=5).collect()
    }
    graph = {
        (r["query_id"], r["neighbor_id"]): (r["cosine"], r["rank"])
        for r in knn_graph_gemm(e, k=5)
        .filter(F.col("query_id") < 10)
        .collect()
    }
    assert graph == exact


def test_gemm_graph_rounding_margin():
    # parity between the GEMM engine path and the fold oracle holds
    # because no unrounded score sits near a 1e-6 rounding boundary
    # within float noise: GEMM-vs-fold divergence is bounded by
    # ~dim·eps ≈ 1.4e-14 for unit vectors, and the measured minimum
    # boundary distance is 1.5e-13 / 1.6e-12 / 1.1e-13 score units at
    # sf0.001/0.01/0.1 — ≥ 8× the noise bound everywhere, 100× at the
    # driver-compare SF.  Pin > 2e-14 so a testdata regen that lands a
    # score ON a boundary fails loudly here, not as a silent hash flip.
    import numpy as np
    import pyarrow.parquet as pq

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        tbl = pq.read_table(f"/root/testdata/{sf}/embeddings.parquet")
        X = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        worst = 1.0
        for lo in range(0, len(X), 1000):
            sims = X[lo : lo + 1000] @ X.T
            frac = np.abs(np.modf(sims * 1e6)[0])
            margin = np.abs(frac - 0.5).min()
            worst = min(worst, float(margin))
        assert worst * 1e-6 > 2e-14, (sf, worst)


def test_gemm_graph_cap_guard(spark):
    from rick_and_morty_data_pipeline_project_spark.operators.gemmknn import (
        knn_graph_gemm,
    )

    e = t(spark, SF_ORACLE, "embeddings")
    with pytest.raises(ValueError, match="broadcast cap"):
        knn_graph_gemm(e, k=5, max_broadcast_rows=10)


def test_recall_matrix_consistency(spark):
    # the dashboard must agree with the standalone operators it wraps:
    # per-variant mean recall@5 equals the independently measured
    # values, zero-hit queries included as rows (not dropped)
    from rick_and_morty_data_pipeline_project_spark.queries.vecxq import (
        knn_recall_matrix,
    )

    rows = knn_recall_matrix(spark, SF_ORACLE).collect()
    by_variant: dict[str, list[float]] = {}
    ci: dict[str, tuple] = {}
    for r in rows:
        by_variant.setdefault(r["variant"], []).append(r["recall"])
        ci[r["variant"]] = (r["boot_lo"], r["mean_recall"], r["boot_hi"])
    assert set(by_variant) == {
        "lsh", "lsh_multiprobe", "ivf", "binary", "ivf_binary", "sq8"
    }
    assert all(len(v) == 10 for v in by_variant.values())
    mean = {k: sum(v) / len(v) for k, v in by_variant.items()}
    # structural: the binary in-cell scan cannot beat the float in-cell
    # scan over the same probed cells
    assert mean["ivf_binary"] <= mean["ivf"] + 1e-9
    # measured orderings at sf0.01 (0.80/0.68/0.60/0.34/0.12) with
    # slack for corpus regeneration
    assert mean["lsh_multiprobe"] > mean["lsh"]
    assert mean["ivf"] >= 0.6 and mean["binary"] >= 0.5
    # the CI columns must bracket the point estimate, agree with the
    # independently computed per-query mean, and the bootstrap of a
    # non-constant sample must have nonzero width
    for k, vals in by_variant.items():
        lo, m, hi = ci[k]
        assert lo <= m + 1e-9 and m <= hi + 1e-9, (k, ci[k])
        assert abs(m - sum(vals) / len(vals)) < 1e-6, (k, ci[k])
        if max(vals) > min(vals):
            assert hi - lo > 0, (k, ci[k])
    # SQ8 is the gentlest tier: 8-bit codes must not lose more recall
    # than the 1-bit sign codes
    assert mean["sq8"] >= mean["binary"] - 1e-9


def test_jl_norm_ratio_concentration(spark):
    e = t(spark, SF_ORACLE, "embeddings")
    out = jl_project(e, jl_matrix(64, 16, 7))
    ratios = [
        r["norm_ratio"]
        for r in out.select("vec_id", "norm_ratio").distinct().collect()
    ]
    assert len(ratios) == e.count()
    # JL distortion at 64→16: measured spread well inside [0.4, 1.6];
    # the mean must sit near 1 (unbiasedness of the Achlioptas scheme)
    assert all(0.4 <= x <= 1.6 for x in ratios)
    mean = sum(ratios) / len(ratios)
    assert 0.85 <= mean <= 1.15


def test_jl_projection_linearity(spark):
    m = jl_matrix(64, 16, 7)
    base = [float(i % 7) - 3.0 for i in range(64)]
    doubled = [2.0 * x for x in base]
    df = spark.createDataFrame(
        [(1, base), (2, doubled)], "vec_id long, embedding array<float>"
    )
    rows = jl_project(df, m).collect()
    p1 = {r["pos"]: r["proj_value"] for r in rows if r["vec_id"] == 1}
    p2 = {r["pos"]: r["proj_value"] for r in rows if r["vec_id"] == 2}
    assert set(p1) == set(range(16))
    for pos in p1:
        assert abs(p2[pos] - 2.0 * p1[pos]) < 5e-6
    # norm ratio is scale-invariant
    r1 = {r["norm_ratio"] for r in rows if r["vec_id"] == 1}
    r2 = {r["norm_ratio"] for r in rows if r["vec_id"] == 2}
    assert r1 == r2


def test_outlier_scores_flag_planted_outlier(spark):
    # a tight label cluster plus one anti-aligned vector: the plant
    # must be the label's minimum-z row and carry the outlier flag
    import rick_and_morty_data_pipeline_project_spark.queries.vecxq as vecxq

    base = [1.0] * 32 + [0.0] * 32
    rows = []
    for i in range(20):
        v = list(base)
        v[i % 32] = 0.9  # slight per-vector jitter, same direction
        rows.append((i, v, 0))
    rows.append((99, [-1.0] * 32 + [0.0] * 32, 0))  # anti-aligned plant
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    orig = vecxq.t
    try:
        vecxq.t = lambda s, sf, name: df  # noqa: ARG005
        got = {
            r["vec_id"]: r
            for r in vecxq.embedding_outlier_scores(spark, "x").collect()
        }
    finally:
        vecxq.t = orig
    assert len(got) == 21
    plant = got[99]
    assert plant["is_outlier"]
    assert plant["z_score"] == min(r["z_score"] for r in got.values())
    assert sum(1 for r in got.values() if r["is_outlier"]) == 1


def test_jl_matrix_is_sparse_and_seeded(spark):
    m = jl_matrix(64, 16, 7)
    assert m == jl_matrix(64, 16, 7)  # deterministic
    flat = [x for row in m for x in row]
    assert set(flat) <= {-1.0, 0.0, 1.0}
    zero_frac = flat.count(0.0) / len(flat)
    assert 0.55 <= zero_frac <= 0.78  # E = 2/3
    assert abs(jl_scale(16) - (3.0 / 16) ** 0.5) < 1e-12


def test_sq8_codes_bytes_and_roundtrip_accuracy(spark):
    # codes land in [0, 255]; the affine roundtrip reconstructs unit
    # vectors to well under one quantization step per dimension
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        _normalized,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.sq import (
        sq8_code_col,
        sq8_decode_col,
        sq8_train_stats,
    )

    e = t(spark, SF_ORACLE, "embeddings")
    nc = _normalized(e, "vec_id", "embedding", "vec_id", "_nv")
    stats = sq8_train_stats(nc, "_nv", 64)
    coded = nc.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.col("_nv"),
        sq8_code_col(F.col("_nv"), F.col("_mins"), F.col("_maxs")).alias(
            "_code"
        ),
        "_mins",
        "_maxs",
    )
    audit = coded.select(
        F.array_min("_code").alias("cmin"),
        F.array_max("_code").alias("cmax"),
        F.aggregate(
            F.zip_with(
                "_nv",
                sq8_decode_col(F.col("_code"), F.col("_mins"), F.col("_maxs")),
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sq_err"),
        F.zip_with(
            "_maxs", "_mins", lambda mx, mn: (mx - mn) / 255.0
        ).alias("_steps"),
    ).agg(
        F.min("cmin").alias("lo"),
        F.max("cmax").alias("hi"),
        F.max("sq_err").alias("worst_sq_err"),
        F.max(F.aggregate(
            "_steps", F.lit(0.0), lambda acc, s: acc + s * s
        )).alias("step_budget"),
    ).collect()[0]
    assert audit["lo"] >= 0 and audit["hi"] <= 255
    # worst per-vector squared error ≤ Σ (step/2)² over dims
    assert audit["worst_sq_err"] <= audit["step_budget"] / 4 + 1e-12


def test_sq8_recall_beats_binary_and_matches_exact_top1(spark):
    from rick_and_morty_data_pipeline_project_spark.operators.sq import knn_sq8

    e = t(spark, SF_ORACLE, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = _pairs(knn_bruteforce(q, e, k=5))
    sq8 = knn_sq8(q, e, dim=64, k=5, shortlist=50)
    approx = _pairs(sq8)
    binary = _pairs(knn_binary(q, e, dim=64, k=5, shortlist=50))
    assert _recall(approx, exact) >= _recall(binary, exact)
    # 8-bit quantization is gentle: measured 1.0 at sf0.01; floor at
    # 0.9 leaves room for corpus regeneration only
    assert _recall(approx, exact) >= 0.9
    # rerank is exact: every returned cosine equals the bruteforce
    # cosine for the same pair
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in knn_bruteforce(q, e, k=5).collect()
    }
    for r in sq8.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in bf:
            assert abs(r["cosine"] - bf[key]) < 1e-12


def test_hubness_audit_identities(spark):
    # histogram masses and moments must satisfy the exact identities:
    # Σ n_vectors = n_total, Σ k_occ·n_vectors = n·k (every query
    # emits exactly k graph edges), zero_frac consistent with the 0
    # bucket
    import rick_and_morty_data_pipeline_project_spark.queries.vecxq as vecxq

    rows = vecxq.knn_hubness_audit(spark, SF_ORACLE).collect()
    n_total = rows[0]["n_total"]
    assert sum(r["n_vectors"] for r in rows) == n_total
    assert sum(r["k_occurrences"] * r["n_vectors"] for r in rows) == n_total * 5
    zero_bucket = next(
        (r["n_vectors"] for r in rows if r["k_occurrences"] == 0), 0
    )
    assert abs(rows[0]["zero_frac"] - round(zero_bucket / n_total, 9)) < 1e-12
    assert rows[0]["max_occ"] == max(r["k_occurrences"] for r in rows)


def test_hubness_skew_matches_numpy(spark):
    # the integer-power-sum g1 must equal numpy's population skewness
    # over the reconstructed count multiset
    import numpy as np

    import rick_and_morty_data_pipeline_project_spark.queries.vecxq as vecxq

    rows = vecxq.knn_hubness_audit(spark, SF_ORACLE).collect()
    counts = np.repeat(
        [r["k_occurrences"] for r in rows],
        [r["n_vectors"] for r in rows],
    ).astype(float)
    m2 = ((counts - counts.mean()) ** 2).mean()
    m3 = ((counts - counts.mean()) ** 3).mean()
    assert abs(rows[0]["skew_g1"] - m3 / m2**1.5) < 1e-6


def test_ndcg_literal_tables_and_bounds(spark):
    import math as _m

    import rick_and_morty_data_pipeline_project_spark.queries.vecxq as vecxq

    # table spot checks against the direct formula
    w = [1.0 / _m.log2(r + 1) for r in range(1, 6)]
    assert vecxq._NDCG_DCG[0b00001] == w[0]
    assert vecxq._NDCG_DCG[0b10000] == w[4]
    assert abs(vecxq._NDCG_DCG[0b10101] - (w[0] + w[2] + w[4])) < 1e-15
    assert vecxq._NDCG_NDCG[0b11111] == 1.0
    assert vecxq._NDCG_NDCG[0] == 0.0
    # a prefix-packed pattern is ideal → ndcg exactly 1
    assert vecxq._NDCG_NDCG[0b00111] == 1.0
    # shifting relevance to worse ranks strictly lowers ndcg
    assert vecxq._NDCG_NDCG[0b00011] > vecxq._NDCG_NDCG[0b00110]

    rows = vecxq.knn_ndcg_label_eval(spark, SF_ORACLE).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0.0 <= r["ndcg"] <= 1.0 + 1e-15
        assert r["dcg"] <= r["idcg"] + 1e-15
        assert bin(r["rel_pattern"]).count("1") == r["n_relevant"]
        if r["n_relevant"]:
            assert abs(
                r["ndcg"] - r["dcg"] / r["idcg"]
            ) < 1e-12
        else:
            assert r["ndcg"] == 0.0


# ---------------------------------------------------------------------------
# Recall-vs-cost Pareto frontier (r12): the on_frontier flag must obey
# the strict-dominance rule, independently replayed in Python over the
# query's own output — catches any drift between the Spark dominance
# join, the SQL NOT EXISTS, and the intended definition.


def test_frontier_pareto_flag_matches_python_replay(spark):
    from rick_and_morty_data_pipeline_project_spark.queries.vecxq import (
        knn_frontier_recall_cost,
    )

    rows = knn_frontier_recall_cost(spark, SF_ORACLE).collect()
    assert len(rows) == 6
    pts = [
        (r["variant"], r["mean_recall"], r["cost_bytes"], r["on_frontier"])
        for r in rows
    ]
    for v, rec, cost, flag in pts:
        dominated = any(
            (orec >= rec and ocost < cost)
            or (orec > rec and ocost <= cost)
            for ov, orec, ocost, _ in pts
            if ov != v
        )
        assert flag == (not dominated), v
    # structural invariants: the max-recall variant and the min-cost
    # variant are always on the frontier
    by_recall = max(pts, key=lambda p: (p[1], -p[2]))
    by_cost = min(pts, key=lambda p: (p[2], -p[1]))
    assert by_recall[3] and by_cost[3]
    # ivf and ivf_binary share the coarse quantizer -> same cand_pairs
    cp = {r["variant"]: r["cand_pairs"] for r in rows}
    assert cp["ivf"] == cp["ivf_binary"]
    # full-scan tiers touch every non-self corpus vector
    assert cp["binary"] == cp["sq8"]


def test_ivf_probe_frontier_structure(spark):
    """The probe-sweep curve's structural invariants: recall and
    candidate count are monotone non-decreasing in n_probe; probing
    ALL cells is exhaustive search, so recall@5 is exactly 1.0 at
    n_probe = n_cells; and the n_probe=2 row reproduces the standing
    knn_cosine_ivf configuration's candidate count (shared
    quantizer, same probe rule)."""
    from rick_and_morty_data_pipeline_project_spark.queries.vecxq import (
        knn_frontier_recall_cost,
        knn_ivf_probe_frontier,
    )

    rows = sorted(
        knn_ivf_probe_frontier(spark, SF_ORACLE).collect(),
        key=lambda r: r["n_probe"],
    )
    assert [r["n_probe"] for r in rows] == list(range(1, 9))
    recalls = [r["mean_recall"] for r in rows]
    cands = [r["cand_pairs"] for r in rows]
    assert recalls == sorted(recalls)
    assert cands == sorted(cands)
    assert recalls[-1] == 1.0  # all cells probed == exhaustive
    assert abs(sum(r["marginal_recall"] for r in rows) - recalls[-1]) < 1e-12
    # cross-check against the tier frontier's ivf candidate count
    tier = {
        r["variant"]: r["cand_pairs"]
        for r in knn_frontier_recall_cost(spark, SF_ORACLE).collect()
    }
    assert cands[1] == tier["ivf"]


class _ArmFailed(RuntimeError):
    pass


_ARM_BUILDERS = {
    "knn_recall_matrix": "vecxq",
    "knn_frontier_recall_cost": "vecxq",
    "curation_run_card": "runcardq",
}


@pytest.mark.parametrize("builder", list(_ARM_BUILDERS))
def test_failing_arm_surfaces_and_shuts_pool_down(spark, monkeypatch, builder):
    # one variant builder raises inside the concurrent arm threads (for
    # the run card, two ``concurrently`` levels down): the caller must
    # see that exception, and every worker thread must be gone once it
    # does
    import importlib
    import threading

    from rick_and_morty_data_pipeline_project_spark.operators import sq

    queries = importlib.import_module(
        f"rick_and_morty_data_pipeline_project_spark.queries.{_ARM_BUILDERS[builder]}"
    )

    def boom(*args, **kwargs):
        raise _ArmFailed("sq8 arm")

    monkeypatch.setattr(sq, "knn_sq8", boom)
    before = set(threading.enumerate())
    with pytest.raises(_ArmFailed, match="sq8 arm"):
        getattr(queries, builder)(spark, SF_SMALL)
    left = [
        th.name
        for th in threading.enumerate()
        if th not in before and th.name.startswith("ThreadPoolExecutor")
    ]
    assert left == []
