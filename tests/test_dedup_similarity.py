"""Behavioral tests for dedup + similarity on crafted fixtures: the
sf corpus has no real near-duplicates, so recall properties are
exercised on synthetic ones here."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
    exact_dedup_stats,
    minhash_lsh_pairs,
    simhash16,
    simhash64,
)
from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
    knn_bruteforce,
    knn_lsh,
)


def _near_dup_corpus(spark):
    """60 docs: 20 bases, each with 2 near-identical variants (one token
    changed) — near-dups share ~90% of shingles."""
    rng = random.Random(7)
    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    doc_id = 0
    for _ in range(20):
        base = [rng.choice(vocab) for _ in range(30)]
        for variant in range(3):
            toks = list(base)
            if variant:
                toks[rng.randrange(30)] = rng.choice(vocab)
            rows.append((doc_id, " ".join(toks)))
            doc_id += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a  b c "), (3, "A b C"), (4, "x y z")],
        "doc_id long, text string",
    )
    stats = {
        r["keeper_id"]: r["dup_count"]
        for r in exact_dedup_stats(df, "doc_id", "text").collect()
    }
    # whitespace-collapse + lowercase ⇒ docs 1,2,3 are one group
    assert stats == {1: 3, 4: 1}


def test_minhash_lsh_recall(spark):
    df = _near_dup_corpus(spark)
    pairs = minhash_lsh_pairs(
        df, "doc_id", "text", num_hashes=8, band_size=2
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    # every (base, variant) pair within a triple is a true near-dup;
    # banded LSH with 4 bands should recover most of them
    true_pairs = set()
    for g in range(20):
        ids = [3 * g, 3 * g + 1, 3 * g + 2]
        true_pairs.update(
            (a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
        )
    recall = len(found & true_pairs) / len(true_pairs)
    assert recall >= 0.5, f"LSH recall too low: {recall}"
    # jaccard estimates for true near-dups should be high
    ests = [r["jaccard_est"] for r in pairs if (r["id_a"], r["id_b"]) in true_pairs]
    assert ests and sum(ests) / len(ests) >= 0.5


def test_simhash_near_dups_close(spark):
    df = _near_dup_corpus(spark)
    sh = {r["doc_id"]: r["simhash"] for r in simhash16(df, "doc_id", "text").collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    near = [hamming(sh[3 * g], sh[3 * g + 1]) for g in range(20)]
    rng = random.Random(3)
    far = [
        hamming(sh[rng.randrange(60)], sh[rng.randrange(60)])
        for _ in range(50)
    ]
    assert sum(near) / len(near) < sum(far) / len(far), (near, far)


def test_simhash64_separates_near_from_far(spark):
    df = _near_dup_corpus(spark)
    rows = {
        r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
        for r in simhash64(df, "doc_id", "text").collect()
    }
    # both halves hold exactly 32 bits
    assert all(
        0 <= hi < 2**32 and 0 <= lo < 2**32 for hi, lo in rows.values()
    )

    def hamming(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    near = [hamming(rows[3 * g], rows[3 * g + 1]) for g in range(20)]
    rng = random.Random(3)
    far = []
    while len(far) < 50:
        i, j = rng.randrange(60), rng.randrange(60)
        if i // 3 != j // 3:
            far.append(hamming(rows[i], rows[j]))
    # 64 bits: unrelated docs sit near hamming≈32, near-dups well below
    assert sum(near) / len(near) < sum(far) / len(far) - 5, (near, far)
    # identical text ⇒ identical fingerprint
    dup = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], "doc_id long, text string"
    )
    fps = {
        r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
        for r in simhash64(dup, "doc_id", "text").collect()
    }
    assert fps[1] == fps[2]


def test_knn_lsh_recall_vs_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = knn_bruteforce(queries, emb, k=10).collect()
    approx = knn_lsh(queries, emb, k=10, dim=64, n_planes=4).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    # 4 planes ⇒ 16 buckets over 500 vecs; partial recall is expected,
    # zero recall would mean the bucketing is broken
    assert sum(recalls) / len(recalls) > 0.15, recalls


def test_knn_ivf_recall_vs_bruteforce(spark):
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import knn_ivf

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = knn_bruteforce(queries, emb, k=10).collect()
    approx = knn_ivf(queries, emb, k=10, n_cells=8, n_probe=4).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    # probing half the cells should recover a solid share of true
    # neighbors; zero-ish recall would mean assignment is broken
    assert sum(recalls) / len(recalls) > 0.3, recalls


def test_knn_ivf_kmeans_recall_vs_bruteforce(spark):
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        knn_ivf,
        train_kmeans_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    cents = train_kmeans_centroids(emb, n_cells=8, sample_size=512)
    # seeded training is fully deterministic — a retrain is bit-equal
    assert cents == train_kmeans_centroids(emb, n_cells=8, sample_size=512)
    exact = knn_bruteforce(queries, emb, k=10).collect()
    approx = knn_ivf(queries, emb, k=10, n_probe=4, centroids=cents).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) > 0.3, recalls


def test_knn_bruteforce_self_consistency(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0)
    top = knn_bruteforce(q, emb, k=3).collect()
    assert len(top) == 3
    assert [r["rank"] for r in top] == [1, 2, 3]
    assert top[0]["cosine"] >= top[1]["cosine"] >= top[2]["cosine"]
    assert all(r["neighbor_id"] != 0 for r in top)


def test_connected_components_known_graph(spark):
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        connected_components,
    )

    # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (star on 20)
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_converges(spark):
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        connected_components,
    )

    # a 12-node chain forces multiple propagation rounds (diameter 11;
    # min-label needs ~diameter rounds worst-case)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    got = connected_components(pairs).collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert len(got) == 13


def test_connected_components_matches_union_find_property(spark):
    """Property test: on random graphs, the distributed min-label
    propagation equals a driver-side union-find ground truth — plus the
    edge cases an ingest micro-batch hands it: no edges at all (round 1
    is empty) and a single edge (converged after round 1)."""
    import random as _random

    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        connected_components,
    )

    graphs = [(2, []), (9, [(3, 8)])]
    for seed in range(5):
        rng = _random.Random(seed)
        n_nodes = rng.randrange(5, 40)
        graphs.append((n_nodes, sorted(
            {
                tuple(sorted(rng.sample(range(n_nodes), 2)))
                for _ in range(rng.randrange(1, 60))
            }
        )))
    for n_nodes, edges in graphs:
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        want = {v: find(v) for v in touched}
        got = {
            r["node"]: r["cluster_id"]
            for r in connected_components(
                spark.createDataFrame(edges, "id_a long, id_b long")
            ).collect()
        }
        assert got == want, edges


def _shaped_edges(seed: int) -> list[tuple[int, int]]:
    """A seeded edge list made of a chain, a star, a cycle, isolated
    nodes (self loops) and a few random edges joining them, each edge
    in a random direction and the list in random order."""
    rng = random.Random(seed)
    base = rng.randrange(0, 50)
    chain = list(range(base, base + rng.randrange(2, 9)))
    star = list(range(100, 100 + rng.randrange(2, 7)))
    cycle = list(range(200, 200 + rng.randrange(3, 8)))
    lone = rng.sample(range(300, 320), rng.randrange(1, 4))
    edges = list(zip(chain, chain[1:]))
    edges += [(star[0], s) for s in star[1:]]
    edges += list(zip(cycle, cycle[1:] + cycle[:1]))
    edges += [(v, v) for v in lone]
    nodes = chain + star + cycle + lone
    edges += [tuple(rng.sample(nodes, 2)) for _ in range(rng.randrange(0, 3))]
    edges = [e if rng.random() < 0.5 else e[::-1] for e in edges]
    rng.shuffle(edges)
    return edges


def test_min_id_roots_matches_connected_components(spark):
    """The near-dup sink's driver union-find labels every node exactly
    as the distributed ``connected_components`` does (least node of
    its component), on seeded chains, stars, cycles, isolated nodes and
    an empty edge list."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        connected_components,
    )
    from rick_and_morty_data_pipeline_project_spark.streaming.dedup import (
        _min_id_roots,
    )

    graphs = [[], [(7, 3)], [(5, 4), (4, 3), (3, 2), (2, 1)]]
    graphs += [_shaped_edges(seed) for seed in range(4)]
    for edges in graphs:
        want = {
            r["node"]: r["cluster_id"]
            for r in connected_components(
                spark.createDataFrame(edges, "id_a long, id_b long")
            ).collect()
        }
        assert _min_id_roots(edges) == want, edges


def test_connected_components_runs_no_count(spark, monkeypatch):
    """Convergence rides each round's checkpoint job (an ``observe``
    metric): the operator never spends a separate ``count()`` action."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        connected_components,
    )

    # the concrete class: Spark 4's pyspark.sql.classic DataFrame
    # overrides count, so patching the pyspark.sql.DataFrame base misses it
    df_cls = type(spark.range(1))

    def no_count(self):
        raise AssertionError("connected_components called count()")

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)] + [(10, 11)], "id_a long, id_b long"
    )
    monkeypatch.setattr(df_cls, "count", no_count)
    got = {r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == {**{i: 0 for i in range(7)}, 10: 10, 11: 10}


def test_knn_quantized_recall_vs_exact(spark):
    """int8-scored brute force must track the exact ranking closely —
    quantizing unit vectors perturbs each cosine by ≲1e-2."""
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        knn_bruteforce_quantized,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = knn_bruteforce(queries, emb, k=10).collect()
    quant = knn_bruteforce_quantized(queries, emb, k=10).collect()
    exact_sets, quant_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in quant:
        quant_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & quant_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) > 0.8, recalls


def test_incremental_prefilter_equals_plain_anti_join(spark):
    """The Bloom-style prefix pre-filter must be a pure plan rewrite:
    identical survivors to the plain anti-join, including batch rows in
    unoccupied buckets (bypass path) and occupied-bucket non-dups
    (false bucket hits resolved by the exact join)."""
    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
        fingerprint_col,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        incremental_dedup_prefiltered,
    )

    texts = [(i, f"doc number {i} body") for i in range(40)]
    # batch: ids 100.. with half exact-dup texts of existing, half new
    batch_rows = [(100 + i, f"doc number {i} body") for i in range(0, 20, 2)]
    batch_rows += [(200 + i, f"fresh text {i}") for i in range(10)]
    existing = spark.createDataFrame(texts, ["doc_id", "text"]).select(
        "doc_id", fingerprint_col(F.col("text")).alias("fp")
    )
    batch = spark.createDataFrame(
        batch_rows, ["doc_id", "text"]
    ).select("doc_id", fingerprint_col(F.col("text")).alias("fp"))

    plain = set(
        r["doc_id"]
        for r in batch.join(
            existing.select("fp"), "fp", "left_anti"
        ).collect()
    )
    got = set(
        r["doc_id"]
        for r in incremental_dedup_prefiltered(
            batch, existing, "fp"
        ).collect()
    )
    assert got == plain
    assert got == {200 + i for i in range(10)}

    # saturated pre-filter (prefix_len=0 -> single always-occupied
    # bucket) degrades to the plain anti-join, not to wrong results
    got_sat = set(
        r["doc_id"]
        for r in incremental_dedup_prefiltered(
            batch, existing, "fp", prefix_len=0
        ).collect()
    )
    assert got_sat == plain


def test_incremental_bloom_equals_plain_anti_join(spark):
    """The k-hash Bloom pre-filter is a pure plan rewrite: identical
    survivors to the plain anti-join — unset-bit bypass rows, all-bits
    false positives resolved by the exact join, and true dups dropped.
    Also checked at a deliberately tiny bitmap (m=2^8) where false
    positives are common, and saturated (every word set) where the
    filter degrades gracefully to the plain join."""
    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
        fingerprint_col,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        incremental_dedup_bloom,
    )

    texts = [(i, f"doc number {i} body") for i in range(40)]
    batch_rows = [(100 + i, f"doc number {i} body") for i in range(0, 20, 2)]
    batch_rows += [(200 + i, f"fresh text {i}") for i in range(10)]
    batch_rows.append((999, None))  # NULL fp: anti-join KEEPS it
    existing = spark.createDataFrame(texts, ["doc_id", "text"]).select(
        "doc_id", fingerprint_col(F.col("text")).alias("fp")
    )
    batch = spark.createDataFrame(
        batch_rows, ["doc_id", "text"]
    ).select("doc_id", fingerprint_col(F.col("text")).alias("fp"))

    plain = set(
        r["doc_id"]
        for r in batch.join(
            existing.select("fp"), "fp", "left_anti"
        ).collect()
    )
    assert 999 in plain  # the semantics the Bloom path must preserve
    for m_log2, k, mode in (
        (16, 4, "literal"),
        (8, 2, "literal"),
        (6, 1, "literal"),
        (20, 4, "relation"),  # the constant-plan broadcast-bitmap path
        (8, 2, "relation"),   # FP-heavy tiny bitmap through the relation
        (20, 4, "auto"),      # auto picks relation above 2^18
        (20, 4, "sharded"),   # word-index equi-join, no dense bitmap
        (8, 2, "sharded"),    # FP-heavy tiny bitmap through the shards
        (43, 4, "sharded"),   # true 100 TB sizing, word keys > 2^31
    ):
        got = set(
            r["doc_id"]
            for r in incremental_dedup_bloom(
                batch, existing, "fp", m_log2=m_log2, k=k,
                bitmap_mode=mode,
            ).collect()
        )
        assert got == plain, (m_log2, k, mode, got ^ plain)


def test_incremental_bloom_relation_ceiling(spark):
    """Above MAX_RELATION_M_LOG2 the one-row dense bitmap is infeasible
    (memory linear in m): explicit relation mode raises with the
    sharded-bitmap guidance; auto switches to the sharded word-index layout instead of the plain exact
    anti-join (identical semantics by the operator's own contract) and
    leaves Bloom prefiltering to the engine's runtime filter."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
        fingerprint_col,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        MAX_RELATION_M_LOG2,
        incremental_dedup_bloom,
    )

    existing = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], ["doc_id", "text"]
    ).select("doc_id", fingerprint_col(F.col("text")).alias("fp"))
    batch = spark.createDataFrame(
        [(100, "doc 3"), (101, "brand new")], ["doc_id", "text"]
    ).select("doc_id", fingerprint_col(F.col("text")).alias("fp"))

    with _pytest.raises(ValueError, match="ceiling"):
        incremental_dedup_bloom(
            batch, existing, "fp",
            m_log2=MAX_RELATION_M_LOG2 + 1, bitmap_mode="relation",
        )

    out = incremental_dedup_bloom(
        batch, existing, "fp",
        m_log2=MAX_RELATION_M_LOG2 + 13, bitmap_mode="auto",
    )
    assert set(r["doc_id"] for r in out.collect()) == {101}
    # ...auto picked the sharded layout: no dense-bitmap or probe
    # bookkeeping columns leak into the result.
    assert not [c for c in out.columns if c.startswith("_bloom")]


def test_span_profile_flags_shared_boilerplate(spark, tmp_path):
    """Two documents sharing an 8-token boilerplate prefix (but distinct
    tails) each get exactly the one shared pure-boilerplate span flagged;
    a fully unique doc profiles 0.0."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import QUERIES

    boiler = "terms of service apply to all content here"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} alpha beta gamma delta", "en", "s", 1),
            (2, f"{boiler} epsilon zeta eta theta", "en", "s", 1),
            (3, "totally unique words one two three four five six", "en", "s", 1),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    sf_dir = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    out = {
        r["doc_id"]: r
        for r in QUERIES["dedup_span_profile"].fn(spark, sf_dir).collect()
    }
    # 12 tokens → 5 spans each; only the pure-boilerplate span is shared
    assert out[1]["n_spans"] == out[2]["n_spans"] == 5
    assert out[1]["n_dup_spans"] == out[2]["n_dup_spans"] == 1
    assert out[1]["dup_fraction"] == out[2]["dup_fraction"] == 0.2
    assert out[3]["n_dup_spans"] == 0 and out[3]["dup_fraction"] == 0.0


def test_knn_mmr_matches_python_oracle_and_diversifies(spark):
    """MMR re-rank ≡ a driver-side greedy replay over the same
    shortlist; and on a corpus with a tight cluster near the query, MMR
    at lam=0.5 must pull in at least one neighbor outside the cluster
    that plain top-k skipped."""
    import numpy as np

    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        knn_bruteforce,
        knn_mmr,
    )

    rng = np.random.default_rng(11)
    # cluster of 6 near-identical vectors near the query, plus 20 spread
    base = rng.normal(size=8)
    rows = []
    for i in range(6):
        rows.append((i + 1, (base + 0.01 * rng.normal(size=8)).tolist(), 0))
    for i in range(20):
        rows.append((100 + i, rng.normal(size=8).tolist(), 1))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, v, l in rows],
        "vec_id long, embedding array<float>, label int",
    )
    queries = spark.createDataFrame(
        [(0, [float(x) for x in base])], "vec_id long, embedding array<float>"
    )

    k, shortlist, lam = 5, 12, 0.5
    got = {
        r["mmr_rank"]: (r["neighbor_id"], r["cosine"])
        for r in knn_mmr(
            queries, corpus, k=k, shortlist=shortlist, lam=lam
        ).collect()
    }
    assert len(got) == k

    # driver-side oracle over the SAME shortlist
    top = knn_bruteforce(queries, corpus, k=shortlist).collect()
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in corpus.collect()
    }
    unit = {i: v / np.linalg.norm(v) for i, v in vecs.items()}
    cand = sorted(
        ((r["neighbor_id"], r["cosine"]) for r in top),
        key=lambda t: (-t[1], t[0]),
    )
    selected: list[int] = []
    remaining = [c[0] for c in cand]
    rel = dict(cand)
    while remaining and len(selected) < k:
        best, best_score = None, None
        for i in remaining:
            red = max(
                (float(unit[i] @ unit[j]) for j in selected), default=0.0
            )
            score = lam * rel[i] - (1 - lam) * red
            if best_score is None or score > best_score:
                best, best_score = i, score
        selected.append(best)
        remaining.remove(best)
    want = {rank + 1: nid for rank, nid in enumerate(selected)}
    assert {r: g[0] for r, g in got.items()} == want

    # diversity: plain top-5 is all-cluster; MMR must escape it
    plain5 = {
        r["neighbor_id"]
        for r in knn_bruteforce(queries, corpus, k=k).collect()
    }
    assert plain5 <= set(range(1, 7)), plain5
    assert any(g[0] >= 100 for g in got.values()), got


def test_incremental_bloom_null_fingerprint_in_corpus(spark):
    """A NULL fingerprint in the existing corpus must not crash the
    bitmap build, and the result must still equal the plain anti-join
    (which admits every batch row — NULL never equals anything)."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        incremental_dedup_bloom,
    )

    existing = spark.createDataFrame(
        [("aa11",), (None,), ("bb22",)], "fp string"
    )
    batch = spark.createDataFrame(
        [("aa11", 1), ("cc33", 2), (None, 3)], "fp string, doc_id long"
    )
    got = {
        r["doc_id"]
        for r in incremental_dedup_bloom(batch, existing, "fp").collect()
    }
    want = {
        r["doc_id"]
        for r in batch.join(existing, "fp", "left_anti").collect()
    }
    assert got == want == {2, 3}


def test_spark_xxhash64_long_matches_jvm(spark):
    """The pure-Python XXH64 twin (used by the ivf-kmeans canonical
    oracle to replay the deterministic sample ordering) is value-equal
    to Spark's xxhash64 on longs, including negatives."""
    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        spark_xxhash64_long,
    )

    import random

    rng = random.Random(5)
    vals = [0, 1, -1, 42, -42, 2**31, -(2**31), 2**62, -(2**62), 123456789]
    vals += [rng.randint(-(2**63), 2**63 - 1) for _ in range(200)]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "v long")
        .select("v", F.xxhash64(F.col("v")).alias("h"))
        .collect()
    )
    for r in rows:
        assert spark_xxhash64_long(r["v"]) == r["h"], r["v"]


def test_split_leakage_safe_property(spark):
    """No LSH candidate pair straddles two splits, the whole corpus is
    assigned exactly once, and all three splits are non-degenerate at
    sf0.001."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL
    from rick_and_morty_data_pipeline_project_spark.sources.corpus import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    out = _ALL["split_leakage_safe"].fn(spark, sf)
    docs = load_table(spark, sf, "documents")
    assert out.count() == docs.count()
    split_of = {r["doc_id"]: r["split"] for r in out.collect()}
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=8, band_size=4, shingle_k=3
    ).collect()
    assert pairs, "fixture should contain near-dup candidates"
    for r in pairs:
        assert split_of[r["id_a"]] == split_of[r["id_b"]], (
            r["id_a"], r["id_b"])
    assert len(set(split_of.values())) >= 2  # bucketing actually splits


def test_incremental_bloom_positions_use_full_bit_range(spark):
    """At m_log2 > 32 the probe positions must actually reach above
    2^32 — an 8-hex-char (32-bit) hash slice would leave the top bits
    of a large filter permanently dead (correct results, silently
    degraded FP rate).  Recomputes the operator's position formula at
    m_log2=43 over the corpus fingerprints and asserts the high range
    is populated; also pins the [6, 60] m_log2 guard."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
        fingerprint_col,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        incremental_dedup_bloom,
    )

    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        fingerprint_col(F.col("text")).alias("fp")
    )
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        _bloom_positions,
    )

    mask = (1 << 43) - 1
    pos = _bloom_positions(F.col("fp"), 1, mask)[0]
    stats = docs.select(
        F.max(pos).alias("mx"), F.min(pos).alias("mn")
    ).collect()[0]
    assert stats["mx"] > (1 << 32), stats  # high bits actually reached
    assert stats["mn"] >= 0

    batch = docs.limit(5)
    with _pytest.raises(ValueError, match=r"\[6, 60\]"):
        incremental_dedup_bloom(batch, docs, "fp", m_log2=61)
    with _pytest.raises(ValueError, match=r"\[6, 60\]"):
        incremental_dedup_bloom(batch, docs, "fp", m_log2=5)


def test_remove_boilerplate_spans_fuzz_matches_reference(spark):
    """Random corpora: the distributed span removal (segment → count →
    ordered rebuild) equals a straight Python replay — span boundaries,
    short tails, within-doc repeats, and the all-removed empty-string
    case included."""
    import random

    from rick_and_morty_data_pipeline_project_spark.queries.textq import (
        remove_boilerplate_spans,
    )

    rng = random.Random(11)
    words = ["w%d" % i for i in range(12)]
    for trial in range(5):
        docs = []
        boiler = " ".join(rng.choice(words) for _ in range(8))
        for i in range(rng.randint(3, 12)):
            toks = [rng.choice(words) for _ in range(rng.randint(1, 30))]
            text = " ".join(toks)
            if rng.random() < 0.5:  # inject the shared span at a boundary
                text = boiler + " " + text
            docs.append((i, text))

        def ref(docs, span=8, min_rep=2):
            segs = {}
            for i, t in docs:
                tk = t.split(" ")
                segs[i] = [
                    " ".join(tk[j : j + span])
                    for j in range(0, len(tk), span)
                ]
            from collections import Counter

            cnt = Counter(s for ss in segs.values() for s in ss)
            out = {}
            for i, ss in segs.items():
                kept = [s for s in ss if cnt[s] < min_rep]
                out[i] = (" ".join(kept), sum(1 for s in ss if cnt[s] >= min_rep))
            return out

        want = ref(docs)
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {
            r["doc_id"]: (r["clean_text"], r["n_removed"])
            for r in remove_boilerplate_spans(df, ["doc_id"]).collect()
        }
        assert got == want, (trial, {k: (got[k], want[k]) for k in got if got[k] != want[k]})


def test_winnowing_guarantee_and_density(spark):
    """The winnowing contract: two documents sharing a run of >= w+k-1
    (= 6) tokens select at least one COMMON (positioned-anywhere)
    fingerprint hash; and selection density is far below the
    all-shingles baseline."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL
    import tempfile, os
    import pyarrow as pa
    import pyarrow.parquet as pq

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w+k-1
    docs = [
        (0, "red green " + shared + " blue yellow purple orange"),
        (1, "one two three four " + shared + " five six"),
        (2, "completely different words everywhere all the time here"),
    ]
    with tempfile.TemporaryDirectory() as td:
        pq.write_table(
            pa.table(
                {
                    "doc_id": [d[0] for d in docs],
                    "source": ["s"] * 3,
                    "lang": ["en"] * 3,
                    "text": [d[1] for d in docs],
                }
            ),
            os.path.join(td, "documents.parquet"),
        )
        out = _ALL["text_winnowing_fingerprints"].fn(spark, td).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[0] & by_doc[1], "shared 6-token run must share a fingerprint"
    assert not (by_doc[0] & by_doc[2])
    # density: selected fingerprints well below the shingle count
    n_shingles_0 = len(docs[0][1].split()) - 2
    assert len(by_doc[0]) < n_shingles_0


def test_lsh_banding_frontier_s_curve(spark):
    """The banding sweep's structural invariants: recall is monotone
    NON-INCREASING in band_size (fewer, wider bands = stricter), false
    positives monotone non-increasing, the truth-set size identical
    across configs (it is banding-independent), and every candidate
    count bounded below by tp."""
    from rick_and_morty_data_pipeline_project_spark.queries.textq import (
        dedup_lsh_banding_frontier,
    )
    from tests.conftest import SF_ORACLE

    rows = sorted(
        dedup_lsh_banding_frontier(spark, SF_ORACLE).collect(),
        key=lambda r: r["band_size"],
    )
    assert [r["band_size"] for r in rows] == [1, 2, 4, 8]
    assert [r["n_bands"] for r in rows] == [8, 4, 2, 1]
    recalls = [r["recall"] for r in rows]
    fps = [r["fp"] for r in rows]
    assert recalls == sorted(recalls, reverse=True)
    assert fps == sorted(fps, reverse=True)
    assert len({r["n_truth"] for r in rows}) == 1
    for r in rows:
        assert r["n_candidates"] >= r["tp"]
        assert r["tp"] + r["fn"] == r["n_truth"]


def test_threshold_frontier_monotone(spark):
    """Raising the threshold can only shrink the pair set and the
    removal set (pure integer predicate, so the containment is exact),
    retention is its complement, and n_docs is constant."""
    from rick_and_morty_data_pipeline_project_spark.queries.textq import (
        dedup_threshold_frontier,
    )
    from tests.conftest import SF_ORACLE

    rows = sorted(
        dedup_threshold_frontier(spark, SF_ORACLE).collect(),
        key=lambda r: r["threshold_pct"],
    )
    assert [r["threshold_pct"] for r in rows] == [10, 30, 50, 70, 90]
    pairs = [r["n_pairs"] for r in rows]
    removed = [r["n_docs_removed"] for r in rows]
    assert pairs == sorted(pairs, reverse=True)
    assert removed == sorted(removed, reverse=True)
    assert len({r["n_docs"] for r in rows}) == 1
    for r in rows:
        assert r["n_docs_removed"] <= r["n_pairs"] or r["n_pairs"] == 0
        assert abs(
            r["retention"]
            - round(1.0 - r["n_docs_removed"] / r["n_docs"], 6)
        ) < 1e-12


def test_dup_collapse_gate_dispatch(spark):
    """The r14 profile gate (textq._dup_collapse_gate) must route a
    dup-heavy corpus to the collapse branch and a (near-)dup-free one
    to the direct branch — the ≥ 5% collapsible-mass margin means a
    stray handful of twins (the sf0.1 shape: 8 in 5000) stays on the
    cheap direct plan, while tiled corpora (every doc has 19 twins)
    collapse."""
    from rick_and_morty_data_pipeline_project_spark.queries.textq import (
        _dup_collapse_gate,
    )

    singles = spark.createDataFrame(
        [(i, f"unique text number {i} with words") for i in range(40)],
        "doc_id long, text string",
    )
    g, collapsed = _dup_collapse_gate(singles)
    assert not collapsed and g.count() == 40

    # 40 docs, 2 distinct texts — 95% collapsible
    twins = spark.createDataFrame(
        [(i, f"twin text {i % 2}") for i in range(40)],
        "doc_id long, text string",
    )
    g, collapsed = _dup_collapse_gate(twins)
    assert collapsed and g.count() == 2
    # group stats: rep id is the group min, _g the group size
    stats = {r["doc_id"]: r["_g"] for r in g.collect()}
    assert stats == {0: 20, 1: 20}

    # just-below-margin: 40 docs, 1 twin pair (2.5% < 5%) stays direct
    near = spark.createDataFrame(
        [(i, f"text {min(i, 38)}") for i in range(40)],
        "doc_id long, text string",
    )
    _, collapsed = _dup_collapse_gate(near)
    assert not collapsed


def test_threshold_frontier_group_expansion_equals_doc_level(spark, tmp_path):
    """The r13 exact-duplicate collapse inside dedup_threshold_frontier
    must reproduce the DOC-LEVEL counts exactly on a corpus where the
    expansion actually bites: exact-dup groups of varying size, cross-
    group near-dups, and an isolated doc.  Reference = the straight
    doc-level formulation (one posting join over ALL docs + per-
    threshold predicate), computed in Python from first principles.
    r14: BOTH gate branches (forced) are asserted against the same
    reference — the profile gate is a pure cost decision, so collapse
    and direct must be bit-identical even on dup-heavy input."""
    from rick_and_morty_data_pipeline_project_spark.queries.textq import (
        _DEDUP_SWEEP_PCTS,
        dedup_threshold_frontier,
    )

    base = [
        "alpha beta gamma delta epsilon zeta eta theta",           # A
        "alpha beta gamma delta epsilon zeta eta iota",            # B ~ A
        "kappa mu nu xi omicron pi rho sigma tau upsilon",         # C
        "completely different words entirely here now",            # D
    ]
    # groups: A×3 twins (ids 0,10,20), B×2 (ids 1,11), C×2 (ids 2,12),
    # D×1 (id 3) — minima interleaved so the id_b counting is exercised
    rows = []
    for rep, (txt, copies) in enumerate(
        zip(base, (3, 2, 2, 1))
    ):
        for c in range(copies):
            rows.append((rep + 10 * c, txt))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out_dir = str(tmp_path / "docs")
    df.write.parquet(out_dir + "/documents.parquet")

    per_path = [
        {
            r["threshold_pct"]: tuple(r)
            for r in dedup_threshold_frontier(
                spark, str(tmp_path / "docs"), dup_path=path
            ).collect()
        }
        for path in (None, "collapse", "direct")
    ]
    assert per_path[0] == per_path[1] == per_path[2], (
        "gate branches diverge"
    )
    got = {
        r["threshold_pct"]: r
        for r in dedup_threshold_frontier(
            spark, str(tmp_path / "docs")
        ).collect()
    }

    # ---- doc-level reference in plain Python ----
    def shingles(txt, k=3):
        toks = txt.split(" ")
        if len(toks) >= k:
            return {
                " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
            }
        return {" ".join(toks)}

    sh = {i: shingles(t_) for i, t_ in rows}
    ids = sorted(sh)
    n_docs = len(ids)
    for pct in _DEDUP_SWEEP_PCTS:
        pairs = []
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                c = len(sh[a] & sh[b])
                if c == 0:
                    continue
                na, nb = len(sh[a]), len(sh[b])
                if 100 * c >= pct * (na + nb - c):
                    pairs.append((a, b))
        removed = {b for _, b in pairs}
        r = got[pct]
        assert r["n_pairs"] == len(pairs), (pct, r["n_pairs"], len(pairs))
        assert r["n_docs_removed"] == len(removed), (
            pct, r["n_docs_removed"], len(removed)
        )
        assert r["n_docs"] == n_docs
        assert abs(
            r["retention"] - round(1.0 - len(removed) / n_docs, 6)
        ) == 0


def test_banding_frontier_group_expansion_equals_doc_level(spark, tmp_path):
    """The r13 exact-duplicate collapse inside dedup_lsh_banding_frontier
    must reproduce DOC-LEVEL confusion counts exactly: within-group doc
    pairs are truth (J = 1 ≥ 0.7) AND candidates at every banding
    (identical texts ⇒ identical signatures ⇒ every band collides), and
    cross-group pairs expand with weight g_a·g_b.  Reference = the
    doc-level formulation computed directly: signatures/bands via the
    production operator on the FULL doc table, truth via exact Jaccard
    in Python."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        minhash_signatures,
    )
    from rick_and_morty_data_pipeline_project_spark.queries.textq import (
        _BANDING_SIZES,
        dedup_lsh_banding_frontier,
    )

    base = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta iota",
        "kappa mu nu xi omicron pi rho sigma tau upsilon",
        "totally unrelated filler words occupying this line",
    ]
    rows = []
    for rep, (txt, copies) in enumerate(zip(base, (3, 2, 2, 1))):
        for c in range(copies):
            rows.append((rep + 10 * c, txt))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.parquet(str(tmp_path / "docs" / "documents.parquet"))

    per_path = [
        {
            r["band_size"]: tuple(r)
            for r in dedup_lsh_banding_frontier(
                spark, str(tmp_path / "docs"), dup_path=path
            ).collect()
        }
        for path in (None, "collapse", "direct")
    ]
    assert per_path[0] == per_path[1] == per_path[2], (
        "gate branches diverge"
    )
    got = {
        r["band_size"]: r
        for r in dedup_lsh_banding_frontier(
            spark, str(tmp_path / "docs")
        ).collect()
    }

    # doc-level reference: bands from the production signatures over
    # ALL docs (no collapse), truth from exact shingle Jaccard
    sig = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(
            df, "doc_id", "text", num_hashes=8, shingle_k=3
        ).collect()
    }

    def shingles(txt, k=3):
        toks = txt.split(" ")
        if len(toks) >= k:
            return {
                " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
            }
        return {" ".join(toks)}

    sh = {i: shingles(t_) for i, t_ in rows}
    ids = sorted(sh)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            c = len(sh[a] & sh[b])
            if c and c / (len(sh[a]) + len(sh[b]) - c) >= 0.7:
                truth.add((a, b))
    for s in _BANDING_SIZES:
        cand = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                for blk in range(8 // s):
                    if (
                        sig[a][blk * s : blk * s + s]
                        == sig[b][blk * s : blk * s + s]
                    ):
                        cand.add((a, b))
                        break
        tp = len(truth & cand)
        fn = len(truth - cand)
        fp = len(cand - truth)
        if not truth and not cand:
            assert s not in got
            continue
        r = got[s]
        assert (r["tp"], r["fn"], r["fp"]) == (tp, fn, fp), (
            s, (r["tp"], r["fn"], r["fp"]), (tp, fn, fp)
        )
        assert r["n_truth"] == tp + fn and r["n_candidates"] == tp + fp


def test_dup_factor_profile_counts(spark, tmp_path):
    """Histogram of exact-duplicate group sizes on crafted groups:
    3+2+2+1 copies of four texts ⇒ rows (3,1,3), (2,2,4), (1,1,1) with
    doc shares out of 8."""
    from rick_and_morty_data_pipeline_project_spark.queries.textq import (
        dedup_dup_factor_profile,
    )

    rows = []
    for rep, copies in enumerate((3, 2, 2, 1)):
        for c in range(copies):
            rows.append((rep + 10 * c, f"text number {rep} body"))
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "docs" / "documents.parquet")
    )
    got = {
        r["group_size"]: (r["n_groups"], r["n_docs"], r["doc_share"])
        for r in dedup_dup_factor_profile(
            spark, str(tmp_path / "docs")
        ).collect()
    }
    assert got == {
        3: (1, 3, round(3 / 8, 6)),
        2: (2, 4, round(4 / 8, 6)),
        1: (1, 1, round(1 / 8, 6)),
    }
