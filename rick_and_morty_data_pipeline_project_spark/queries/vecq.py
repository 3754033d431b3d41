"""Similarity-search query family over the embeddings table.

Brute-force kNN is the exactness baseline (full DuckDB oracle); the LSH
variant is the scale path (approximate → rows-only oracle; recall is
property-tested in tests/test_similarity.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rick_and_morty_data_pipeline_project_spark.functions.vectors import (
    cosine_sql,
    dot_col,
    dot_sql,
    norm2_col,
)
from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
    knn_bruteforce,
    knn_bruteforce_quantized,
    knn_ivf,
    knn_lsh,
    knn_mmr,
    label_centroids,
    quantize_int8,
    train_kmeans_centroids,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import Q, t


def embedding_norms(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.round(norm2_col(F.col("embedding")), 6).alias("l2_norm"),
    )


NORMS_SQL = f"""
SELECT vec_id, label, round(sqrt({dot_sql("embedding", "embedding")}), 6) AS l2_norm
FROM embeddings
"""


def knn_cosine_bruteforce(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return knn_bruteforce(queries, e, k=5)


_DOT_SELF = dot_sql("embedding", "embedding")
_NORMED_CTE = f"""normed AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE / sqrt({_DOT_SELF})) AS nv
  FROM embeddings
)"""

KNN_SQL = f"""
WITH {_NORMED_CTE},
q AS (SELECT vec_id AS query_id, nv AS qv FROM normed WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round({dot_sql("q.qv", "c.nv")}, 6) AS cosine
  FROM q, normed c
  WHERE q.query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


def knn_cosine_mmr(spark, sf_dir):
    """Diversity-aware retrieval: MMR re-rank of the exact top-20
    shortlist (operators/similarity.knn_mmr) for the first 10 query
    vectors.  Fully oracled since r5 by an UNROLLED greedy: the k=5
    sequential selection becomes 5 chained CTEs (the PageRank-unroll
    trick), each re-ranking the not-yet-selected shortlist by
    ``lam·rel − (1−lam)·max-sim-to-selected`` with the Python arm's
    exact tie-break (score desc, cosine desc, neighbor asc) and its
    exact float constants (``1.0 − 0.7`` = 0.30000000000000004, not
    0.3).  Residual float risk is the numpy-vs-SQL summation order in
    the neighbor-neighbor dots (~1e-16), orders of magnitude below
    observed selection margins — same accepted envelope as the PCA
    canonical-literal oracle.  The driver-side greedy replay and the
    diversity property test remain in tests/test_dedup_similarity.py."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return knn_mmr(queries, e, k=5, shortlist=20, lam=0.7)


def _mmr_oracle_sql(k: int = 5, shortlist: int = 20, lam: float = 0.7) -> str:
    """Unrolled-greedy DuckDB twin of :func:`knn_cosine_mmr`."""
    lam_r = repr(lam)
    one_minus_lam_r = repr(1.0 - lam)
    steps = []
    prior_names = []
    for st in range(1, k + 1):
        if not prior_names:
            steps.append(f"""sel1 AS (
  SELECT query_id, neighbor_id, cosine, 1 AS mmr_rank FROM (
    SELECT query_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY {lam_r} * cosine DESC, cosine DESC, neighbor_id ASC
           ) AS rn
    FROM cand
  ) WHERE rn = 1
)""")
        else:
            prior = " UNION ALL ".join(
                f"SELECT query_id, neighbor_id FROM {p}" for p in prior_names
            )
            steps.append(f"""prior{st} AS ({prior}),
sel{st} AS (
  SELECT query_id, neighbor_id, cosine, {st} AS mmr_rank FROM (
    SELECT c.query_id, c.neighbor_id, c.cosine,
           ROW_NUMBER() OVER (PARTITION BY c.query_id
             ORDER BY {lam_r} * c.cosine - {one_minus_lam_r} * r.red DESC,
                      c.cosine DESC, c.neighbor_id ASC
           ) AS rn
    FROM cand c
    JOIN (
      SELECT s.query_id, s.i AS neighbor_id, MAX(s.s) AS red
      FROM sims s JOIN prior{st} p
        ON s.query_id = p.query_id AND s.j = p.neighbor_id
      GROUP BY s.query_id, s.i
    ) r ON r.query_id = c.query_id AND r.neighbor_id = c.neighbor_id
    WHERE NOT EXISTS (
      SELECT 1 FROM prior{st} p
      WHERE p.query_id = c.query_id AND p.neighbor_id = c.neighbor_id
    )
  ) WHERE rn = 1
)""")
        prior_names.append(f"sel{st}")
    union = " UNION ALL ".join(f"SELECT * FROM {p}" for p in prior_names)
    return f"""
WITH {_NORMED_CTE},
q AS (SELECT vec_id AS query_id, nv AS qv FROM normed WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, c.nv,
         round({dot_sql("q.qv", "c.nv")}, 6) AS cosine
  FROM q, normed c
  WHERE q.query_id <> c.vec_id
),
cand AS (
  SELECT query_id, neighbor_id, cosine, nv FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {shortlist}
),
sims AS (
  SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
         {dot_sql("a.nv", "b.nv")} AS s
  FROM cand a JOIN cand b USING (query_id)
),
{",".join(steps)}
SELECT query_id, neighbor_id, cosine, mmr_rank FROM ({union})
"""


KNN_MMR_SQL = _mmr_oracle_sql()


def knn_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training (the dense-
    retrieval staple): for each query vector, the top-5 most-similar
    corpus vectors carrying a DIFFERENT label — maximally confusable
    non-matches, the negatives that actually teach the model.  Same
    exact-kNN plan as knn_cosine_bruteforce (broadcast queries, no
    corpus shuffle, TakeOrderedAndProject per query) with the label
    inequality fused into the pair filter, so the mining pass costs
    exactly one scoring scan.  At 10⁹ vectors swap the scoring arm for
    the IVF probe path — negatives only need to be HARD, not exact."""
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        knn_hard_negatives_bruteforce,
    )

    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return knn_hard_negatives_bruteforce(queries, e, k=5)


KNN_HARD_NEG_SQL = f"""
WITH {_NORMED_CTE},
lv AS (SELECT n.vec_id, n.nv, e.label FROM normed n JOIN embeddings e USING (vec_id)),
q AS (SELECT vec_id AS query_id, label AS qlabel, nv AS qv FROM lv WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, c.label AS neg_label,
         round({dot_sql("q.qv", "c.nv")}, 6) AS cosine
  FROM q, lv c
  WHERE q.qlabel <> c.label
),
ranked AS (
  SELECT query_id, neighbor_id, neg_label, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, neg_label, cosine, rank
FROM ranked WHERE rank <= 5
"""


def knn_cosine_lsh(spark, sf_dir):
    """Approximate kNN via random-hyperplane bucketing (rows-only oracle:
    the frozen hyperplanes are engine-side constants)."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return knn_lsh(queries, e, k=5, dim=64, n_planes=6)


def knn_cosine_ivf(spark, sf_dir):
    """IVF ANN: deterministic coarse centroids (8 lowest-id vectors),
    nearest-cell assignment, 2-probe search — fully SQL-reproducible."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return knn_ivf(queries, e, k=5, n_cells=8, n_probe=2)


_ASSIGN_SQL = f"""
  SELECT e.vec_id, e.nv, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {dot_sql("e.nv", "c.cent")} DESC, c.cell_id ASC
         ) AS r
  FROM normed e, (SELECT vec_id AS cell_id, nv AS cent
                  FROM normed ORDER BY vec_id LIMIT 8) c
"""

KNN_IVF_SQL = f"""
WITH {_NORMED_CTE},
assign AS ({_ASSIGN_SQL}),
cells AS (SELECT vec_id AS neighbor_id, nv AS cv, cell_id FROM assign WHERE r = 1),
probes AS (SELECT vec_id AS query_id, nv AS qv, cell_id FROM assign WHERE r <= 2 AND vec_id < 10),
cand AS (
  SELECT p.query_id, c.neighbor_id,
         round({dot_sql("p.qv", "c.cv")}, 6) AS cosine
  FROM probes p JOIN cells c ON p.cell_id = c.cell_id
  WHERE p.query_id <> c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM cand
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


def knn_recall_audit(spark, sf_dir):
    """Recall@5 of the IVF index vs exact brute-force, per query — the
    index-quality audit an ANN deployment runs after every rebuild
    (recall is THE accept/reject metric for approximate search).

    Fully oracled: both arms are deterministic (same tie-breaks as
    their standalone queries), so the audit is just their join.  Scale:
    audits run on a fixed query SAMPLE, so the exact arm's brute-force
    cost is |sample|·|corpus| — one corpus scan with the sample
    broadcast — while the IVF arm reuses the probe path; neither adds a
    corpus shuffle.
    """
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    exact = knn_bruteforce(queries, e, k=5).select(
        "query_id", "neighbor_id"
    )
    ivf = knn_ivf(queries, e, k=5, n_cells=8, n_probe=2).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.join(ivf, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    return base.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        (
            F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_exact")
        ).alias("recall_at_5"),
    )


KNN_RECALL_SQL = f"""
WITH {_NORMED_CTE},
q AS (SELECT vec_id AS query_id, nv AS qv FROM normed WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round({dot_sql("q.qv", "c.nv")}, 6) AS cosine
  FROM q, normed c
  WHERE q.query_id <> c.vec_id
),
exact5 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored) WHERE rank <= 5
),
assign AS ({_ASSIGN_SQL}),
cells AS (SELECT vec_id AS neighbor_id, nv AS cv, cell_id FROM assign WHERE r = 1),
probes AS (SELECT vec_id AS query_id, nv AS qv, cell_id FROM assign WHERE r <= 2 AND vec_id < 10),
cand AS (
  SELECT p.query_id, c.neighbor_id,
         round({dot_sql("p.qv", "c.cv")}, 6) AS cosine
  FROM probes p JOIN cells c ON p.cell_id = c.cell_id
  WHERE p.query_id <> c.neighbor_id
),
ivf5 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM cand) WHERE rank <= 5
),
hits AS (
  SELECT e.query_id, count(*) AS n_hits
  FROM exact5 e JOIN ivf5 i USING (query_id, neighbor_id)
  GROUP BY 1
),
base AS (SELECT query_id, count(*) AS n_exact FROM exact5 GROUP BY 1)
SELECT base.query_id,
       COALESCE(hits.n_hits, 0) AS n_hits,
       COALESCE(hits.n_hits, 0) / base.n_exact AS recall_at_5
FROM base LEFT JOIN hits USING (query_id)
"""


def knn_label_agreement(spark, sf_dir):
    """kNN label-consistency audit: for each query vector, the
    majority label among its 5 exact neighbors, vote count, and
    whether it agrees with the vector's own label — the standard
    label-noise / embedding-quality probe (disagreements are either
    mislabeled rows or bad embeddings).

    Scale: the exact-kNN arm runs on a fixed query sample (broadcast)
    per the audit discipline; the label join touches k·|sample| rows;
    the majority vote windows over ≤ k rows per query.
    """
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    nn = knn_bruteforce(queries, e, k=5).select(
        "query_id", "neighbor_id"
    )
    labels = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
    )
    votes = (
        nn.join(labels, "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    win = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("n_label")
    )
    top = (
        votes.withColumn("r", F.row_number().over(win))
        .filter(F.col("r") == 1)
        .select(
            "query_id",
            F.col("n_label").alias("majority_label"),
            "votes",
        )
    )
    own = e.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("own_label")
    )
    return top.join(own, "query_id").select(
        "query_id",
        "own_label",
        "majority_label",
        "votes",
        (F.col("majority_label") == F.col("own_label"))
        .cast("int")
        .alias("agrees"),
    )


KNN_LABEL_AGREEMENT_SQL = f"""
WITH {_NORMED_CTE},
q AS (SELECT vec_id AS query_id, nv AS qv FROM normed WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round({dot_sql("q.qv", "c.nv")}, 6) AS cosine
  FROM q, normed c
  WHERE q.query_id <> c.vec_id
),
nn AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored) WHERE rank <= 5
),
votes AS (
  SELECT nn.query_id, e.label AS n_label, count(*) AS votes
  FROM nn JOIN embeddings e ON e.vec_id = nn.neighbor_id
  GROUP BY 1, 2
),
top AS (
  SELECT query_id, n_label AS majority_label, votes FROM (
    SELECT query_id, n_label, votes,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY votes DESC, n_label ASC) AS r
    FROM votes) WHERE r = 1
)
SELECT t.query_id, e.label AS own_label, t.majority_label, t.votes,
       CASE WHEN t.majority_label = e.label THEN 1 ELSE 0 END AS agrees
FROM top t JOIN embeddings e ON e.vec_id = t.query_id
"""


def _canonical_kmeans_centroids(sf_dir, n_cells=8, sample_size=2048):
    """Oracle twin of the deterministic-sample k-means training: replay
    the ``ORDER BY xxhash64(vec_id), vec_id LIMIT sample_size`` sample
    in pure Python (:func:`spark_xxhash64_long`) and run the SHARED
    numpy core (:func:`kmeans_fit_sample`) — identical sample rows →
    bitwise-identical centroids, no tolerance games."""
    import numpy as np
    import pyarrow.parquet as pq

    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        kmeans_fit_sample,
        spark_xxhash64_long,
    )

    path = f"{sf_dir}/embeddings.parquet"
    # Bounded verify (see _canonical_pca_model): replaying the sample
    # ordering needs a full id scan — skip above 1M rows.
    if pq.ParquetFile(path).metadata.num_rows > 1_000_000:
        return None
    tbl = pq.read_table(path, columns=["vec_id", "embedding"]).to_pandas()
    tbl["_h"] = tbl["vec_id"].map(lambda v: spark_xxhash64_long(int(v)))
    tbl = tbl.sort_values(["_h", "vec_id"]).head(sample_size)
    X = np.array([list(v) for v in tbl["embedding"]], dtype=np.float64)
    return kmeans_fit_sample(X, n_cells)


def knn_cosine_ivf_kmeans(spark, sf_dir):
    """IVF ANN with a trained coarse quantizer: deterministic seeded
    spherical k-means on a bounded driver-side sample.  Fully oracled
    since r5: the distributed-sample training is asserted BITWISE equal
    to the canonical Python replay of the same sample (shared numpy
    core; any drift → hard driver-red), and both engines then assign
    and score from the identical centroid literals, so the result
    hash-matches exactly.  Recall vs brute force stays property-tested
    in tests/test_dedup_similarity.py."""
    import numpy as np

    e = t(spark, sf_dir, "embeddings")
    cents = train_kmeans_centroids(e, n_cells=8, sample_size=2048)
    canon = _canonical_kmeans_centroids(sf_dir)
    if canon is not None and not np.array_equal(
        np.array(cents), np.array(canon)
    ):
        raise AssertionError(
            "ivf-kmeans: distributed-sample training diverged from the "
            "canonical replay of the same sample"
        )
    queries = e.filter(F.col("vec_id") < 10)
    return knn_ivf(queries, e, k=5, n_probe=2, centroids=cents)


def _ivf_kmeans_oracle_sql(n_probe: int = 2, k: int = 5) -> str:
    """DuckDB twin with the canonical sf0.01 centroids inlined (driver
    correctness runs are pinned to sf0.01 — the PCA literal pattern)."""
    cents = _canonical_kmeans_centroids("/root/testdata/sf0.01")
    if cents is None:  # row cap exceeded — no literal oracle possible
        return None
    values = ", ".join(
        f"({cid}, [{', '.join(repr(float(x)) for x in cvec)}])"
        for cid, cvec in enumerate(cents)
    )
    return f"""
WITH {_NORMED_CTE},
cents(cell_id, cent) AS (VALUES {values}),
assign AS (
  SELECT e.vec_id, e.nv, c.cell_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {dot_sql("e.nv", "c.cent")} DESC, c.cell_id ASC
         ) AS r
  FROM normed e, cents c
),
cells AS (SELECT vec_id AS neighbor_id, nv AS cv, cell_id FROM assign WHERE r = 1),
probes AS (SELECT vec_id AS query_id, nv AS qv, cell_id FROM assign WHERE r <= {n_probe} AND vec_id < 10),
cand AS (
  SELECT p.query_id, c.neighbor_id,
         round({dot_sql("p.qv", "c.cv")}, 6) AS cosine
  FROM probes p JOIN cells c ON p.cell_id = c.cell_id
  WHERE p.query_id <> c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM cand
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


try:
    KNN_IVF_KMEANS_SQL = _ivf_kmeans_oracle_sql()
except OSError:  # testdata not present on this machine
    KNN_IVF_KMEANS_SQL = None


def knn_cosine_int8(spark, sf_dir):
    """Brute-force kNN scored on the int8-quantized corpus (integer
    dot products over a 4×-smaller table).  Approximate → rows-only
    oracle; recall vs exact kNN is property-tested in
    tests/test_dedup_similarity.py."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return knn_bruteforce_quantized(queries, e, k=5)


def embedding_quantize_error(spark, sf_dir):
    """int8 quantization quality report: per-vector scale +
    reconstruction-error stats (max and mean |x − q·scale|).  The
    audit a pipeline runs before switching its ANN corpus to the 4×-
    smaller quantized layout."""
    e = t(spark, sf_dir, "embeddings")
    # staged narrow pipeline — original vector carried alongside the
    # quantized one, so the audit is a pure projection (zero shuffle,
    # no self-join back to the corpus)
    staged = quantize_int8(
        e.select("vec_id", "embedding", F.col("embedding").alias("_x")),
        "vec_id",
        "embedding",
        keep=("_x",),
    )
    err = F.zip_with(
        "_x",
        "qvec",
        lambda x, qv: F.abs(
            x.cast("double") - qv.cast("double") * F.col("scale")
        ),
    )
    return staged.select(
        "vec_id",
        F.round("scale", 9).alias("scale_r"),
        F.round(F.array_max(err), 9).alias("max_abs_err"),
        F.round(
            F.aggregate(err, F.lit(0.0), lambda acc, v: acc + v)
            / F.size("_x"),
            9,
        ).alias("mean_abs_err"),
    )


QUANT_ERR_SQL = """
WITH q AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
  FROM embeddings
),
r AS (
  SELECT vec_id, scale,
         list_transform(embedding,
           x -> abs(x::DOUBLE - round(x::DOUBLE / scale) * scale)) AS err
  FROM q
)
SELECT vec_id,
       round(scale, 9) AS scale_r,
       round(list_max(err), 9) AS max_abs_err,
       round(list_sum(err) / len(err), 9) AS mean_abs_err
FROM r
"""


def embedding_label_centroids(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    return label_centroids(e)


CENTROIDS_SQL = """
SELECT label, idx.i - 1 AS pos, round(AVG(embedding[idx.i]::DOUBLE), 6) AS centroid
FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) idx
GROUP BY 1, 2
"""


def knn_cosine_filtered(spark, sf_dir):
    """Hybrid (filtered) similarity search: exact top-k cosine over the
    corpus subset matching a metadata predicate (label ∈ {0,1,2}) —
    the filter composes BEFORE the distance stage, so the quadratic
    work shrinks with selectivity and the predicate pushes down to the
    corpus scan.  At scale the same composition applies in front of the
    IVF path (filter, then assign/probe) — pre-filtering, not
    post-filtering, is what keeps k results guaranteed."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    corpus = e.filter(F.col("label").isin(0, 1, 2))
    return knn_bruteforce(queries, corpus, k=5)


KNN_FILTERED_SQL = f"""
WITH normed AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> x::DOUBLE / sqrt({_DOT_SELF})) AS nv
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, nv AS qv FROM normed WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, nv AS cv FROM normed WHERE label IN (0, 1, 2)),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         round({dot_sql("q.qv", "c.cv")}, 6) AS cosine
  FROM q, c
  WHERE q.query_id <> c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# knn_cosine_lsh oracle: the "random" hyperplanes are FROZEN seeded
# constants baked into the Spark plan as literals, so the oracle embeds
# the identical constants and replays bucketing + cosine exactly —
# upgrading the query from rows-only to hash-checked.  Sign bits compare
# a left-fold float64 dot (identical accumulation order both engines)
# against 0; ties at the boundary would need a last-ulp divergence AND
# a dot of exactly ±0, which the parity suite shows does not occur.
from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
    _hyperplanes,
)


def _lit_list_sql(plane: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in plane) + "]"


def _lsh_bucket_sql(vec: str, ti: int, planes: list[list[float]]) -> str:
    bits = " || ".join(
        f"(CASE WHEN {dot_sql(vec, _lit_list_sql(p))} >= 0 "
        f"THEN '1' ELSE '0' END)"
        for p in planes
    )
    return f"('{ti}#' || {bits})"


_LSH_TABLES = [_hyperplanes(64, 6, 42 + 1000 * ti) for ti in range(3)]
_LSH_BUCKETS = ", ".join(
    _lsh_bucket_sql("embedding", ti, planes)
    for ti, planes in enumerate(_LSH_TABLES)
)

KNN_LSH_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, unnest([{_LSH_BUCKETS}]) AS bucket
  FROM embeddings
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM b q JOIN b c USING (bucket)
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         round({cosine_sql("eq.embedding", "ec.embedding")}, 6) AS cosine
  FROM cand
  JOIN embeddings eq ON eq.vec_id = cand.query_id
  JOIN embeddings ec ON ec.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# knn_cosine_int8 oracle: quantization is pure deterministic expression
# arithmetic (scale = max|x|/127 over the unit-normalized vector,
# q_i = round(x_i/scale)), the dot is exact integer arithmetic, and the
# final rescale is three double multiplies — every step replayed
# verbatim in SQL, so the "approximate" operator is still exactly
# reproducible and hash-checked (approximate vs the TRUE cosine, not
# vs its own definition).
_INT8_DOT = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(list_zip(q.qq, c.qc), "
    "p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))), (acc, x) -> acc + x)"
)

KNN_INT8_SQL = f"""
WITH {_NORMED_CTE},
quant AS (
  SELECT vec_id,
         list_max(list_transform(nv, x -> abs(x))) / 127.0 AS scale,
         list_transform(
           nv, x -> CAST(round(
             x / (list_max(list_transform(nv, y -> abs(y))) / 127.0)
           ) AS INT)) AS qvec
  FROM normed
),
q AS (SELECT vec_id AS query_id, scale AS sq, qvec AS qq
      FROM quant WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, scale AS sc, qvec AS qc FROM quant),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         round(q.sq * c.sc * CAST({_INT8_DOT} AS DOUBLE), 6) AS cosine
  FROM q, c
  WHERE q.query_id <> c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


# --------------------------------------------------------------------------
_DECON_THRESHOLD = 0.35


def decontaminate_embedding_overlap(spark, sf_dir):
    """SEMANTIC train/eval decontamination: flag train vectors whose
    cosine to ANY eval vector (vec_id % 10 = 0 plays the eval suite)
    reaches the threshold — catches paraphrased leakage that n-gram
    decontamination (decontaminate_ngram_overlap) misses.  Reports each
    train vector's nearest-eval cosine and the contamination flag.

    Scale: the eval suite is small by nature → broadcast its normalized
    vectors; the train corpus streams through ONE narrow pass computing
    per-row max-cosine (the eval side is the build side of a broadcast
    nested loop — |train|×|eval| dot products but zero shuffle of the
    corpus, the same budget any decontamination must pay).
    """
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        _normalized,
    )

    e = t(spark, sf_dir, "embeddings")
    ev = _normalized(
        e.filter(F.col("vec_id") % 10 == 0), "vec_id", "embedding",
        "eval_id", "ev",
    )
    tr = _normalized(
        e.filter(F.col("vec_id") % 10 != 0), "vec_id", "embedding",
        "train_id", "tv",
    )
    cos = dot_col(F.col("tv"), F.col("ev"))
    scored = (
        tr.crossJoin(F.broadcast(ev))
        .groupBy("train_id")
        .agg(F.round(F.max(cos), 6).alias("max_eval_cosine"))
    )
    return scored.select(
        "train_id",
        "max_eval_cosine",
        (F.col("max_eval_cosine") >= _DECON_THRESHOLD).cast("int").alias(
            "contaminated"
        ),
    )


DECONTAM_EMB_SQL = f"""
WITH {_NORMED_CTE},
ev AS (SELECT vec_id AS eval_id, nv AS evv FROM normed WHERE vec_id % 10 = 0),
tr AS (SELECT vec_id AS train_id, nv AS tv FROM normed WHERE vec_id % 10 <> 0),
scored AS (
  SELECT tr.train_id,
         round(max({dot_sql("tr.tv", "ev.evv")}), 6) AS max_eval_cosine
  FROM tr CROSS JOIN ev
  GROUP BY 1
)
SELECT train_id, max_eval_cosine,
       CASE WHEN max_eval_cosine >= {_DECON_THRESHOLD} THEN 1 ELSE 0 END
         AS contaminated
FROM scored
"""


def _canonical_pca_model(sf_dir, k=4):
    """Deterministic numpy reference fit from the parquet file (rows
    sorted by vec_id, one fixed summation order) — the shared basis of
    the Spark projection AND the DuckDB oracle, so both engines inline
    bitwise-identical component literals.  Test-harness device: the
    production path is the distributed fit it certifies."""
    import numpy as np
    import pyarrow.parquet as pq

    from rick_and_morty_data_pipeline_project_spark.operators.pca import (
        pca_fit_canonical,
    )

    path = f"{sf_dir}/embeddings.parquet"
    # Bounded verify: the canonical re-fit is a test harness, not the
    # production path.  Above 1M rows (footer metadata — no data read)
    # return None and let callers run the distributed fit alone; the
    # driver's oracle comparison only ever happens at sf0.01.
    if pq.ParquetFile(path).metadata.num_rows > 1_000_000:
        return None
    tbl = (
        pq.read_table(path, columns=["vec_id", "embedding"])
        .to_pandas()
        .sort_values("vec_id")
    )
    vecs = np.stack(tbl["embedding"].to_numpy()).astype(np.float64)
    return pca_fit_canonical(vecs, k)


def embedding_pca_project(spark, sf_dir):
    """Top-4 principal-component scores per embedding — fully oracled:
    the DISTRIBUTED fit runs first and is asserted (atol 1e-6; measured
    agreement ~1e-15 at sf0.01) against the deterministic canonical
    numpy fit, turning any pca_fit regression into a hard driver-red
    failure; the projection then uses the canonical literals, which the
    DuckDB oracle inlines byte-for-byte, so the rounded scores hash-
    match exactly (the IVF driver-inlined-constant pattern).

    Scale: fit is one narrow JVM pass reduced to a fixed
    d + d(d+1)/2 + 1-row aggregate (partial agg per task), the d×d eigh
    runs on the driver like the IVF centroid collect, and the projection
    is a second narrow pass against broadcast literal components — zero
    corpus shuffles end to end (see operators/pca.py).  The canonical
    re-fit is the verification harness, not the production path.
    """
    from rick_and_morty_data_pipeline_project_spark.operators.pca import (
        assert_models_close,
        pca_fit,
        pca_project,
    )

    emb = t(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", dim=64, k=4)
    canon = _canonical_pca_model(sf_dir)
    if canon is not None:  # None above the bounded-verify row cap
        assert_models_close(model, canon)
        model = canon  # shared literals → bitwise oracle parity
    return pca_project(emb, model, "embedding").select(
        "vec_id", "label", "pc1", "pc2", "pc3", "pc4"
    )


def _pca_oracle_sql():
    """Projection oracle with the canonical sf0.01 components inlined
    as literals (driver correctness runs are pinned to sf0.01).  Built
    at import; if the testdata tree is absent the entry falls back to
    rows-only; it sits outside the driver window."""
    import numpy as np

    canon = _canonical_pca_model("/root/testdata/sf0.01")
    if canon is None:  # row cap exceeded — no literal oracle possible
        return None
    cols = []
    for j, w in enumerate(canon.components, start=1):
        lit = "[" + ", ".join(repr(float(x)) for x in w) + "]"
        mu_w = repr(float(np.dot(canon.mean, w)))
        cols.append(
            f"round({dot_sql('embedding', lit)} - {mu_w}, 6) AS pc{j}"
        )
    return (
        "SELECT vec_id, label, "
        + ", ".join(cols)
        + " FROM embeddings"
    )


try:
    PCA_PROJECT_SQL = _pca_oracle_sql()
except OSError:  # testdata not present on this machine
    PCA_PROJECT_SQL = None
# any OTHER exception is a real code regression in the canonical fit —
# let it raise at import so tests fail loudly instead of silently
# demoting the query to rows-only


QUERIES: dict[str, Q] = {
    "embedding_norms": Q(embedding_norms, NORMS_SQL),
    "embedding_pca_project": Q(embedding_pca_project, PCA_PROJECT_SQL),
    "knn_cosine_filtered": Q(knn_cosine_filtered, KNN_FILTERED_SQL),
    "knn_cosine_bruteforce": Q(knn_cosine_bruteforce, KNN_SQL),
    "knn_cosine_lsh": Q(knn_cosine_lsh, KNN_LSH_SQL),
    "knn_hard_negatives": Q(knn_hard_negatives, KNN_HARD_NEG_SQL),
    "knn_cosine_mmr": Q(knn_cosine_mmr, KNN_MMR_SQL),
    "knn_cosine_ivf": Q(knn_cosine_ivf, KNN_IVF_SQL),
    "knn_recall_audit": Q(knn_recall_audit, KNN_RECALL_SQL),
    "knn_label_agreement": Q(knn_label_agreement, KNN_LABEL_AGREEMENT_SQL),
    "knn_cosine_ivf_kmeans": Q(knn_cosine_ivf_kmeans, KNN_IVF_KMEANS_SQL),
    "embedding_quantize_error": Q(embedding_quantize_error, QUANT_ERR_SQL),
    "knn_cosine_int8": Q(knn_cosine_int8, KNN_INT8_SQL),
    "embedding_label_centroids": Q(embedding_label_centroids, CENTROIDS_SQL),
    "decontaminate_embedding_overlap": Q(
        decontaminate_embedding_overlap, DECONTAM_EMB_SQL
    ),
}
