"""Binary (1-bit) vector quantization + Hamming-prefiltered kNN, and
multi-probe LSH — the two cheapest candidate-generation levers in the
modern ANN toolbox.

Binary quantization (sign bits packed into integer words) is the
32×-vs-float32 compression tier below int8/PQ: a 64-dim float corpus
becomes two 32-bit words per vector, the candidate stage is pure
xor+popcount inside whole-stage codegen, and only a bounded shortlist
per query ever touches float arithmetic again.  This is the public
sign-random-projection / binary-hashing shape (Charikar STOC'02 sign
hashes; the "binary quantization prefilter + exact rerank" deployment
pattern popularized by RaBitQ, SIGMOD'24, and production vector
stores).  Reference parity note: the reference engine
(/root/reference/Scraper.py) has no vector search at all — this
family extends the engine for the §2.10 training-data-pipeline
surface, like operators/similarity.py and operators/pq.py before it.

Multi-probe LSH (Lv et al., VLDB'07) raises recall per hash TABLE
instead of per table COUNT: a query probes its own bucket plus the
buckets at Hamming distance 1 in sign-bit space, so one table does the
recall work of several — index memory stays 1× while the candidate
set grows only by the probed buckets' occupancy.

Determinism contract (what makes the DuckDB oracles hash-exact):
sign bits compare raw stored floats against 0 (no accumulation), word
packing is integer arithmetic, Hamming is integer xor/popcount, and
the float rerank reuses the engine-wide normalize-then-left-fold dot
(functions/vectors.py) that every oracle mirrors bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rick_and_morty_data_pipeline_project_spark.functions.vectors import (
    dot_col,
    norm2_col,
)
from rick_and_morty_data_pipeline_project_spark.operators.parallelism import fan_out

#: bits per packed word — 32, not 64, so the packed value fits a signed
#: BIGINT with headroom in BOTH engines (a 64-bit pack would need the
#: sign bit and overflow DuckDB's checked BIGINT arithmetic).
WORD_BITS = 32


def sign_word_cols(vec_col: Column, dim: int) -> list[Column]:
    """Pack the sign bits of ``vec_col`` (``array<float>``, length
    ``dim``) into ``ceil(dim/32)`` BIGINT words.

    Bit i of word w is 1 iff element ``w*32 + i`` (0-based) is >= 0 —
    a raw float comparison on the stored value, and ENGINE-INDEPENDENT
    including for NaN: Spark SQL's comparison operators follow its
    NaN-high ordering semantics (``double('NaN') >= 0`` is true, also
    inside ``zip_with`` lambdas over ``array<float>`` — verified
    empirically on this PySpark in r11), and DuckDB orders NaN above
    all numbers, so BOTH engines set the bit for NaN.  (An r10
    advisory claimed Spark's comparison is false for NaN; the r11
    investigation falsified that premise, so no explicit isnan arm is
    needed.)  The pack itself is an integer fold (sum of distinct
    powers of two), exact by construction.
    """
    words: list[Column] = []
    for w0 in range(0, dim, WORD_BITS):
        n = min(WORD_BITS, dim - w0)
        weights = F.array(*[F.lit(1 << i).cast("long") for i in range(n)])
        seg = F.slice(vec_col, w0 + 1, n)
        bits = F.zip_with(
            seg,
            weights,
            lambda x, wgt: F.when(x >= 0, wgt).otherwise(F.lit(0).cast("long")),
        )
        words.append(
            F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc + b)
        )
    return words


def hamming_col(q_words: list[Column], c_words: list[Column]) -> Column:
    """Σ popcount(q_w XOR c_w) over the packed words."""
    total = None
    for qw, cw in zip(q_words, c_words):
        term = F.bit_count(qw.bitwiseXOR(cw))
        total = term if total is None else total + term
    return total


def knn_binary(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    shortlist: int = 50,
    round_digits: int = 6,
) -> DataFrame:
    """Two-stage binary-quantized kNN: Hamming-distance shortlist over
    packed sign words, exact cosine rerank on the shortlist only.

    Stage 1 never touches a float: the corpus projects to
    ``ceil(dim/32)`` BIGINTs per row (32× smaller than float32 at
    dim=64), queries broadcast, and the candidate score is xor+popcount
    — all inside whole-stage codegen.  Shortlist rank (hamming asc,
    id asc) keeps ``shortlist`` rows per query.  Stage 2 joins the
    BROADCAST shortlist back to the corpus scan to fetch vectors (the
    corpus never shuffles) and reranks by the exact normalized dot.

    At 10⁹ vectors stage 1 reads 8 bytes/vector instead of 256 — the
    page-cache/IO win IS the operator; stage 2 touches
    |queries|·shortlist rows.  Output: (query_id, neighbor_id,
    hamming, cosine, rank), rank ≤ k by (cosine desc, id asc).
    """
    def words(df: DataFrame, out_id: str) -> DataFrame:
        ws = sign_word_cols(F.col(vec_col), dim)
        return df.select(
            F.col(id_col).alias(out_id),
            *[w.alias(f"_{out_id}_w{i}") for i, w in enumerate(ws)],
        )

    nwords = (dim + WORD_BITS - 1) // WORD_BITS
    q = words(queries, "query_id")
    c = words(fan_out(corpus), "neighbor_id")
    ham = hamming_col(
        [F.col(f"_query_id_w{i}") for i in range(nwords)],
        [F.col(f"_neighbor_id_w{i}") for i in range(nwords)],
    )
    cand = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", ham.alias("hamming"))
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    short = (
        cand.withColumn("_r", F.row_number().over(w_short))
        .filter(F.col("_r") <= shortlist)
        .drop("_r")
    )

    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        _normalized,
    )

    nq = _normalized(queries, id_col, vec_col, "query_id", "_qv")
    # fan_out: the rerank re-scan must parallelize even off a
    # single-file local corpus (no-op on a real multi-file table)
    nc = _normalized(fan_out(corpus), id_col, vec_col, "neighbor_id", "_cv")
    rer = (
        F.broadcast(short)
        .join(nc, "neighbor_id")
        .join(F.broadcast(nq), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.round(dot_col(F.col("_qv"), F.col("_cv")), round_digits).alias(
                "cosine"
            ),
        )
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return rer.withColumn("rank", F.row_number().over(w_final)).filter(
        F.col("rank") <= k
    )


def knn_ivf_binary(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    shortlist: int = 30,
    round_digits: int = 6,
) -> DataFrame:
    """IVF × binary quantization — the composed 10⁹-vector recipe:
    coarse cells bound WHICH vectors are touched (|corpus|·n_probe/
    n_cells candidates per query), sign words bound WHAT is read per
    touched vector (8 bytes, xor+popcount), and only the Hamming
    shortlist ever reaches float arithmetic.  This is the same
    composition FAISS ships as IVF+PQ, with the cheaper 1-bit code —
    and the same deterministic head-id coarse quantizer as
    operators/similarity.knn_ivf, so the oracle replays every stage.

    Plan shape: centroids are a driver-side literal (one bounded
    head-k job); cell assignment is a narrow per-row expression (zero
    corpus shuffle); probes broadcast into the cell equi-join; the
    shortlist rank is the only shuffle, carrying integer rows; the
    rerank joins the BROADCAST shortlist back to the corpus scan.
    """
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        _normalized,
        cell_sim_cmp,
        centroids_literal,
        head_centroid_pairs,
    )

    # The coarse quantizer is the SHARED head-id helper from
    # operators/similarity (extracted r11 — previously duplicated
    # byte-for-byte here to avoid staling frozen certificates): one
    # definition of the centroid collect, the driver-side unit fold,
    # the literal, and the argmax comparator, so knn_ivf and this
    # composition can never drift apart arithmetically.  Both oracles'
    # `assign` CTEs replay the same stages; tests/test_vecx.py pins
    # parity in both directions.
    cent_pairs = head_centroid_pairs(corpus, id_col, vec_col, n_cells)
    id_type = corpus.schema[id_col].dataType.simpleString()
    cents_lit = centroids_literal(cent_pairs, id_type)
    _cmp = cell_sim_cmp

    def assign_words(df: DataFrame, out_id: str, nprobe: int) -> DataFrame:
        """(id, cell_id, sign words) in ONE narrow pipeline — no
        corpus self-join: the staged projection carries the raw vector
        alongside the unit-normalized one, so the cell argmax
        (normalized dot — _normalized's exact arithmetic, staged norm)
        and the sign words (RAW vector — the scale-invariant
        definition the oracle replays) come out of the same pass."""
        staged = df.select(
            F.col(id_col).alias(out_id),
            norm2_col(F.col(vec_col)).alias("_n"),
            F.col(vec_col).alias("_v"),
        )
        nv = staged.select(
            out_id,
            F.transform(
                "_v", lambda x: x.cast("double") / F.col("_n")
            ).alias("_nv"),
            "_v",
        )
        sims = F.transform(
            cents_lit,
            lambda c: F.struct(
                dot_col(F.col("_nv"), c["cent"]).alias("sim"),
                c["cell_id"].alias("cell_id"),
            ),
        )
        top = F.slice(F.array_sort(sims, _cmp), 1, nprobe)
        ws = sign_word_cols(F.col("_v"), dim)
        return nv.select(
            out_id,
            F.explode(top).alias("_c"),
            *[w.alias(f"_{out_id}_w{i}") for i, w in enumerate(ws)],
        ).select(
            out_id,
            F.col("_c.cell_id").alias("cell_id"),
            *[f"_{out_id}_w{i}" for i in range((dim + WORD_BITS - 1) // WORD_BITS)],
        )

    nwords = (dim + WORD_BITS - 1) // WORD_BITS
    cells = assign_words(fan_out(corpus), "neighbor_id", 1)
    probes = assign_words(queries, "query_id", n_probe)
    ham = hamming_col(
        [F.col(f"_query_id_w{i}") for i in range(nwords)],
        [F.col(f"_neighbor_id_w{i}") for i in range(nwords)],
    )
    cand = (
        F.broadcast(probes)
        .join(cells, "cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", ham.alias("hamming"))
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    short = (
        cand.withColumn("_r", F.row_number().over(w_short))
        .filter(F.col("_r") <= shortlist)
        .drop("_r")
    )
    nq = _normalized(queries, id_col, vec_col, "query_id", "_qv")
    nc = _normalized(fan_out(corpus), id_col, vec_col, "neighbor_id", "_cv")
    rer = (
        F.broadcast(short)
        .join(nc, "neighbor_id")
        .join(F.broadcast(nq), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.round(dot_col(F.col("_qv"), F.col("_cv")), round_digits).alias(
                "cosine"
            ),
        )
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return rer.withColumn("rank", F.row_number().over(w_final)).filter(
        F.col("rank") <= k
    )


def probe_bucket_cols(base: Column, n_planes: int) -> list[Column]:
    """The multi-probe sequence for a sign-bit bucket string: the base
    bucket plus every bucket at Hamming distance 1 (one per flipped
    plane) — ``n_planes + 1`` pairwise-distinct strings.

    Built with substring surgery on the already-computed base string so
    the hyperplane dots are evaluated once per row, not once per probe.
    """
    probes = [base]
    for i in range(1, n_planes + 1):
        flipped = F.when(
            F.substring(base, i, 1) == F.lit("1"), F.lit("0")
        ).otherwise(F.lit("1"))
        probes.append(
            F.concat(
                F.substring(base, 1, i - 1),
                flipped,
                F.substring(base, i + 1, n_planes),
            )
        )
    return probes


def knn_lsh_multiprobe(
    queries: DataFrame,
    corpus: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Multi-probe sign-LSH kNN (Lv et al., VLDB'07, 1-step probing):
    ONE hash table, each query probing its own bucket and all
    ``n_planes`` Hamming-1 perturbations of it.

    Candidate uniqueness is structural, not deduplicated: the corpus
    side emits exactly one bucket per vector and the probe strings are
    pairwise distinct, so a (query, neighbor) pair can match at most
    one probe — no dropDuplicates shuffle (the single-table OR of
    operators/similarity.knn_lsh needs one; this operator's plan is
    strictly narrower on the candidate stage).  Exact cosine rerank on
    the collided pairs, top-k by (cosine desc, id asc).
    """
    from rick_and_morty_data_pipeline_project_spark.operators.similarity import (
        lsh_bucket_col,
    )

    n_planes = len(planes)
    # explode(array(bucket)) emits the same single bucket per corpus
    # row, but the Generate is a predicate-pushdown barrier: the bucket
    # equi-join lets InferFiltersFromConstraints infer isnotnull(bucket),
    # and pushed below the fan_out exchange that filter would evaluate
    # the n_planes interpreted plane-dot CASEs a second time on the
    # 1-task local scan (the disease InferFiltersFromGenerate caused in
    # r14).  The bucket string is non-nullable, so today the inferred
    # filter folds away with or without the barrier (the IVF cell_id
    # in queries/vecxq.py is nullable, and there it is load-bearing);
    # tests/test_plans.py pins that the bucket stays above fan_out.
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv_raw"),
        F.explode(
            F.array(lsh_bucket_col(F.col(vec_col), planes))
        ).alias("bucket"),
    )
    qbase = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv_raw"),
        lsh_bucket_col(F.col(vec_col), planes).alias("_b"),
    )
    q = qbase.select(
        "query_id",
        "_qv_raw",
        F.explode(F.array(*probe_bucket_cols(F.col("_b"), n_planes))).alias(
            "bucket"
        ),
    )
    from rick_and_morty_data_pipeline_project_spark.functions.vectors import (
        cosine_col,
    )

    cand = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_col(F.col("_qv_raw"), F.col("_cv_raw")), round_digits
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
