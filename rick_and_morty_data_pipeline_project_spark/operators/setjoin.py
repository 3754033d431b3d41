"""Exact set-similarity JOIN operators (SSJoin/PPJoin family).

Distinct from operators/dedup.py's blocked/banded families: these are
the exact, unblocked, threshold-driven similarity joins whose candidate
space is pruned by prefix filtering instead of a blocking column or an
LSH band.  Kept in their own module so the additive growth of this
family never touches dedup.py's certification fingerprints.

Reference parity note: the reference (453-line scraper, Scraper.py) has
no similarity joins; this extends SURVEY.md §2.10's training-data
dedup surface with the exact-join shape (public methods: Chaudhuri et
al. ICDE'06 SSJoin, Xiao et al. WWW'08 PPJoin, Bayardo et al. WWW'07).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
    fan_out,
    materialize,
)


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact GLOBAL Jaccard similarity join via prefix filtering — the
    SSJoin/PPJoin family (Chaudhuri et al. ICDE'06, Xiao et al. WWW'08,
    public methods).  Unlike :func:`ngram_jaccard_pairs` this needs NO
    blocking key: correctness never depends on a coarse partition
    column existing, and the candidate space is pruned by the
    threshold itself.

    1. **Global token order**: shingles ordered by (document frequency
       asc, shingle asc) — rare shingles first, so prefixes index the
       SHORT posting lists.
    2. **Prefix index**: for a set X, any Y with J(X, Y) ≥ t has
       overlap ≥ ⌈t·|X|⌉ (J ≥ t ⟹ |X∩Y| ≥ t·|X∪Y| ≥ t·|X|), so if Y
       misses ALL of X's first |X| − ⌈t·|X|⌉ + 1 tokens, the remaining
       ⌈t·|X|⌉ − 1 tokens cannot reach that overlap (pigeonhole).
       Index only the prefix; probe it with the FULL posting list —
       the one-sided bound needs no ordering-consistency argument.
    3. **Length filter** inside the candidate join: J(X, Y) ≥ t ⟹
       t·|X| ≤ |Y| ≤ |X|/t — pairs outside the band never materialize.
    4. **Exact verify**: candidates join back to the postings for the
       true intersection count; J = c/(|A|+|B|−c) is integer-derived
       double arithmetic, bit-identical in any engine.

    Cost: candidates ∝ Σ_s prefix_df(s)·df(s) (prefix collisions) —
    never |docs|², never the full Σ df² of an unfiltered posting join.
    The posting relation is materialized: built once, read by the
    df-count, the prefix window, the probe side and both verify sides.
    """
    from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
        shingles_from_tokens,
        tokens_col,
    )
    from pyspark.sql.window import Window

    t_lit = float(threshold)
    toked = fan_out(df).select(
        F.col(id_col).alias("_id"),
        tokens_col(F.col(text_col)).alias("_tk"),
    )
    sh = toked.select(
        "_id",
        F.array_distinct(
            shingles_from_tokens(F.col("_tk"), shingle_k)
        ).alias("_sh"),
    ).withColumn("_n", F.size("_sh"))
    posting = materialize(sh.select("_id", "_n", F.explode("_sh").alias("_s")))

    sdf = posting.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("_id").orderBy(F.asc("_df"), F.asc("_s"))
    prefix_len = F.col("_n") - F.ceil(F.lit(t_lit) * F.col("_n")) + 1
    prefix = (
        posting.join(sdf, "_s")
        .withColumn("_pos", F.row_number().over(w))
        .filter(F.col("_pos") <= prefix_len)
        .select(F.col("_id").alias("_idp"), F.col("_n").alias("_np"), "_s")
    )
    full = posting.select(
        F.col("_id").alias("_idf"), F.col("_n").alias("_nf"), "_s"
    )
    swap = F.col("_idp") < F.col("_idf")
    cand = (
        prefix.join(full.hint("shuffle_hash"), "_s")
        .filter(
            (F.col("_idp") != F.col("_idf"))
            & (F.col("_nf") >= F.lit(t_lit) * F.col("_np"))
            & (F.col("_np") >= F.lit(t_lit) * F.col("_nf"))
        )
        .select(
            F.least("_idp", "_idf").alias("id_a"),
            F.greatest("_idp", "_idf").alias("id_b"),
            F.when(swap, F.col("_np")).otherwise(F.col("_nf")).alias("_na"),
            F.when(swap, F.col("_nf")).otherwise(F.col("_np")).alias("_nb"),
        )
        .distinct()
    )
    pa = posting.select(F.col("_id").alias("id_a"), "_s")
    pb = posting.select(F.col("_id").alias("id_b"), "_s")
    inter = (
        cand.join(pa, "id_a")
        .join(pb, ["id_b", "_s"])
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.first("_na").alias("_na"),
            F.first("_nb").alias("_nb"),
        )
    )
    jac = F.col("_c") / (F.col("_na") + F.col("_nb") - F.col("_c"))
    return inter.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= t_lit
    )

