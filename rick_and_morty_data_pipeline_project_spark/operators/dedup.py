"""Deduplication operators for large-scale document corpora.

All hashing is md5-based (identical across Spark and the DuckDB oracle)
rather than engine-native hash functions, so every signature below is
exactly reproducible by the correctness oracle.

Scale notes (100 TB design):
* exact dedup — one shuffle on the 16-byte fingerprint; map-side partial
  aggregation makes the shuffle carry one row per distinct fingerprint
  per partition.
* MinHash LSH — signature computation is embarrassingly parallel
  (per-row higher-order functions, no Python); the candidate join
  shuffles on the *band key* only, so cost is proportional to bucket
  collisions, not |corpus|².
* SimHash — per-token md5 once (explode → 16 nibble votes → re-group),
  a single shuffle on doc id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
    fingerprint_col,
)
from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
    fan_out,
    materialize,
)


def exact_dedup_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical (normalized) texts: keeper id + duplicate count."""
    return (
        df.withColumn("fingerprint", fingerprint_col(F.col(text_col)))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def with_minhash_signature(
    df: DataFrame,
    text_col: str,
    num_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Every column of ``df`` plus the MinHash ``sig`` (array<string>)
    of its token shingles.

    Shape: entirely per-row (narrow) — one array pass computes the
    md5 hash material for ALL components (``shingle_hashes_col``),
    then each component is an ``array_min`` over a cheap hex slice.
    NO shuffle at all: at 100 TB this is a pure map stage, strictly
    better than the explode → groupBy(min) layout (which shuffles one
    row per doc) and ~4× less hashing than one md5 per
    (shingle, component).  Duplicate shingles don't need a distinct
    pass: they can't change a min.
    """
    from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
        minhash_components,
        shingle_hashes_col,
        shingles_from_tokens,
        tokens_col,
    )

    cols = [F.col(c) for c in df.columns]
    # Staged projections: each alias is multi-referenced downstream so
    # CollapseProject keeps the boundary and each stage runs once.
    toked = fan_out(df).select(
        *cols, tokens_col(F.col(text_col)).alias("_tk")
    )
    shingled = toked.select(
        *cols, shingles_from_tokens(F.col("_tk"), shingle_k).alias("_sh")
    )
    hashed = shingled.select(
        *cols, shingle_hashes_col(F.col("_sh"), num_hashes).alias("_h")
    )
    return hashed.select(
        *cols,
        F.array(*minhash_components(F.col("_h"), num_hashes)).alias("sig"),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, sig) MinHash signatures; see :func:`with_minhash_signature`."""
    return with_minhash_signature(
        df.select(id_col, text_col), text_col, num_hashes, shingle_k
    ).select(id_col, "sig")


def lsh_bands(sigs: DataFrame, num_hashes: int, band_size: int) -> DataFrame:
    """``sigs`` plus ``band``: one row per (row, band) of its ``sig``
    column, band key = ``"{band_idx}|{component...}"``.  The one
    band-key formula: the self-join, the cross-set join and the
    streaming near-dup sink all bucket through it."""
    n_bands = num_hashes // band_size
    band_cols = [
        F.concat_ws(
            "|",
            F.lit(str(b)),
            *[F.col("sig")[b * band_size + j] for j in range(band_size)],
        ).alias(f"band_{b}")
        for b in range(n_bands)
    ]
    return sigs.select("*", F.explode(F.array(*band_cols)).alias("band"))


def signature_jaccard(a_sig: Column, b_sig: Column, num_hashes: int) -> Column:
    """Estimated Jaccard similarity of two MinHash signatures: the
    fraction of agreeing components."""
    agree = F.size(
        F.filter(F.zip_with(a_sig, b_sig, lambda x, y: x == y), lambda m: m)
    )
    return agree / F.lit(num_hashes)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Bands the signature (``num_hashes/band_size`` bands), buckets rows by
    (band index, band value), self-joins inside buckets (id_a < id_b),
    and estimates Jaccard as the fraction of agreeing signature
    components.  The join key is the band hash, so only colliding
    documents meet — the LSH trick that replaces the O(n²) cross join.
    """
    banded = lsh_bands(
        minhash_signatures(df, id_col, text_col, num_hashes, shingle_k),
        num_hashes,
        band_size,
    )
    a = banded.alias("a")
    b = banded.alias("b")
    # jaccard_est is a function of the pair, so distinct over the three
    # small output columns — never shuffle the signature arrays.
    # shuffle_hash: see ngram_jaccard_pairs — the banded relation is
    # corpus-sized (never broadcastable at scale), and the shuffle join
    # lets both sides share one computation of the signature pipeline.
    return (
        a.join(b.hint("shuffle_hash"), on="band")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            signature_jaccard(
                F.col("a.sig"), F.col("b.sig"), num_hashes
            ).alias("jaccard_est"),
        )
        .distinct()
    )


def minhash_lsh_pairs_between(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """Cross-set banded LSH: candidate near-dup pairs between a NEW
    batch (``left``) and an existing corpus (``right``) — the
    incremental form of near-dedup.  Only (batch, corpus) pairs whose
    band buckets collide materialize; batch-batch and corpus-corpus
    pairs are never formed.  Both sides are MinHashed here, so a call
    still hashes all of ``right`` and scans its band rows: the join
    output scales with |batch| × collision rate, the hashing and the
    band scan with |left| + |right|.  Join stays shuffle_hash: at scale
    the corpus banding relation is never broadcastable, and the batch
    side re-shuffles only its own bands.

    Output: (id_left, id_right, jaccard_est)."""
    a = lsh_bands(
        minhash_signatures(left, id_col, text_col, num_hashes, shingle_k),
        num_hashes,
        band_size,
    ).alias("a")
    b = lsh_bands(
        minhash_signatures(right, id_col, text_col, num_hashes, shingle_k),
        num_hashes,
        band_size,
    ).alias("b")
    return (
        a.join(b.hint("shuffle_hash"), on="band")
        .select(
            F.col(f"a.{id_col}").alias("id_left"),
            F.col(f"b.{id_col}").alias("id_right"),
            signature_jaccard(
                F.col("a.sig"), F.col("b.sig"), num_hashes
            ).alias("jaccard_est"),
        )
        .distinct()
    )


def _ngram_cooccurrence(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    shingle_k: int,
    size_ratio_min: float | None = None,
) -> DataFrame:
    """Shared inverted-index co-occurrence core for the set-similarity
    joins: (id_a, id_b, _c=|A∩B|, _na=|A|, _nb=|B|) for every ordered
    pair (id_a < id_b) sharing ≥1 shingle within a block.  See
    :func:`ngram_jaccard_pairs` for the plan-shape rationale.

    ``size_ratio_min`` applies the similarity-join LENGTH FILTER inside
    the posting join: pairs with min(|A|,|B|)/max(|A|,|B|) below it are
    dropped BEFORE the co-occurrence aggregation ever sees their
    collision rows.  Exact for Jaccard thresholds (c ≤ min ⇒
    J = c/(|A|+|B|−c) ≤ min/max), so callers pass their threshold and
    lose nothing; on length-heterogeneous corpora (the 100 TB reality —
    tweets next to books) this prunes the candidate space the shared
    shingles would otherwise inflate."""
    from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
        shingles_from_tokens,
        tokens_col,
    )

    toked = fan_out(df).select(
        F.col(id_col),
        F.col(block_col).alias("_block"),
        tokens_col(F.col(text_col)).alias("_tk"),
    )
    sh = toked.select(
        F.col(id_col),
        F.col("_block"),
        F.array_distinct(shingles_from_tokens(F.col("_tk"), shingle_k)).alias("sh"),
    ).withColumn("n", F.size(F.col("sh")))
    posting = sh.select(
        F.col(id_col), F.col("n"), F.col("_block"), F.explode("sh").alias("_s")
    )
    a = posting.alias("a")
    b = posting.alias("b")
    # shuffle_hash (not broadcast): at scale a posting list derived from
    # the full corpus is never broadcastable, and locally the shuffle
    # join avoids computing the posting pipeline a second time for the
    # broadcast build side.
    pair_ok = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if size_ratio_min is not None:
        t = F.lit(float(size_ratio_min))
        pair_ok = (
            pair_ok
            & (F.col("a.n") >= t * F.col("b.n"))
            & (F.col("b.n") >= t * F.col("a.n"))
        )
    return (
        a.join(b.hint("shuffle_hash"), on=["_block", "_s"])
        .filter(pair_ok)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.first("a.n").alias("_na"),
            F.first("b.n").alias("_nb"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    shingle_k: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT C(A⊆B) = |A∩B| / |A| — the
    doc-inside-doc signal Jaccard misses: a paragraph quoted verbatim
    inside a much longer page has high containment but low Jaccard
    (the union is dominated by the long side).  Standard boilerplate /
    quotation / wrapper-page detector in corpus curation.

    Same inverted-index co-occurrence core (and therefore the same
    collision-proportional 100 TB cost model) as
    :func:`ngram_jaccard_pairs`; both directed measures come from the
    ONE pair aggregate, and a pair survives if either direction clears
    the threshold."""
    co = _ngram_cooccurrence(df, id_col, text_col, block_col, shingle_k)
    return co.select(
        "id_a",
        "id_b",
        (F.col("_c") / F.col("_na")).alias("containment_a_in_b"),
        (F.col("_c") / F.col("_nb")).alias("containment_b_in_a"),
    ).filter(
        (F.col("containment_a_in_b") >= threshold)
        | (F.col("containment_b_in_a") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    shingle_k: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Exact Jaccard over distinct token-k-gram sets, blocked by
    ``block_col`` to bound the candidate space (at scale the block key
    is an LSH bucket; here any coarse partition works).

    Inverted-index shape (the scalable similarity-join layout): explode
    distinct shingles, self-join on (block, shingle) so only pairs that
    SHARE a shingle ever materialize, count co-occurrences per pair
    (map-side-combinable aggregation), then jaccard = c/(|A|+|B|−c).
    Identical output to the naive |block|² ``array_intersect`` — pairs
    sharing no shingle have jaccard 0 < threshold — at a fraction of
    the cost (measured 4× at sf0.1).

    Each posting row CARRIES its document's shingle-set size, so the
    per-pair aggregate reads |A| and |B| via ``first()`` instead of
    joining a sizes relation back in afterwards.  That matters twice
    over: (1) the tokenize→shingle pipeline is computed exactly once —
    the self-join's two sides are byte-identical plans, so the single
    shuffle is a ``ReusedExchange`` (measured: the sizes-join form
    re-ran the shingle stage 3×, ~2.5× the wall-clock); (2) two whole
    shuffles (the re-joins on id_a/id_b) disappear for the price of one
    int column in the posting shuffle."""
    co = _ngram_cooccurrence(
        df, id_col, text_col, block_col, shingle_k,
        size_ratio_min=threshold,
    )
    return co.select(
        "id_a",
        "id_b",
        (F.col("_c") / (F.col("_na") + F.col("_nb") - F.col("_c"))).alias(
            "jaccard"
        ),
    ).filter(F.col("jaccard") >= threshold)


def _nibble_topbit(md5_col: Column, j: int) -> Column:
    """Top bit of hex nibble j (1-indexed) of an md5 hex string."""
    return F.substring(md5_col, j, 1).isin("8", "9", "a", "b", "c", "d", "e", "f")


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash from per-token md5 nibble top-bits.

    bit_j = sign( Σ_tokens (top-bit of md5(token) nibble j ? +1 : −1) );
    value = Σ bit_j · 2^j.  Uses only md5 + string ops so the DuckDB
    oracle reproduces it exactly.
    """
    toks = fan_out(df).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("h", F.md5("tok"))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(_nibble_topbit(F.col("h"), j + 1), 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(16)
        ]
    )
    bits = [
        F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(16)
    ]
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return votes.select(F.col(id_col), total.cast("long").alias("simhash"))


# hex chars whose nibble value has bit b set (b = 0 is the LSB) — the
# same IN-list predicate works verbatim in Spark and the DuckDB oracle
NIBBLE_BIT_CHARS: tuple[tuple[str, ...], ...] = (
    ("1", "3", "5", "7", "9", "b", "d", "f"),  # bit 0
    ("2", "3", "6", "7", "a", "b", "e", "f"),  # bit 1
    ("4", "5", "6", "7", "c", "d", "e", "f"),  # bit 2
    ("8", "9", "a", "b", "c", "d", "e", "f"),  # bit 3
)


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash — the real-scale fingerprint width (simhash16's
    docstring: 16 bits saturate on a low-vocabulary corpus; production
    near-dedup uses 64).

    bit_j (j = 0..63) is bit ``j % 4`` of hex nibble ``j // 4`` of the
    per-token md5, so one md5 per token feeds all 64 votes.  The value
    is returned as TWO 32-bit halves (``simhash_hi`` = bits 32..63,
    ``simhash_lo`` = bits 0..31, each a non-negative BIGINT): a single
    signed 64-bit column would need 2^63, which overflows the sign bit
    differently across engines, while the split form keeps every
    arithmetic step inside exact positive BIGINT range in both Spark
    and the DuckDB oracle.  Hamming distance over the pair is
    ``bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)``.

    Same shape as :func:`simhash16`: explode tokens (narrow), one
    md5 per token, one map-combinable 64-column vote aggregation —
    a single shuffle keyed on the doc id.
    """
    toks = fan_out(df).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("h", F.md5("tok"))
    # parse each nibble to an int ONCE, then vote with integer bit
    # tests: measured ~16% faster than 64 substring+IN predicates and
    # bit-identical to them (the DuckDB oracle keeps the IN-list
    # formulation — same bits, so parity is unaffected)
    nibs = toks.select(
        F.col(id_col),
        *[
            F.conv(F.substring("h", j + 1, 1), 16, 10)
            .cast("int")
            .alias(f"n{j}")
            for j in range(16)
        ],
    )
    votes = nibs.groupBy(id_col).agg(
        *[
            F.sum(
                F.shiftright(F.col(f"n{j // 4}"), j % 4).bitwiseAND(1) * 2
                - 1
            ).alias(f"v{j}")
            for j in range(64)
        ]
    )

    def _half(lo_bit: int) -> Column:
        total: Column = F.lit(0)
        for j in range(lo_bit, lo_bit + 32):
            total = total + F.when(
                F.col(f"v{j}") > 0, F.lit(1 << (j - lo_bit))
            ).otherwise(F.lit(0))
        return total.cast("long")

    return votes.select(
        F.col(id_col),
        _half(32).alias("simhash_hi"),
        _half(0).alias("simhash_lo"),
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster assignment over an undirected edge list — the step that
    turns candidate near-dup PAIRS into per-document KEEPER decisions
    (cluster id = min doc id in the component; dedup keeps that doc).

    Min-label propagation: every node starts labeled with itself; each
    round a node adopts the min of its own and its neighbors' labels;
    stable labels = components.  Round 1 needs no label relation (a
    node's neighbors are labeled with themselves), so it is one
    aggregation over the edges: ``least(node, min(dst))``.  Every later
    round is one shuffle join (edges ⋈ labels on the source node) plus
    one map-combinable min aggregation, into which a self row carries
    each node's old label — the standard large-graph CC loop,
    converging in O(graph diameter) rounds (near-dup clusters are
    shallow: a handful of rounds).  ``materialize`` truncates the
    growing lineage each round so round N's plan does not replay rounds
    1..N−1; the same checkpoint job counts the changed labels through
    an ``observe`` metric, so convergence costs no extra action.
    Iterative by nature — not expressible as one SQL statement in
    Spark, but reproducible by a recursive-CTE oracle.
    """
    from pyspark.sql import Observation

    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    edges = materialize(edges.distinct())

    def checkpoint(rnd: DataFrame) -> tuple[DataFrame, int]:
        """(node, label) of a round plus its count of changed labels,
        from ``rnd``'s (node, label, _old) rows in one job."""
        obs = Observation()
        labels = materialize(
            rnd.observe(
                obs, F.count_if(F.col("label") < F.col("_old")).alias("n")
            ).select("node", "label")
        )
        return labels, obs.get["n"]

    labels, n_changed = checkpoint(
        edges.groupBy(F.col("src").alias("node")).agg(
            F.least(F.col("src"), F.min("dst")).alias("label"),
            F.col("src").alias("_old"),
        )
    )
    for _ in range(max_iter - 1):
        if n_changed == 0:
            break
        nbr = edges.join(labels, edges["src"] == labels["node"]).select(
            F.col("dst").alias("node"),
            "label",
            F.lit(None).cast(labels.schema["label"].dataType).alias("_old"),
        )
        own = labels.select("node", "label", F.col("label").alias("_old"))
        labels, n_changed = checkpoint(
            nbr.unionByName(own)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.min("_old").alias("_old"))
        )
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


# Largest m_log2 the one-row dense bitmap layouts may build: 2^30 bits
# = 2^24 longs = 128 MB in a single array row / broadcast.  Beyond this
# the bitmap must be sharded (see incremental_dedup_bloom docstring).
MAX_RELATION_M_LOG2 = 30


def _bloom_positions(col: Column, k: int, mask: int) -> list[Column]:
    """The k Bloom bit positions for a fingerprint column — module-level
    so tests pin THE OPERATOR'S formula, not a copy of it.

    15 hex chars = 60 hash bits per position (NOT 8/32: a 32-bit slice
    would silently cap the usable filter at m = 2^32 — the top bits of
    any larger bitmap would never be set OR probed, degrading the
    advertised (kn/m)^k FP rate 2^(m_log2-32)-fold while the exact
    join hides the regression).  60 bits stay inside a signed long
    through conv()'s decimal string, so the cast cannot NULL out."""
    return [
        F.conv(
            F.substring(F.md5(F.concat(col, F.lit(f"#bloom{i}"))), 1, 15),
            16,
            10,
        )
        .cast("long")
        .bitwiseAND(mask)
        for i in range(k)
    ]


def incremental_dedup_bloom(
    batch: DataFrame,
    existing: DataFrame,
    fp_col: str = "fp",
    m_log2: int = 16,
    k: int = 4,
    bitmap_mode: str = "auto",
) -> DataFrame:
    """Incremental dedup behind a REAL k-hash Bloom filter, built and
    probed entirely with SQL-expressible ops (md5 → hex→int via
    ``conv`` → bit positions; ``bit_or`` word aggregation): batch rows
    for which ANY of the ``k`` bit positions is unset are definitely
    new and bypass the anti-join; only rows whose positions are all
    set (true dups + false positives at rate ≈ (kn/m)^k) pay the exact
    fingerprint join.  Generalizes
    :func:`incremental_dedup_prefiltered` (that prefix filter is the
    k=1, m=256 degenerate case) with the same contract: the result is
    provably IDENTICAL to ``batch ANTI JOIN existing ON fp`` — false
    hits resolve in the exact join, unset-bit misses are impossible
    for true members.

    Two probe layouts, selected by ``bitmap_mode``:

    * ``"literal"`` (auto for m_log2 ≤ 18): the ``2^(m_log2-6)``-long
      bitmap is collected and baked into the filter predicate — 1024
      longs at the default, size independent of corpus scale (the
      IVF-centroid bounded-literal pattern), zero extra plan nodes.
    * ``"relation"`` (auto above 2^18 bits): the bitmap is built
      ENGINE-SIDE as a one-row ``array<bigint>`` relation (sparse
      (word, bits) rows → map → dense array; never touches the
      driver) and attached with a broadcast single-row cross join —
      plan size CONSTANT in m, so the 100 TB sizing
      (m ≈ bits-per-key × |corpus|) no longer inflates the plan the
      way millions of literals would.  The probe expression is
      identical; only where the array lives changes.

    * ``"sharded"`` (auto above ``MAX_RELATION_M_LOG2`` = 30): NO dense
      bitmap at any point — the sparse (word-index, bits) relation from
      the build aggregation IS the filter, and probes reach it by
      equi-joining their ``shiftright(p, 6)`` word index (k lookups per
      distinct fingerprint, shuffled on the word key like any equi-
      join).  Probe verdicts are computed once per DISTINCT fingerprint
      and joined back, so duplicate batch rows don't multiply lookup
      work.  This is the true 100 TB layout (m ≈ 10 bits × 10^12 keys
      ≈ 2^43): every shard row is one (long, long) pair, no broadcast,
      no single giant row; cost is two batch-sized shuffles + the word
      join.

    **Relation-mode ceiling** (``MAX_RELATION_M_LOG2`` = 30): the dense
    bitmap is ONE ``array<bigint>`` row, so its memory is linear in m
    even though the plan size is constant — 2^30 bits = 128 MB is the
    largest single row worth building and broadcasting.  ``auto``
    switches to ``sharded`` above the ceiling; an EXPLICIT
    ``bitmap_mode="relation"`` above it raises rather than silently
    building an infeasible row.
    """
    if bitmap_mode not in ("auto", "literal", "relation", "sharded"):
        raise ValueError(f"bitmap_mode: {bitmap_mode!r}")
    if not 6 <= m_log2 <= 60:
        raise ValueError(
            f"m_log2={m_log2}: must be in [6, 60] (one 64-bit word "
            "minimum; 60 hash bits per probe position maximum)"
        )
    if bitmap_mode == "relation" and m_log2 > MAX_RELATION_M_LOG2:
        raise ValueError(
            f"m_log2={m_log2} exceeds the single-row relation-mode "
            f"ceiling ({MAX_RELATION_M_LOG2}: a 2^{MAX_RELATION_M_LOG2}"
            "-bit bitmap is a 128 MB single array row). Use "
            "bitmap_mode='sharded' (the word-index equi-join layout, "
            "no dense row) — see docstring."
        )
    if bitmap_mode == "auto":
        mode = (
            "literal"
            if m_log2 <= 18
            else ("relation" if m_log2 <= MAX_RELATION_M_LOG2 else "sharded")
        )
    else:
        mode = bitmap_mode
    n_words = 1 << (m_log2 - 6)
    mask = (1 << m_log2) - 1

    def positions(col: Column) -> list[Column]:
        return _bloom_positions(col, k, mask)

    # pyspark's shiftleft/shiftright DSL functions only take a Python
    # int shift amount — dynamic (column) shifts go through F.expr
    setbit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))")
    word_bits = (
        existing.select(
            F.explode(F.array(*positions(F.col(fp_col)))).alias("p")
        )
        # a NULL fingerprint hashes to NULL positions — drop them here
        # (NULL never equals anything, so the plain anti-join this
        # function must match admits every batch row regardless)
        .filter(F.col("p").isNotNull())
        .groupBy(F.shiftright("p", 6).alias("w"))
        .agg(F.bit_or(setbit).alias("b"))
    )

    pos_names = [f"_bloom_p{i}" for i in range(k)]
    staged = batch.select(
        "*",
        *[
            p.alias(n)
            for p, n in zip(positions(F.col(fp_col)), pos_names)
        ],
    )
    drop_cols = list(pos_names)
    if mode == "sharded":
        # No dense bitmap anywhere: probe verdicts per DISTINCT
        # fingerprint via a word-index equi-join against the sparse
        # (w, b) relation, then joined back (a NULL-fp batch row never
        # matches the join and falls through to definitely-new, exactly
        # like the NULL probe in the dense layouts).
        probes = (
            staged.select(fp_col, *pos_names)
            .distinct()
            .select(
                F.col(fp_col),
                F.explode(
                    F.array(*[F.col(n) for n in pos_names])
                ).alias("p"),
            )
            .withColumn("w", F.shiftright("p", 6))
        )
        hits = (
            probes.join(word_bits, "w", "left")
            .select(
                F.col(fp_col),
                F.coalesce(
                    F.col("b").bitwiseAND(setbit) != 0, F.lit(False)
                ).alias("hit"),
            )
            .groupBy(fp_col)
            .agg(F.bool_and("hit").alias("_bloom_all_set"))
        )
        staged = staged.join(hits, fp_col, "left")
        maybe = F.col("_bloom_all_set")
        drop_cols.append("_bloom_all_set")
    elif mode == "literal":
        bitmap = [0] * n_words
        for r in word_bits.collect():
            bitmap[int(r["w"])] = int(r["b"])
        from rick_and_morty_data_pipeline_project_spark.functions.litjson import (
            array_lit,
        )

        bm = array_lit(bitmap, "bigint")
    else:
        # densify sparse (w, b) rows into ONE array row engine-side:
        # global agg always yields exactly one row (empty corpus →
        # empty map → all-zero bitmap), broadcast as the 1-row build
        # side of a nested-loop join — constant plan size in m.
        bm_df = (
            word_bits.groupBy()
            .agg(
                F.map_from_arrays(
                    F.collect_list("w"), F.collect_list("b")
                ).alias("m")
            )
            .select(
                F.transform(
                    F.sequence(
                        F.lit(0).cast("long"),
                        F.lit(n_words - 1).cast("long"),
                    ),
                    lambda i: F.coalesce(
                        F.element_at(F.col("m"), i), F.lit(0).cast("long")
                    ),
                ).alias("_bloom_bm")
            )
        )
        staged = staged.crossJoin(F.broadcast(bm_df))
        bm = F.col("_bloom_bm")
        drop_cols.append("_bloom_bm")

    if mode != "sharded":
        probe_bits = [
            (
                F.element_at(
                    bm, (F.shiftright(F.col(n), 6) + 1).cast("int")
                ).bitwiseAND(
                    F.expr(
                        f"shiftleft(CAST(1 AS BIGINT), CAST({n} % 64 AS INT))"
                    )
                )
                != 0
            )
            for n in pos_names
        ]
        maybe = probe_bits[0]
        for b in probe_bits[1:]:
            maybe = maybe & b
    # NULL fingerprint ⇒ NULL positions ⇒ NULL probe: treat as
    # definitely-new, because a NULL key never matches in the anti-join
    # either — otherwise both filters drop the row and the "identical
    # to the plain anti-join" contract breaks
    maybe = F.coalesce(maybe, F.lit(False))
    definite_new = staged.filter(~maybe).drop(*drop_cols)
    survivors = staged.filter(maybe).drop(*drop_cols).join(
        existing.select(fp_col), fp_col, "left_anti"
    )
    return survivors.unionByName(definite_new.select(*survivors.columns))


def incremental_dedup_prefiltered(
    batch: DataFrame,
    existing: DataFrame,
    fp_col: str = "fp",
    prefix_len: int = 2,
) -> DataFrame:
    """Incremental dedup with a Bloom-style membership pre-filter: batch
    rows whose fingerprint PREFIX bucket is empty in the existing corpus
    are definitely new and bypass the anti-join entirely; only rows in
    occupied buckets pay the exact fingerprint anti-join.

    The occupancy set is a driver-collected list of ≤ 16^prefix_len hex
    prefixes (256 at the default) — a 1-hash Bloom filter whose size is
    INDEPENDENT of corpus size, the same bounded-literal-collection
    pattern as the IVF centroid list (operators/similarity.py).  When
    every bucket is occupied (a saturated filter — the steady state for
    a 100 TB corpus with 256 buckets) the pre-filter passes everything
    through and the plan degrades gracefully to the plain anti-join; at
    a realistic 2^30-bit filter the bypass removes the join for the
    overwhelming share of genuinely-new rows.  Result is provably
    identical to ``batch ANTI JOIN existing ON fp`` for any inputs —
    false bucket hits are resolved by the exact join, never kept.
    """
    pfx = F.substring(F.col(fp_col), 1, prefix_len)
    occupied = [
        r["b"]
        for r in existing.select(pfx.alias("b")).distinct().collect()
    ]
    definite_new = batch.filter(~pfx.isin(occupied))
    maybe_dup = batch.filter(pfx.isin(occupied))
    survivors = maybe_dup.join(
        existing.select(fp_col), fp_col, "left_anti"
    )
    return survivors.unionByName(definite_new.select(*survivors.columns))
