"""The curation RUN CARD — one relation that composes the five r12
decision tables (ANN tier frontier, IVF probe sweep, LSH banding
sweep, dedup threshold sweep, quality-filter threshold sweep) into the
single (stage, chosen config, quality, cost) plan a 100 TB curation
deployment signs off before committing a configuration.

Each stage applies a fixed, documented operating policy to its own
decision table and emits exactly one row:

* ``ann_index``        — cheapest index variant with mean_recall ≥ 0.60
                         (cost = cost_bytes, the frontier's byte model)
* ``ivf_probes``       — fewest scored candidate pairs with
                         mean_recall ≥ 0.90
* ``lsh_banding``      — fewest candidate pairs with pair recall ≥ 0.90
* ``dedup_threshold``  — MOST AGGRESSIVE (lowest) Jaccard threshold
                         keeping corpus retention ≥ 0.95
* ``quality_threshold`` — STRICTEST (highest) classifier threshold
                         keeping token retention ≥ 0.50

Selection is a single deterministic rank: ``meets_target DESC,
cost_value ASC, config ASC`` — so a stage where NO config meets its
target still emits its least-cost row (flagged ``meets_target = 0``)
instead of vanishing, and every tie is broken by the unique config
string.  All ranked values are the component tables' own outputs,
already driver-proven bit-identical across engines (the five tables
are individually hash-green), and the comparisons introduce no new
float arithmetic — so the composition inherits their exactness.

Reference parity note: the reference (453-line scraper, Scraper.py)
has no tuning surface at all; this completes SURVEY.md §2.10's
operational story (r12 verdict stretch 8).

100 TB shape: each component pipeline keeps its certified plan (the
run card adds ONE ~30-row union + a 5-partition window on top), so the
cost model of the card is exactly the sum of the five audited tables —
nothing new shuffles at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rick_and_morty_data_pipeline_project_spark.operators.localrel import (
    local_relation,
)
from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
    concurrently,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import Q

# Operating targets (module constants so the oracle SQL and the Spark
# plan are built from the SAME literals).
ANN_RECALL_MIN = 0.60
PROBE_RECALL_MIN = 0.90
BANDING_RECALL_MIN = 0.90
DEDUP_RETENTION_MIN = 0.95
QUALITY_TOKEN_RETENTION_MIN = 0.50

# What-if policy points (r14, r13 verdict stretch 9): the targets the
# parameterized twin sweeps per stage — each stage's standing target
# sits in the middle of its sweep so the card's chosen row is always
# one of the twin's rows.  Tuple order is (lenient, standing, strict).
WHATIF_TARGETS: dict[str, tuple[float, ...]] = {
    "ann_index": (0.40, ANN_RECALL_MIN, 0.80),
    "ivf_probes": (0.60, PROBE_RECALL_MIN, 0.99),
    "lsh_banding": (0.60, BANDING_RECALL_MIN, 0.99),
    "dedup_threshold": (0.80, DEDUP_RETENTION_MIN, 0.99),
    "quality_threshold": (0.25, QUALITY_TOKEN_RETENTION_MIN, 0.75),
}


def _norm_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ~33-row normalized (stage, config, quality_value,
    cost_value) relation underlying BOTH the run card and its what-if
    twin — every row of every decision table, mapped onto one schema.

    It costs less than the plain SUM of the five audited arms because
    the arms share their inputs: the two dedup arms share ONE
    collapse-gated (doc_id, text, _g) relation and ONE
    weakest-threshold co-occurrence materialization (the banding truth
    set is its J ≥ 0.7 subset), and the two vector arms share the
    exact brute-force top-k and the coarse-quantizer centroid collect.
    Each arm's plan below the share points is unchanged — the
    decision tables stay bit-identical to the standalone,
    driver-certified queries (pinned in tests/test_runcard.py)."""
    from rick_and_morty_data_pipeline_project_spark.queries.textq import (
        dedup_lsh_banding_frontier,
        dedup_threshold_frontier,
        shared_dedup_relations,
        text_quality_threshold_frontier,
    )
    from rick_and_morty_data_pipeline_project_spark.queries.vecxq import (
        knn_frontier_recall_cost,
        knn_ivf_probe_frontier,
        shared_knn_relations,
    )

    # Every materialization inside an arm is a BLOCKING driver action,
    # so building the arms sequentially serializes their jobs (the
    # card's wall was ≈ the sum of them).  The quality arm, the dedup
    # chain and the vector chain (shared relations, then their two
    # arms) are built concurrently so the Spark scheduler overlaps
    # them; materialized contents are order-independent, so the
    # relation is bit-identical (tests/test_runcard.py pins arm-by-arm
    # equality).
    def norm(df, stage, config, quality, cost):
        return df.select(
            F.lit(stage).alias("stage"),
            config.cast("string").alias("config"),
            quality.cast("double").alias("quality_value"),
            cost.cast("double").alias("cost_value"),
        )

    def build_ann(vshared):
        return norm(
            knn_frontier_recall_cost(spark, sf_dir, _shared=vshared),
            "ann_index",
            F.col("variant"),
            F.col("mean_recall"),
            F.col("cost_bytes"),
        )

    def build_probe(vshared):
        return norm(
            knn_ivf_probe_frontier(spark, sf_dir, _shared=vshared),
            "ivf_probes",
            F.col("n_probe"),
            F.col("mean_recall"),
            F.col("cand_pairs"),
        )

    def build_band(dshared):
        return norm(
            dedup_lsh_banding_frontier(spark, sf_dir, _shared=dshared),
            "lsh_banding",
            F.concat(
                F.col("n_bands").cast("string"),
                F.lit("x"),
                F.col("band_size").cast("string"),
            ),
            F.col("recall"),
            F.col("n_candidates"),
        )

    def build_thresh(dshared):
        # aggressiveness preference: LOWER threshold removes more, so
        # the threshold itself is the rank cost
        return norm(
            dedup_threshold_frontier(spark, sf_dir, _shared=dshared),
            "dedup_threshold",
            F.col("threshold_pct"),
            F.col("retention"),
            F.col("threshold_pct"),
        )

    def build_quality():
        # strictness preference: HIGHER threshold filters harder, so
        # rank cost is the complement
        return norm(
            text_quality_threshold_frontier(spark, sf_dir),
            "quality_threshold",
            F.col("threshold_pct"),
            F.col("token_retention"),
            F.lit(100) - F.col("threshold_pct"),
        )

    def dedup_arms():
        dshared = shared_dedup_relations(spark, sf_dir)
        return concurrently(
            lambda: build_band(dshared), lambda: build_thresh(dshared)
        )

    def vector_arms():
        vshared = shared_knn_relations(spark, sf_dir)
        return concurrently(
            lambda: build_ann(vshared), lambda: build_probe(vshared)
        )

    qual, (band, thresh), (ann, probe) = concurrently(
        build_quality, dedup_arms, vector_arms
    )

    return ann.unionByName(probe).unionByName(band).unionByName(
        thresh
    ).unionByName(qual)


def _pick(union: DataFrame, keys: list[str]) -> DataFrame:
    """One chosen row per key group: meets_target DESC, cost ASC,
    config ASC — NULL quality (e.g. undefined recall on an empty truth
    set) reads as "does not meet" via when().otherwise(0), same as SQL
    CASE."""
    w = Window.partitionBy(*keys).orderBy(
        F.desc("meets_target"), F.asc("cost_value"), F.asc("config")
    )
    return (
        union.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def curation_run_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage, config, quality_value, cost_value, meets_target) — one
    row per pipeline stage, the config each stage's policy selects
    from its decision table (module comment above)."""
    targets = {s: t[1] for s, t in WHATIF_TARGETS.items()}
    tgt = F.when(
        F.col("stage") == "ann_index", F.lit(targets["ann_index"])
    )
    for s in (
        "ivf_probes", "lsh_banding", "dedup_threshold",
        "quality_threshold",
    ):
        tgt = tgt.when(F.col("stage") == s, F.lit(targets[s]))
    union = _norm_union(spark, sf_dir).withColumn(
        "meets_target",
        F.when(F.col("quality_value") >= tgt, 1).otherwise(0).cast("int"),
    )
    return _pick(union, ["stage"])


def curation_run_card_whatif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage, target_min, config, quality_value, cost_value,
    meets_target) — the run card as a DECISION SURFACE (r13 verdict
    stretch 9): every stage's chosen config at each of its three
    policy points (lenient / standing / strict, WHATIF_TARGETS), so an
    operator reads how the selection MOVES as the target tightens
    instead of a single hard-coded operating point.  One extra
    broadcast fan-out (3 rows/stage) over the same ~33-row normalized
    relation the card ranks — the five component pipelines run once.

    The standing-target rows reproduce the card's selection exactly
    (pinned in tests/test_runcard.py)."""
    pts = local_relation(
        spark,
        [(s, t) for s, ts in sorted(WHATIF_TARGETS.items()) for t in ts],
        "stage string, target_min double",
    )
    union = (
        _norm_union(spark, sf_dir)
        # No materialization here: the 3-point fan-out is a BROADCAST
        # join, and a broadcast join streams its probe side exactly
        # once — the five component pipelines execute once inside the
        # final job with or without a materialization barrier (the
        # union relation has a single consumer; _pick's window sits
        # above the join).  Materializing would add a blocking driver
        # job (measured 19.3 s without vs 20.9 s with at sf0.1,
        # min-of-2, contended interleave), with row-exact parity.
        .join(F.broadcast(pts), "stage")
        .withColumn(
            "meets_target",
            F.when(F.col("quality_value") >= F.col("target_min"), 1)
            .otherwise(0)
            .cast("int"),
        )
    )
    return _pick(union, ["stage", "target_min"]).select(
        "stage",
        "target_min",
        "config",
        "quality_value",
        "cost_value",
        "meets_target",
    )


def _run_card_sql() -> str:
    from rick_and_morty_data_pipeline_project_spark.queries.textq import (
        BANDING_FRONTIER_SQL,
        QUALITY_FRONTIER_SQL,
        THRESHOLD_FRONTIER_SQL,
    )
    from rick_and_morty_data_pipeline_project_spark.queries.vecxq import (
        FRONTIER_SQL,
        PROBE_FRONTIER_SQL,
    )

    return f"""
WITH ann_t AS (SELECT * FROM ({FRONTIER_SQL})),
probe_t AS (SELECT * FROM ({PROBE_FRONTIER_SQL})),
band_t AS (SELECT * FROM ({BANDING_FRONTIER_SQL})),
thresh_t AS (SELECT * FROM ({THRESHOLD_FRONTIER_SQL})),
qual_t AS (SELECT * FROM ({QUALITY_FRONTIER_SQL})),
norm AS (
  SELECT 'ann_index' AS stage, CAST(variant AS VARCHAR) AS config,
         CAST(mean_recall AS DOUBLE) AS quality_value,
         CAST(cost_bytes AS DOUBLE) AS cost_value,
         CASE WHEN mean_recall >= {ANN_RECALL_MIN!r} THEN 1 ELSE 0 END
           AS meets_target
  FROM ann_t
  UNION ALL
  SELECT 'ivf_probes', CAST(n_probe AS VARCHAR),
         CAST(mean_recall AS DOUBLE), CAST(cand_pairs AS DOUBLE),
         CASE WHEN mean_recall >= {PROBE_RECALL_MIN!r} THEN 1 ELSE 0 END
  FROM probe_t
  UNION ALL
  SELECT 'lsh_banding',
         CAST(n_bands AS VARCHAR) || 'x' || CAST(band_size AS VARCHAR),
         CAST(recall AS DOUBLE), CAST(n_candidates AS DOUBLE),
         CASE WHEN recall >= {BANDING_RECALL_MIN!r} THEN 1 ELSE 0 END
  FROM band_t
  UNION ALL
  SELECT 'dedup_threshold', CAST(threshold_pct AS VARCHAR),
         CAST(retention AS DOUBLE), CAST(threshold_pct AS DOUBLE),
         CASE WHEN retention >= {DEDUP_RETENTION_MIN!r} THEN 1 ELSE 0 END
  FROM thresh_t
  UNION ALL
  SELECT 'quality_threshold', CAST(threshold_pct AS VARCHAR),
         CAST(token_retention AS DOUBLE),
         CAST(100 - threshold_pct AS DOUBLE),
         CASE WHEN token_retention >= {QUALITY_TOKEN_RETENTION_MIN!r}
              THEN 1 ELSE 0 END
  FROM qual_t
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY stage
             ORDER BY meets_target DESC, cost_value ASC, config ASC)
           AS rn
  FROM norm
)
SELECT stage, config, quality_value, cost_value,
       CAST(meets_target AS INT) AS meets_target
FROM ranked WHERE rn = 1
"""


RUN_CARD_SQL = _run_card_sql()


def _whatif_sql() -> str:
    from rick_and_morty_data_pipeline_project_spark.queries.textq import (
        BANDING_FRONTIER_SQL,
        QUALITY_FRONTIER_SQL,
        THRESHOLD_FRONTIER_SQL,
    )
    from rick_and_morty_data_pipeline_project_spark.queries.vecxq import (
        FRONTIER_SQL,
        PROBE_FRONTIER_SQL,
    )

    # the SAME python float literals the Spark plan broadcasts —
    # repr() keeps the double bit pattern identical in both engines
    pts = ", ".join(
        f"('{s}', {t!r})"
        for s, ts in sorted(WHATIF_TARGETS.items())
        for t in ts
    )
    return f"""
WITH ann_t AS (SELECT * FROM ({FRONTIER_SQL})),
probe_t AS (SELECT * FROM ({PROBE_FRONTIER_SQL})),
band_t AS (SELECT * FROM ({BANDING_FRONTIER_SQL})),
thresh_t AS (SELECT * FROM ({THRESHOLD_FRONTIER_SQL})),
qual_t AS (SELECT * FROM ({QUALITY_FRONTIER_SQL})),
norm AS (
  SELECT 'ann_index' AS stage, CAST(variant AS VARCHAR) AS config,
         CAST(mean_recall AS DOUBLE) AS quality_value,
         CAST(cost_bytes AS DOUBLE) AS cost_value
  FROM ann_t
  UNION ALL
  SELECT 'ivf_probes', CAST(n_probe AS VARCHAR),
         CAST(mean_recall AS DOUBLE), CAST(cand_pairs AS DOUBLE)
  FROM probe_t
  UNION ALL
  SELECT 'lsh_banding',
         CAST(n_bands AS VARCHAR) || 'x' || CAST(band_size AS VARCHAR),
         CAST(recall AS DOUBLE), CAST(n_candidates AS DOUBLE)
  FROM band_t
  UNION ALL
  SELECT 'dedup_threshold', CAST(threshold_pct AS VARCHAR),
         CAST(retention AS DOUBLE), CAST(threshold_pct AS DOUBLE)
  FROM thresh_t
  UNION ALL
  SELECT 'quality_threshold', CAST(threshold_pct AS VARCHAR),
         CAST(token_retention AS DOUBLE),
         CAST(100 - threshold_pct AS DOUBLE)
  FROM qual_t
),
pts(stage, target_min) AS (VALUES {pts}),
j AS (
  SELECT n.stage, CAST(p.target_min AS DOUBLE) AS target_min,
         n.config, n.quality_value, n.cost_value,
         CASE WHEN n.quality_value >= p.target_min THEN 1 ELSE 0 END
           AS meets_target
  FROM norm n JOIN pts p ON n.stage = p.stage
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY stage, target_min
             ORDER BY meets_target DESC, cost_value ASC, config ASC)
           AS rn
  FROM j
)
SELECT stage, target_min, config, quality_value, cost_value,
       CAST(meets_target AS INT) AS meets_target
FROM ranked WHERE rn = 1
"""


WHATIF_SQL = _whatif_sql()

QUERIES = {
    "curation_run_card": Q(
        curation_run_card,
        RUN_CARD_SQL,
        "compose the five decision tables into the per-stage"
        " (config, quality, cost) run card a curation deployment"
        " signs off",
    ),
    "curation_run_card_whatif": Q(
        curation_run_card_whatif,
        WHATIF_SQL,
        "the run card as a decision surface: each stage's chosen"
        " config at three policy points (lenient/standing/strict),"
        " from one execution of the five component pipelines",
    ),
}
