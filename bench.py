"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is forced to full materialization with the noop sink (no
driver collect cost, no skipped stages). First query pays JVM/session
warmup; a warmup pass runs a trivial job first so per-query numbers
reflect execution, not startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rick_and_morty_data_pipeline_project_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q5_nation_volume",
    "win_rank_top_orders_per_customer",
    "topk_two_stage_parts",
    "events_hourly_rollup",
    "text_emotion_scores",
    "dedup_exact_stats",
    "dedup_minhash_signatures",
    "knn_cosine_bruteforce",
    "knn_cosine_ivf",
    "dedup_minhash_lsh_candidates",
    "dedup_ngram_jaccard",
    "join_asof_click_error",
    "sessionize_events",
    "subquery_scalar_exists",
    "multimodal_metadata_stats",
    "flagship_best_match_with_replacement",
]


def min_wall_s(spark, fn, sf_dir, reps) -> float:
    """Least wall-clock seconds, rounded to ms, of ``reps`` runs of the
    catalog query ``fn`` at ``sf_dir``, each forced to full
    materialization through the noop sink."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: JVM, codegen, file listing + parquet footer reads —
    # excluded from timings (metadata-only counts; no query results are
    # precomputed or cached).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from rick_and_morty_data_pipeline_project_spark.sources.corpus import load_table

    for tbl in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        load_table(spark, sf_dir, tbl).count()

    # Three runs per query, report the min: the first run pays plan
    # compilation + whole-stage codegen for that query's unique plan
    # (measured up to 3x the steady-state time), and single runs on a
    # shared host see multi-x scheduling jitter (measured: the same
    # query 2.0s-6.8s across back-to-back runs); the min reflects
    # execution, which is what a long-lived session sees.
    timings = {
        name: min_wall_s(spark, QUERIES[name].fn, sf_dir, 3) for name in HEADLINE
    }
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "protocol": "min_of_3",
            }
        )
    )


if __name__ == "__main__":
    main()
