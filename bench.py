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

from rick_and_morty_data_pipeline_project_spark.queries.catalog import QUERIES
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


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Pre-run load, captured BEFORE the JVM starts: the post-run
    # 1-minute average is inflated by the bench itself, so only the
    # pre-run number tells whether the host was already contended when
    # timing began.
    try:
        pre_load_1m = round(os.getloadavg()[0], 2)
    except OSError:
        pre_load_1m = None
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
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = QUERIES[name].fn
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    # Host-load annotation: this shared host shows multi-x scheduling
    # jitter (PERFORMANCE.md quotes 2.0-6.8 s for one query back to
    # back); the 1-minute load average lets a reviewer separate
    # contention from plan regressions when comparing rounds.
    try:
        load_1m = round(os.getloadavg()[0], 2)
    except OSError:
        load_1m = None
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "protocol": "min_of_3",
                "host_load_1m_pre": pre_load_1m,
                "host_load_1m": load_1m,
            }
        )
    )


if __name__ == "__main__":
    main()
