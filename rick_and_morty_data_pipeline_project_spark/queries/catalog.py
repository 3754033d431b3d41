"""The complete named-query catalog exported through __spark_entry__.py.

Each entry is an operator-family exemplar from SURVEY.md §2 (plus the
§2.10 training-data-pipeline extensions).  Entries with ``sql`` set are
fully hash-verified against DuckDB by the driver; ``sql=None`` entries
(sequential greedy matching, LSH with engine-side constants, sketches)
get the rows-only check and are covered by Python oracles in tests/.

Driver window contract: the verification driver compares the FIRST 50
exported queries against their oracles.  ``DRIVER_WINDOW`` is that
fixed list: 50 distinct catalog entries, each carrying a full DuckDB
oracle, and ``queries_dict()`` exports them first, in this order.  The
import-time asserts below check all of it, so a window entry that loses
its oracle fails loudly at import.  Every query outside the window stays
exported (positions 51+) and is still cell-exact verified locally by
tests/test_oracle_parity.py, which parametrizes the WHOLE catalog.
"""

from __future__ import annotations

from rick_and_morty_data_pipeline_project_spark.queries import (
    bbitq,
    bpeq,
    coarsenq,
    compactq,
    extraq,
    lakeq,
    lmq,
    mmq,
    npstatq,
    opqq,
    pqq,
    reference,
    retrievalq,
    runcardq,
    sketchq,
    statsq,
    textq,
    tpch,
    tpchf,
    tpchx,
    vecq,
    vecxq,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import Q

_ALL: dict[str, Q] = {}
for mod in (
    tpch, tpchx, tpchf, textq, vecq, extraq, mmq, reference, sketchq, bpeq,
    retrievalq, lakeq, statsq, pqq, coarsenq, opqq, compactq, vecxq, lmq, bbitq, npstatq,
    runcardq,
):
    for name, q in mod.QUERIES.items():
        assert name not in _ALL, f"duplicate query name: {name}"
        _ALL[name] = q

# The 50 driver-checked slots.  All must carry a full DuckDB oracle.
DRIVER_WINDOW: tuple[str, ...] = (
    "dedup_dup_factor_profile",
    "curation_run_card_whatif",
    "curation_run_card",
    "dedup_jaccard_prefix_join",
    "dedup_lsh_banding_frontier",
    "dedup_threshold_frontier",
    "knn_frontier_recall_cost",
    "knn_ivf_probe_frontier",
    "flagship_greedy_match",
    "flagship_best_match_with_replacement",
    "agg_sorted_string",
    "events_survival_km",
    "graph_kcore_peel",
    "graph_triangle_count",
    "mv_incremental_refresh",
    "privacy_k_anonymity",
    "profile_drift_orders",
    "supplier_market_hhi",
    "table_range_partition_plan",
    "table_zorder_layout",
    "agg_exact_distinct",
    "agg_grouping_sets",
    "agg_macro_avg_rounded",
    "agg_percentiles",
    "agg_rollup_region_nation",
    "array_functions",
    "audit_row_constraints",
    "audit_table_checksum",
    "basket_part_affinity",
    "customer_rfm_segments",
    "decontaminate_ngram_overlap",
    "dedup_embedding_cosine",
    "dedup_minhash_estimate_audit",
    "dedup_semantic_clusters",
    "dedup_simhash",
    "embedding_norms",
    "events_hourly_rollup",
    "join_asof_click_error",
    "join_interval_bucketized",
    "join_on_expression",
    "join_pit_segment_revenue",
    "join_range_user_window",
    "join_self_lineitem_pairs",
    "join_semi_customers_with_open_orders",
    "pivot_event_type_by_day",
    "q2_scan_filter_project",
    "sample_source_mixture",
    "scalar_math_functions",
    "scalar_null_conditional",
    "scalar_regex_functions",
)

assert len(DRIVER_WINDOW) == 50, len(DRIVER_WINDOW)
assert len(set(DRIVER_WINDOW)) == 50, "duplicate name in DRIVER_WINDOW"
for _name in DRIVER_WINDOW:
    assert _name in _ALL, f"unknown query in DRIVER_WINDOW: {_name}"
    assert _ALL[_name].sql is not None, f"window entry lacks oracle: {_name}"

QUERIES: dict[str, Q] = {name: _ALL[name] for name in DRIVER_WINDOW}
for name, q in _ALL.items():
    if name not in QUERIES:
        QUERIES[name] = q


def queries_dict():
    return {name: q.fn for name, q in QUERIES.items()}


def oracle_sql_dict():
    return {name: q.sql for name, q in QUERIES.items() if q.sql is not None}
