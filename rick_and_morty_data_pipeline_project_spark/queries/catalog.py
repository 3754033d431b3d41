"""The complete named-query catalog exported through __spark_entry__.py.

Each entry is an operator-family exemplar from SURVEY.md §2 (plus the
§2.10 training-data-pipeline extensions).  Entries with ``sql`` set are
fully hash-verified against DuckDB by the driver; ``sql=None`` entries
(sequential greedy matching, LSH with engine-side constants, sketches)
get the rows-only check and are covered by Python oracles in tests/.

Driver window contract: the verification driver compares the FIRST 50
exported queries against their oracles.  ``DRIVER_WINDOW`` pins those
50 slots explicitly; every slot must carry a full DuckDB oracle, and
``queries_dict()`` exports them first, in that order.  Every query
outside the window stays exported (positions 51+) and is still
cell-exact verified locally by tests/test_oracle_parity.py, which
parametrizes the WHOLE catalog.

Rotation policy (standing).  A green driver row certifies the code as
it was when the row was earned, so the window rotates each round, built
from ``python tools/rotation_report.py`` output in this order:

1. **Never-checked first.**  Every oracled query that has never held a
   driver CORRECTNESS row is scheduled before anything else.  Queries
   born after a freeze get exactly one cycle of grace, recorded in
   ``tools/pending_births.json``.
2. **Changed-file re-checks.**  A query whose implementation (its
   function source, oracle SQL, or any ``operators.*``/``functions.*``
   module it references — fingerprinted in
   ``tools/query_fingerprints.json``) changed since its last green row
   must re-enter the window.  Changed queries a freeze could not fit
   are recorded in ``tools/stale_carryover.json`` and get one cycle.
3. **Flagship every round**, then oldest-green-first refreshes.  A
   green row older than ``MAX_GREEN_AGE`` rounds must be refreshed,
   unless the current round's committed full-catalog sweep
   (``SWEEP_r{N}.json``, written by ``tools/driver_sim_sweep.py
   --artifact`` with the driver's comparator) shows it hash-green; the
   sweep never substitutes for a never-checked or red query.

``--update-fingerprints`` freezes a window; ``--assert-no-debt`` gates
a round close on all three rules.  The reasoning behind each past
window lives in git history.
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

# Canonical-literal oracles (knn_cosine_ivf_kmeans, the PCA
# projection, ...) are fit from the sf0.01 testdata at import; on a
# machine without the testdata tree those entries degrade to rows-only.
# Keep the window all-oracled by swapping any degraded entry for an
# ever-green spare that still carries its oracle.
_SPARES = [
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q5_nation_volume",
    "q6_forecast_revenue",
    "knn_cosine_bruteforce",
    "text_quality_scores",
    "knn_cosine_ivf",
    "topk_two_stage_parts",
]
_spares = [
    s
    for s in _SPARES
    if s not in DRIVER_WINDOW and _ALL[s].sql is not None
]
_degraded = [n for n in DRIVER_WINDOW if _ALL[n].sql is None]
if len(_degraded) > len(_spares):
    raise RuntimeError(
        f"{len(_degraded)} window entries degraded to rows-only "
        f"(missing testdata for canonical-literal oracles: {_degraded}) "
        f"but only {len(_spares)} oracled spares are available — "
        "cannot keep the driver window all-oracled"
    )
DRIVER_WINDOW = tuple(
    n if _ALL[n].sql is not None else _spares.pop(0) for n in DRIVER_WINDOW
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
