"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the ``rick_and_morty_data_pipeline_project_spark``
package; see SURVEY.md §2 for the operator inventory each query maps to.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rick_and_morty_data_pipeline_project_spark.queries.catalog import (  # noqa: E402
    QUERIES,
    oracle_sql_dict,
    queries_dict,
)
from rick_and_morty_data_pipeline_project_spark.session import tune_session  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (EP-2 greedy matching restated over the driver
    corpus — SURVEY.md §3 EP-2) on /root/testdata/sf0.001."""
    tune_session(spark)
    return QUERIES["flagship_greedy_match"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator family from SURVEY.md §2."""
    return queries_dict()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query.  Omitted only for the
    FROZEN rows-only core of 4 genuinely non-SQL-expressible entries
    (pinned in ``tests/test_oracle_parity.py``; adjudications in
    COVERAGE.md §rows-only): ``agg_approx_distinct`` (certifies Spark's
    own HLL++ ``approx_count_distinct`` — engine-internal by
    definition), ``events_hourly_percentiles_approx`` and
    ``customer_rfm_segments_approx`` (KLL/GK sketch internals; each has
    a fully-oracled ``_audit`` rank-window twin in the catalog), and
    ``multimodal_decode_real``, whose md5-chain byte material needs
    md5(BLOB) — unavailable in DuckDB.  The former rows-only sketch
    entries (``sketch_hll_rollup``, ``sketch_cms_user_counts``,
    ``events_rolling_dau_hll``) were promoted to full oracles in r7-r9
    via explicit-register relational sketches.  (Two more —
    ``embedding_pca_project``, ``knn_cosine_ivf_kmeans`` — carry
    canonical-literal oracles built from the sf0.01 testdata at import
    and degrade to rows-only only when that tree is absent.)  Every
    rows-only entry carries a Python oracle or property test in tests/
    instead."""
    return oracle_sql_dict()
