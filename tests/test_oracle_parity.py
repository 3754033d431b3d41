"""Replicates the driver's t2 gate for every catalog query that declares
an oracle, at sf0.01 — the same data the driver uses."""

from __future__ import annotations

import pytest

from rick_and_morty_data_pipeline_project_spark.queries.catalog import QUERIES
from tests.conftest import SF_ORACLE
from tests.oracle_harness import compare, duckdb_run

ORACLE_QUERIES = sorted(
    name for name, q in QUERIES.items() if q.sql is not None
)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, name):
    q = QUERIES[name]
    sdf = q.fn(spark, SF_ORACLE)
    odf = duckdb_run(q.sql, SF_ORACLE)
    issues = compare(sdf, odf)
    assert not issues, f"{name}: " + "; ".join(issues)


def test_rows_only_queries_run(spark):
    for name, q in QUERIES.items():
        if q.sql is None:
            df = q.fn(spark, SF_ORACLE)
            assert df.count() >= 0, name


# The FROZEN rows-only core (round 10; adjudications in COVERAGE.md
# §"Rows-only core — frozen at 4").  Each entry has a written one-
# paragraph adjudication of why no DuckDB oracle can exist plus a
# Python-oracle/property test; any NEW rows-only entry must either be
# oracled or have its adjudication written and this pin updated —
# silently growing the set fails here.
ROWS_ONLY_CORE = frozenset(
    {
        "agg_approx_distinct",
        "events_hourly_percentiles_approx",
        "customer_rfm_segments_approx",
        "multimodal_decode_real",
    }
)


def test_rows_only_core_frozen_at_four():
    import __spark_entry__ as entry

    q = set(entry.queries())
    o = set(entry.oracle_sql())
    rows_only = q - o
    assert rows_only == ROWS_ONLY_CORE, (
        "the rows-only set drifted from the frozen core: "
        f"extra={sorted(rows_only - ROWS_ONLY_CORE)} "
        f"missing={sorted(ROWS_ONLY_CORE - rows_only)} — a new "
        "rows-only birth must be oracled or explicitly adjudicated "
        "in COVERAGE.md and this pin updated"
    )
