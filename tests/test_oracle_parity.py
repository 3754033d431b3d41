"""Replicates the driver's t2 gate for every catalog query that declares
an oracle, at sf0.01 — the same data the driver uses."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from rick_and_morty_data_pipeline_project_spark.queries.catalog import (
    QUERIES,
    oracle_sql_dict,
)
from tests.conftest import SF_ORACLE
from tests.oracle_harness import compare, duckdb_run

ORACLE_QUERIES = sorted(
    name for name, q in QUERIES.items() if q.sql is not None
)


@pytest.fixture(scope="module")
def oracles():
    return oracle_sql_dict(SF_ORACLE)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, oracles, name):
    q = QUERIES[name]
    sdf = q.fn(spark, SF_ORACLE)
    odf = duckdb_run(oracles[name], SF_ORACLE)
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


# The entries whose oracle inlines literals fitted from a corpus tree:
# the catalog carries a builder ``sf_dir -> str`` for them, not SQL text.
TREE_FITTED = frozenset({
    "embedding_pca_project", "knn_cosine_ivf_kmeans", "knn_cosine_pq",
    "knn_cosine_ivfpq", "knn_cosine_opq", "compact_layout_audit",
    "profile_table_files", "profile_table_files_fast",
})


def test_catalog_import_reads_no_data():
    """With every parquet and DuckDB reader replaced by one that raises,
    importing the entry point still succeeds: no oracle is fitted."""
    code = (
        "import duckdb, pyarrow.dataset as pds, pyarrow.parquet as pq\n"
        "def boom(*a, **k): raise AssertionError('data read at import')\n"
        "pds.dataset = pq.read_table = pq.ParquetFile = duckdb.connect = boom\n"
        "import __spark_entry__\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    run = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True
    )
    assert run.returncode == 0, run.stderr[-2000:]


def test_oracle_sql_dict_builds_from_the_tree_it_is_given(tmp_path):
    """A tree without the corpus leaves out exactly the tree-fitted
    entries; every other oracle is the SQL text the driver gets."""
    import __spark_entry__ as entry

    want, got = entry.oracle_sql(), oracle_sql_dict(str(tmp_path))
    assert {n for n, q in QUERIES.items() if callable(q.sql)} == TREE_FITTED
    assert set(want) - set(got) == TREE_FITTED
    assert got == {name: want[name] for name in got}


def test_oracle_builder_failure_raises(monkeypatch):
    """Only a missing tree skips a builder; any other error surfaces."""

    def broken(sf_dir):
        raise ValueError("builder bug")

    monkeypatch.setattr(QUERIES["compact_layout_audit"], "sql", broken)
    with pytest.raises(ValueError, match="builder bug"):
        oracle_sql_dict(SF_ORACLE)
