"""Driver-certified small-file COMPACTION executor (round 10 — the
file-granularity twin of ``coarsen_layout_audit``; with it, every
lakehouse-maintenance operator carries a driver row).

``compact_layout_audit`` stages orders as ~81 tiny one-file-per-month
parquet files (deterministic per-file row counts — each file IS one
month), runs the real ``operators/compaction.compact`` (best-fit-
decreasing bin packing planned driver-side over the file list, rewrite
as one file per ``_bin=K/`` directory), and audits the result per bin:

* ``bin_rows``   — rows that landed in the bin,
* ``src_files``  — how many source files the planner merged into it
  (from ``plan_compaction``; compact re-plans over the identical
  listing, so the assignments coincide),
* ``out_files``  — physical files in the bin's directory (the oracle
  pins 1 — the repartition-by-bin + partitionBy write contract),
* ``total_rows`` — the table total (row preservation, corpus-tied:
  the oracle computes it from the orders view, Spark from the actual
  compacted table).

Oracle strategy — canonical-literal with a TIE-INVARIANCE argument:
best-fit-decreasing is sequential (no window function expresses it),
so the oracle inlines the bin (rows, files) multiset replayed in pure
Python from the corpus tree it checks (`_bfd_bins` — the same bisect
best-fit as ``plan_compaction``).  The staged file names are
Spark-generated UUIDs, so the DESC-size/ASC-name processing order is
only fixed up to permutations of EQUAL-sized files — but BFD's state
(the multiset of open-bin remaining capacities) depends on the SIZE
sequence alone, so equal-size permutations produce identical bin-size/
file-count multisets.  The audit therefore returns the per-bin rows
WITHOUT bin ids, and the driver's order-insensitive hash compares
multisets.  ``tests/test_compactq.py`` pins the invariance claim
directly (shuffled equal-size inputs → identical multiset).

Scale: planning is driver-side over the FILE LIST (bounded by file
count, not data — a 10⁵-file 100 TB table is a 10⁵-row problem);
the rewrite is one bin-keyed shuffle; the audit aggregates one row
per bin.  The staging is test scaffolding, as in coarsenq.
"""

from __future__ import annotations

import shutil
import tempfile
from bisect import bisect_left, insort

from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
    materialize,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import Q, t

_N_BINS = 15  # same total//15 target rule as coarsen_layout_audit


def _bfd_bins(counts, target):
    """Pure-Python replay of ``plan_compaction``'s best-fit-decreasing
    packing over (label, n_rows) pairs → sorted multiset of
    (bin_rows, src_files).  Mirrors the operator bit-for-bit: DESC
    size / ASC label order, bisect tightest-fit, capacity floor 0."""
    open_bins: list[tuple[int, int]] = []  # (remaining, bin_id)
    rows: dict[int, int] = {}
    files: dict[int, int] = {}
    n_bins = 0
    for label, n in sorted(counts, key=lambda p: (-p[1], p[0])):
        i = bisect_left(open_bins, (n, -1))
        if i < len(open_bins):
            remaining, bin_id = open_bins.pop(i)
            insort(open_bins, (remaining - n, bin_id))
        else:
            bin_id = n_bins
            n_bins += 1
            insort(open_bins, (max(target - n, 0), bin_id))
        rows[bin_id] = rows.get(bin_id, 0) + n
        files[bin_id] = files.get(bin_id, 0) + 1
    return sorted((rows[b], files[b]) for b in rows)


def compact_layout_audit(spark, sf_dir):
    """Stage one tiny file per order month, compact to target-sized
    bins, audit the physical result (module docstring).  Certifies the
    BFD plan, row preservation, and the one-file-per-bin layout."""
    from rick_and_morty_data_pipeline_project_spark.operators.compaction import (
        compact,
        plan_compaction,
    )

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
    )
    target = max(1, orders.count() // _N_BINS)
    src = tempfile.mkdtemp(prefix="spark_graft_compact_src_")
    dst = tempfile.mkdtemp(prefix="spark_graft_compact_dst_")
    try:
        orders.repartition("o_month").write.mode("overwrite").partitionBy(
            "o_month"
        ).parquet(src)
        plan = plan_compaction(spark, src, target)  # same listing compact
        src_files = plan.groupBy(F.col("bin_id").alias("_bin")).agg(
            F.count(F.lit(1)).alias("src_files")
        )
        compact(spark, src, dst, target)
        post = spark.read.parquet(dst)
        per_bin = (
            post.withColumn("_f", F.input_file_name())
            .groupBy("_bin")
            .agg(
                F.count(F.lit(1)).alias("bin_rows"),
                F.countDistinct("_f").alias("out_files"),
            )
            .join(F.broadcast(src_files), "_bin")
        )
        total = post.groupBy().agg(F.count(F.lit(1)).alias("total_rows"))
        return materialize(  # before the staging dirs die
            per_bin.crossJoin(F.broadcast(total)).select(
                "bin_rows", "src_files", "out_files", "total_rows"
            )
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(dst, ignore_errors=True)


def _oracle_sql(sf_dir) -> str:
    """Canonical-literal oracle: replay the month counts + BFD packing
    from ``sf_dir``'s orders; ``total_rows`` stays corpus-computed so a
    tree that differs from the one the literals came from turns the
    oracle loudly red instead of silently stale."""
    import duckdb

    with duckdb.connect() as con:
        counts = con.execute(
            "SELECT strftime(o_orderdate, '%Y-%m') AS m, COUNT(*) AS n "
            f"FROM '{sf_dir}/orders.parquet' GROUP BY 1"
        ).fetchall()
    total = sum(n for _, n in counts)
    target = max(1, total // _N_BINS)
    bin_rows = ", ".join(
        f"({r}, {f})" for r, f in _bfd_bins(counts, target)
    )
    return f"""
WITH bins(bin_rows, src_files) AS (VALUES {bin_rows})
SELECT CAST(bin_rows AS BIGINT) AS bin_rows,
       CAST(src_files AS BIGINT) AS src_files,
       CAST(1 AS BIGINT) AS out_files,
       (SELECT COUNT(*) FROM orders) AS total_rows
FROM bins
"""


QUERIES: dict[str, Q] = {
    "compact_layout_audit": Q(compact_layout_audit, _oracle_sql),
}
