"""Partition-coarsening executor: many tiny hive partitions → one file
per planned merge group, content-preserving, pruning-preserving,
refusing to race concurrent ingest."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from rick_and_morty_data_pipeline_project_spark.operators.coarsen import (
    coarsen_partitions,
    plan_partition_coarsen,
    recover_table,
)
from rick_and_morty_data_pipeline_project_spark.sources.corpus import load_table
from tests.conftest import SF_SMALL

_TARGET = 250


def data_file_stats(spark, table_dir: str):
    """Per-data-file row counts for a parquet table — the before/after
    evidence a coarsening run is judged by."""
    return (
        spark.read.parquet(table_dir)
        .select(F.input_file_name().alias("file"))
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def _mk_tiny_table(spark, tmp_path):
    events = load_table(spark, SF_SMALL, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    # ts cast to string for a stable round-trip comparison; the
    # coarsener is type-agnostic
    df = events.select(
        "event_id",
        F.col("ts").cast("string").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "day",
    )
    table_dir = str(tmp_path / "events_by_day")
    df.repartition("day").write.partitionBy("day").parquet(table_dir)
    return table_dir, df


def test_coarsen_preserves_content_and_hits_plan(spark, tmp_path):
    table_dir, df = _mk_tiny_table(spark, tmp_path)
    before_files = data_file_stats(spark, table_dir).count()
    want = sorted(
        (r["event_id"], r["ts"], r["user_id"], r["event_type"], str(r["day"]))
        for r in df.collect()
    )

    stats = coarsen_partitions(spark, table_dir, "day", _TARGET)
    after = spark.read.parquet(table_dir)

    # content preserved bit-for-bit (original columns; grp is additive)
    # hive partition inference reads the day dir values back as DATE;
    # str() normalizes both sides to the ISO form
    got = sorted(
        (r["event_id"], r["ts"], r["user_id"], r["event_type"], str(r["day"]))
        for r in after.collect()
    )
    assert got == want and stats["n_rows"] == len(want)

    # exactly one data file per planned group, and genuinely fewer files
    files = data_file_stats(spark, table_dir)
    assert files.count() == stats["n_groups"] < before_files

    # first-fit upper bound: group total ≤ target + its own overshoot
    # partition, so never more than target + largest input partition
    per_day = df.groupBy("day").count()
    max_part = per_day.agg(F.max("count")).collect()[0][0]
    sizes = [r["n_rows"] for r in files.collect()]
    assert all(s <= _TARGET + max_part for s in sizes)

    # pruning-preserving: a day filter still answers correctly, and
    # each file's day range is contiguous (rows sorted by day in-file)
    one_day = df.select("day").distinct().limit(1).collect()[0]["day"]
    assert (
        after.filter(F.col("day") == one_day).count()
        == df.filter(F.col("day") == one_day).count()
    )
    spans = (
        after.select(
            F.input_file_name().alias("f"), F.col("day").cast("string")
        )
        .groupBy("f")
        .agg(F.countDistinct("day").alias("n_days"))
        .collect()
    )
    n_days_total = df.select("day").distinct().count()
    assert sum(r["n_days"] for r in spans) == n_days_total  # no overlap


def test_coarsen_recovers_mid_swap_crash(spark, tmp_path):
    """A crash between the two swap renames leaves the table at
    .__merge_old__; recover_table (and coarsen_partitions, which reads
    the table it rewrites) must RESTORE it, never delete it as stale —
    and the rewrite must see the recovered content."""
    import shutil

    table_dir, df = _mk_tiny_table(spark, tmp_path)
    n = df.count()
    # simulate the crash window: table moved aside, new one not yet in
    shutil.move(table_dir, table_dir + ".__merge_old__")
    assert recover_table(spark, table_dir) is True
    assert recover_table(spark, table_dir) is False  # idempotent
    assert spark.read.parquet(table_dir).count() == n

    # same crash again, but now recovery rides the rewrite itself
    shutil.move(table_dir, table_dir + ".__merge_old__")
    stats = coarsen_partitions(spark, table_dir, "day", _TARGET)
    assert stats["n_rows"] == n == spark.read.parquet(table_dir).count()


def test_plan_partition_coarsen_matches_first_fit_reference(spark):
    rows = [("p%02d" % i, n) for i, n in enumerate([5, 7, 3, 10, 1, 1, 9])]
    counts = spark.createDataFrame(rows, ["p", "n_rows"])
    got = {
        r["p"]: r["grp"]
        for r in plan_partition_coarsen(counts, "p", 10).collect()
    }
    # brute-force first-fit: grp = floor((cumsum - n)/target)
    cum, want = 0, {}
    for p, n in rows:
        want[p] = cum // 10
        cum += n
    assert got == want


def test_coarsen_refuses_on_row_count_mismatch(spark, tmp_path):
    """The pre-swap verification is live: a doctored plan that drops a
    partition must raise and leave the original table untouched."""
    from rick_and_morty_data_pipeline_project_spark.operators import (
        coarsen as C,
    )

    table_dir, df = _mk_tiny_table(spark, tmp_path)
    real_plan = C.plan_partition_coarsen

    def bad_plan(counts, part_col, target_rows):
        return real_plan(counts, part_col, target_rows).limit(5)

    C.plan_partition_coarsen = bad_plan
    try:
        with pytest.raises(IOError, match="expected"):
            coarsen_partitions(spark, table_dir, "day", _TARGET)
    finally:
        C.plan_partition_coarsen = real_plan
    # original table intact
    assert spark.read.parquet(table_dir).count() == df.count()


def test_coarsen_refuses_when_ingest_races(spark, tmp_path):
    """A file appended after the snapshot read (simulated by appending
    from inside a doctored plan step) aborts the swap loudly — the
    in-place rewrite never silently discards late data."""
    from rick_and_morty_data_pipeline_project_spark.operators import (
        coarsen as C,
    )

    table_dir, df = _mk_tiny_table(spark, tmp_path)
    late = df.limit(3)
    real_plan = C.plan_partition_coarsen
    one_day = df.select("day").limit(1).collect()[0]["day"]

    def racing_plan(counts, part_col, target_rows):
        # streaming ingest lands a new file mid-compaction
        late.drop("day").write.mode("append").parquet(
            table_dir + f"/day={one_day}"
        )
        return real_plan(counts, part_col, target_rows)

    C.plan_partition_coarsen = racing_plan
    try:
        with pytest.raises(IOError, match="concurrent ingest"):
            coarsen_partitions(spark, table_dir, "day", _TARGET)
    finally:
        C.plan_partition_coarsen = real_plan
    # nothing lost: original rows AND the late file all present
    assert spark.read.parquet(table_dir).count() == df.count() + 3
