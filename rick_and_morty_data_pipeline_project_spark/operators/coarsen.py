"""Partition-coarsening executor — the action behind the oracled
``profile_compaction_plan`` query.

``operators/compaction.py`` packs small FILES into target-sized bins
(file-granularity, out-of-place, racing files routed to a leftover
bin).  This module executes the PARTITION-granularity plan the
catalog query computes: bin consecutive hive partitions (e.g. 200
tiny date partitions) into ~``target_rows`` merge groups with the
same first-fit running-sum rule, and rewrite the table one file per
group — "these 200 tiny date partitions should be 9 files".

Layout contract after coarsening:

* directory partitioning by ``grp`` (the merge group) — file count ==
  group count, each file ~``target_rows`` rows (bounded above by
  ``target_rows`` + the largest single input partition, the first-fit
  guarantee);
* the original partition column survives as a DATA column, and rows
  are sorted by (grp, part_col) within write tasks so each file's
  row-group min/max statistics keep partition-value pruning effective
  after the physical partitions are gone (sorting by ``part_col``
  alone would NOT survive: the partitioned write inserts its own
  local sort on ``grp`` and tie order is not contractually stable).

Safety:

* rows are verified via an ``observe`` metric on the write itself (no
  second scan of the output): a count mismatch raises and the
  original table is never touched;
* the rewrite is IN-PLACE (temp-write + double-rename; the old table
  is renamed aside, never deleted, before the new one lands, and
  :func:`recover_table` heals a swap that died between its renames),
  so a file appended by concurrent ingest after the snapshot read
  would be swept aside with the old directory — the pre-swap
  RE-LISTING guard detects any such late file and aborts loudly
  instead (for concurrent-ingest tables use
  ``operators/compaction.compact``, whose out-of-place leftover-bin
  protocol tolerates the race).

Scale: the plan is one row per partition VALUE (kilobytes at 100 TB;
its single-partition ordered window runs over that tiny relation
only), collected once — group count and the broadcast join-back both
come from that one collect; the rewrite is one shuffle by ``grp``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rick_and_morty_data_pipeline_project_spark.operators.localrel import (
    local_relation,
)
from rick_and_morty_data_pipeline_project_spark.session import hadoop_fs


def recover_table(spark: SparkSession, target_path: str) -> bool:
    """Crash recovery for the swap protocol: if a previous rewrite died
    between its two renames, the only complete table sits at
    ``<target>.__merge_old__`` — restore it (never treat it as stale
    garbage: deleting it would silently reinitialize the table and lose
    all history).  Idempotent; a rewrite that READS the target must
    call this before reading it.
    Returns True if a recovery rename was performed."""
    fs, target = hadoop_fs(spark, target_path)
    old = target.suffix(".__merge_old__")
    if not fs.exists(target) and fs.exists(old):
        if not fs.rename(old, target):
            raise IOError(f"recover_table: cannot restore {old} -> {target}")
        return True
    return False


def plan_partition_coarsen(
    counts: DataFrame, part_col: str, target_rows: int
) -> DataFrame:
    """First-fit merge groups over a (part_col, n_rows) relation: a
    partition joins the group where its FIRST row lands
    (grp = ⌊(cumsum − n_rows) / target⌋), so groups are contiguous in
    partition order and every group except possibly the last reaches
    the target once its final partition is added.  Same rule as the
    oracled ``profile_compaction_plan`` query, generalized to any
    partition column."""
    w_cum = Window.orderBy(part_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return counts.select(
        part_col,
        "n_rows",
        F.floor(
            (F.sum("n_rows").over(w_cum) - F.col("n_rows"))
            / F.lit(float(target_rows))
        )
        .cast("int")
        .alias("grp"),
    )


def _list_data_files(fs, root) -> set:
    """Recursive listing of non-hidden data files under the Hadoop
    ``Path`` ``root`` (driver-side; bounded by file count, the planning
    scale)."""
    out = set()
    it = fs.listFiles(root, True)
    while it.hasNext():
        p = it.next().getPath()
        name = p.getName()
        if not name.startswith(("_", ".")):
            out.add(str(p))
    return out


def coarsen_partitions(
    spark: SparkSession,
    table_dir: str,
    part_col: str,
    target_rows: int,
) -> dict:
    """Rewrite the hive-partitioned parquet table at ``table_dir`` into
    one file per planned merge group (layout contract in the module
    docstring).  Returns ``{"n_rows": int, "n_groups": int}``.
    Crash-safe (double-rename + ``recover_table``); aborts loudly if
    concurrent ingest appended files after the snapshot read."""
    recover_table(spark, table_dir)
    fs, root = hadoop_fs(spark, table_dir)
    snapshot = _list_data_files(fs, root)

    table = spark.read.parquet(table_dir)
    n_before = table.count()  # independent anchor for the verification
    counts = table.groupBy(part_col).agg(F.count(F.lit(1)).alias("n_rows"))
    plan_df = plan_partition_coarsen(counts, part_col, target_rows)
    plan_rows = plan_df.collect()  # bounded: one row per partition value
    n_groups = len({r["grp"] for r in plan_rows})
    plan = local_relation(
        spark,
        [(r[part_col], r["grp"]) for r in plan_rows],
        plan_df.select(part_col, "grp").schema,
    )

    obs = Observation("coarsen_rows")
    compacted = (
        table.join(
            F.broadcast(plan.withColumnRenamed(part_col, "_pv")),
            table[part_col].eqNullSafe(F.col("_pv")),  # null partitions too
        )
        .drop("_pv")
        .repartition("grp")  # all rows of a group in ONE task => 1 file
        .sortWithinPartitions("grp", part_col)
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )

    tmp, old = root.suffix(".__merge_tmp__"), root.suffix(".__merge_old__")
    fs.delete(tmp, True)
    fs.delete(old, True)
    compacted.write.mode("overwrite").partitionBy("grp").parquet(tmp.toString())
    n_written = int(obs.get["n"])
    if n_written != n_before:
        fs.delete(tmp, True)
        raise IOError(
            f"coarsen_partitions: wrote {n_written} rows, expected "
            f"{n_before} — original table left untouched"
        )
    if _list_data_files(fs, root) != snapshot:
        fs.delete(tmp, True)
        raise IOError(
            "coarsen_partitions: table changed during the rewrite "
            "(concurrent ingest?) — aborted; use compaction.compact "
            "for tables with live appends"
        )
    if not fs.rename(root, old):
        raise IOError(f"coarsen_partitions: cannot move aside {table_dir}")
    if not fs.rename(tmp, root):
        fs.rename(old, root)
        raise IOError(f"coarsen_partitions: cannot install {tmp}")
    fs.delete(old, True)
    return {"n_rows": n_written, "n_groups": n_groups}

