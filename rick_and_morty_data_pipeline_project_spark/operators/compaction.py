"""Small-file compaction planning.

Streaming ingest and per-batch appends leave tables as many small
files; scans then pay per-file open/footer costs and lose row-group
skipping.  The fix is periodic compaction: group small files into
target-sized bins and rewrite each bin as one file.  This module plans
the bins; the rewrite is a bin-keyed shuffle + hive-partitioned write.

Scale shape: the per-file row counts come from ONE distributed
aggregation keyed on ``input_file_name()`` (combinable, no data
movement beyond the per-file counts); the bin-packing runs driver-side
over the FILE LIST — bounded by file count, not data size (a 100 TB
table with 10⁵ files is a 10⁵-row planning problem).  Packing is
best-fit-decreasing over a capacity-sorted bin index (bisect —
O(F log F), never the quadratic naive first-fit).  The rewrite routes
rows to bins via a broadcast JOIN on the plan (never a
files-count-sized literal map expression), and writes
``partitionBy("_bin")`` so colliding hash partitions can never merge
two bins into one oversized file.
"""

from __future__ import annotations

from bisect import bisect_left, insort

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.operators.localrel import (
    local_relation,
)


def plan_compaction(
    spark: SparkSession,
    path: str,
    target_rows: int,
    max_files: int = 100_000,
) -> DataFrame:
    """Plan compaction bins for the parquet table at ``path``.

    Returns (file, n_rows, bin_id): files sharing a bin_id should be
    rewritten together; each bin holds ≤ ``target_rows`` rows unless a
    single file already exceeds the target (it gets its own bin).
    """
    stats = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.desc("n_rows"), F.asc("file"))
        .limit(max_files + 1)
        .collect()
    )
    if len(stats) > max_files:
        raise ValueError(
            f"plan_compaction collects per-file stats to the driver: got "
            f"> {max_files} files; raise max_files only if the driver can "
            f"hold the file list"
        )
    # best-fit-decreasing: bins kept as a (remaining, bin_id) list
    # sorted by remaining capacity; bisect finds the tightest bin that
    # still fits — O(F log F) total, no quadratic scan
    open_bins: list[tuple[int, int]] = []  # (remaining, bin_id) sorted
    assignment: list[tuple[str, int, int]] = []
    n_bins = 0
    for row in stats:
        f, n = row["file"], row["n_rows"]
        i = bisect_left(open_bins, (n, -1))
        if i < len(open_bins):
            remaining, bin_id = open_bins.pop(i)
            insort(open_bins, (remaining - n, bin_id))
        else:
            bin_id = n_bins
            n_bins += 1
            insort(open_bins, (max(target_rows - n, 0), bin_id))
        assignment.append((f, n, bin_id))
    return local_relation(
        spark, assignment, "file string, n_rows long, bin_id int"
    )


def compact(
    spark: SparkSession, src_path: str, dst_path: str, target_rows: int
) -> int:
    """Execute a compaction plan: rewrite ``src_path`` into ``dst_path``
    hive-partitioned by compaction bin (`_bin=K/` directories, one data
    file each).  Returns the number of bins written.

    Files that appear in ``src_path`` BETWEEN the plan's listing and the
    rewrite's re-listing (exactly the streaming-ingest scenario that
    motivates compaction) are routed to a dedicated LEFTOVER bin rather
    than silently dropped: the routing join is a LEFT join against the
    plan, and a null bin_id means "file the planner never saw".  The
    leftover bin can exceed ``target_rows`` (it absorbs whatever landed
    mid-compaction — recompact next cycle); losing the rows would be
    silent data loss.

    Read the result with ``spark.read.parquet(dst_path)`` — `_bin` is a
    partition column; drop it for the original schema.
    """
    plan = plan_compaction(spark, src_path, target_rows)
    n_bins = plan.agg(F.max("bin_id")).first()[0]
    n_bins = (n_bins + 1) if n_bins is not None else 0
    df = spark.read.parquet(src_path)
    routed = (
        df.withColumn("_file", F.input_file_name())
        .join(
            F.broadcast(plan.select(F.col("file").alias("_file"),
                                    F.col("bin_id").alias("_bin"))),
            "_file",
            "left",
        )
        .withColumn(
            "_unplanned", F.col("_bin").isNull().cast("long")
        )
        .withColumn("_bin", F.coalesce(F.col("_bin"), F.lit(n_bins)))
        .drop("_file")
    )
    obs = Observation("compact_unplanned")
    routed = routed.observe(obs, F.sum("_unplanned").alias("n")).drop(
        "_unplanned"
    )
    (
        # hash partitions can merge bins (pmod collisions) but the
        # partitionBy split writes each bin to its own directory, so a
        # merged task still emits one file PER BIN, never a combined one
        routed.repartition(max(n_bins, 1) + 1, F.col("_bin"))
        .write.mode("overwrite")
        .partitionBy("_bin")
        .parquet(dst_path)
    )
    n_unplanned = int(obs.get["n"] or 0)
    return n_bins + (1 if n_unplanned > 0 else 0)
