"""Dense global row ids (0..n−1 in key order) without a global sort.

``row_number() OVER (ORDER BY …)`` — the obvious formulation — moves
the ENTIRE table through one task (Spark warns "No Partition Defined
for Window operation").  At 100 TB that is the canonical scale
killer.  This operator produces the identical ids with no
single-task stage, the zipWithIndex idea re-expressed on DataFrames:

1. ``repartitionByRange(order_cols)`` + ``sortWithinPartitions`` —
   partition i holds keys strictly below partition i+1, rows sorted
   inside each partition (the distributed half of a total sort, minus
   the never-needed merge);
2. one Arrow ``mapInPandas`` pass appends a per-task LOCAL index —
   in place, no shuffle (the stage is pinned to the range exchange);
3. per-partition counts (one tiny aggregate, one row per partition)
   become prefix-sum OFFSETS — ascending partition id IS ascending
   key range, so ``id = offset[pid] + local``;
4. offsets broadcast-join back on the partition id.

The intermediate is materialized so the counts pass and the
numbering pass read ONE materialization of the range shuffle instead
of recomputing the scan (the multi-branch pattern used by the
sweep-line and JSD queries).

Determinism contract: ``order_cols`` must be a UNIQUE key (ties could
land on either side of a range boundary between runs; the function
cannot see ties without a global pass, so uniqueness is the caller's
contract — add a tiebreak column if needed).  Given unique keys the
assignment equals the single-task ``row_number`` bit-for-bit.

Training-pipeline uses: stable global sample indices, sequence-pack
offsets, deterministic train/eval row addressing.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rick_and_morty_data_pipeline_project_spark.operators.localrel import (
    local_relation,
)
from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
    materialize,
)


def dense_row_ids(
    df: DataFrame,
    order_cols: Sequence[str],
    id_col: str = "row_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``id_col`` = 0..n−1 ordered by ``order_cols`` (a unique
    key — see the determinism contract above), with no single-task
    sort or window anywhere in the plan.  ``num_partitions`` pins the
    range-shuffle width (an explicit count also stops AQE from
    coalescing a small input to one partition); default lets
    AQE/shuffle-partitions decide, the right call at scale."""
    order_cols = list(order_cols)
    ranged = (
        df.repartitionByRange(num_partitions, *order_cols)
        if num_partitions
        else df.repartitionByRange(*order_cols)
    )
    ranged = materialize(  # one materialization feeds both passes below
        ranged.sortWithinPartitions(*order_cols).withColumn(
            "_pid", F.spark_partition_id()
        )
    )

    out_schema = T.StructType(
        ranged.schema.fields + [T.StructField("_local", T.LongType())]
    )

    def number(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = 0  # per-task: mapInPandas iterates one partition
        for b in batches:
            b = b.copy()
            b["_local"] = range(seen, seen + len(b))
            seen += len(b)
            yield b

    numbered = ranged.mapInPandas(number, out_schema)

    counts = (
        ranged.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()  # bounded: one row per shuffle partition
    )
    # ascending partition id == ascending key range, so the prefix sum
    # over pid order is the global offset
    offsets, acc = [], 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((r["_pid"], acc))
        acc += r["_n"]
    # explicit schema: an empty input yields an empty offsets list,
    # which schema inference would reject
    off = local_relation(
        df.sparkSession,
        offsets,
        T.StructType(
            [
                T.StructField("_pid", T.IntegerType()),
                T.StructField("_offset", T.LongType()),
            ]
        ),
    )
    return (
        numbered.join(F.broadcast(off), "_pid")
        .withColumn(id_col, (F.col("_offset") + F.col("_local")))
        .drop("_pid", "_local", "_offset")
    )
