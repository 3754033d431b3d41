"""Compute-layout helpers: the one place a relation is materialized,
the one way driver work runs concurrently, and the fan-out guard for
CPU-heavy map pipelines."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Run ``df`` once and return a relation that reads the stored
    result: for a relation several plan branches consume, for lineage
    that would otherwise grow per iteration, or for output that must
    outlive its source files.  Every materialization in the package
    goes through here, so how relations are stored is chosen once."""
    return df.localCheckpoint()


def concurrently(*fns):
    """Call each zero-argument function in its own thread; return the
    results in argument order.  Each blocking driver action (a
    ``materialize`` job, a collect) then overlaps the others' on the
    Spark scheduler.  Every call runs with the caller's Spark local
    properties (job group, description, scheduler pool), so its jobs
    are attributed like the caller's own.  If any call raises, the
    first failure in argument order is raised after every call has
    returned.  Nested calls are safe: every call has its own thread, so
    none waits for a free worker.  Express dependent steps as a chain
    inside one function and independent chains as sibling arguments."""
    with ThreadPoolExecutor(max_workers=max(len(fns), 1)) as pool:
        futures = [pool.submit(inheritable_thread_target(fn)) for fn in fns]
    return [f.result() for f in futures]


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure CPU-heavy map stages downstream get at least
    ``defaultParallelism`` partitions.

    Locally the corpus tables are single small parquet files with one
    row group — an unsplittable 1-partition scan that serializes every
    narrow transform onto one core.  At cluster scale a 100 TB input
    already yields ≳10⁵ scan splits and this is a no-op; the guard only
    pays the (tiny) balancing shuffle when the scan under-partitions.

    Use ONLY in front of genuinely expensive per-row compute (md5 /
    shingle / vector arithmetic pipelines).  For plain relational work
    the vectorized parquet decode + JVM operators are fast enough
    single-core that the balancing shuffle is a measured net loss —
    see PERFORMANCE.md "negative result".

    The under-partitioned probe counts scan input files (pure driver
    metadata — no plan-to-RDD conversion, no job): a parquet split never
    crosses a file boundary, so ≥ target files ⇒ ≥ target scan tasks
    and the guard is a no-op.  Fewer files than cores (the local
    single-file corpus; at 100 TB effectively never) ⇒ pay one
    balancing shuffle before the heavy map stage.  Non-file plans
    (in-memory, post-shuffle) report no input files and skip the
    repartition — they already carry shuffle parallelism.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    if 0 < n_files < target:
        return df.repartition(target)
    return df
