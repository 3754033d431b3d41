"""SparkSession factory with scale-oriented defaults.

The reference uses a single SQLite connection as its "engine"
(Scraper.py:247-251); here the session is the engine.  Defaults are chosen
for the driver harness (local[32], 128 GiB) but every knob is the one you
would also set on a 1000-executor cluster:

* AQE on — runtime partition coalescing, skew-join splitting, and
  dynamic broadcast conversion replace hand-tuned shuffle counts.
* Arrow on — any pandas-UDF exchange is columnar, not pickled rows.
* UTC session timezone — deterministic timestamp semantics matching the
  DuckDB oracle (naive wall-clock in parquet).
* Broadcast threshold 64 MiB — the TPC-H-ish dims (region/nation/
  customer/supplier/part) stay broadcast even at large SF; fact-fact
  joins still shuffle on keys.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "rick-and-morty-spark-engine",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Shuffle partition count ~ cores for local mode; AQE coalesces further.
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(max(int(cpus), 8)))
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # InferFiltersFromGenerate re-derives `size(arr) > 0 AND
        # isnotnull(arr)` from every inner explode and pushes it below
        # the fan_out exchange onto the scan task.  For this engine's
        # generators the array is always an EXPENSIVE computed
        # expression (shingle pipelines, md5 signature transforms,
        # centroid-distance sorts), so the inferred filter re-evaluates
        # the whole pipeline once more per row — serialized onto the
        # single-task local scan side — while inner explode already
        # drops empty/null arrays, making the filter semantically
        # redundant at any scale.  Measured (r14, interleaved min-of-6
        # at sf0.1): dedup_ngram_jaccard 2.39 s -> 1.07 s; every other
        # probed query neutral-to-better.  Plan diff: the duplicated
        # shingle expression disappears from the scan Filter
        # (plans/r14/dedup_ngram_jaccard_{before,after}.txt).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable parity/perf conf to an externally-created
    session (the driver owns the session for `queries()` calls)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # same rationale as get_spark: the inferred explode filter
    # re-evaluates expensive generator inputs (semantics unchanged)
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )
    return spark


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` on the driver, resolved with the
    session's Hadoop configuration, so any configured scheme works."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath
