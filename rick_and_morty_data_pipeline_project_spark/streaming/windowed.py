"""Structured Streaming operators.

The reference has no streaming (SURVEY.md §2.8); this is the engine's
forward-looking surface for incremental pipelines: the same events
rollup as the batch query, expressed as a watermarked tumbling-window
streaming aggregation.  File-source + Trigger.AvailableNow makes it
testable on the static corpus while remaining a genuine streaming plan
(StateStore-backed aggregation, late-data handling via watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.sources.corpus import load_table


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table with ts normalized to
    session-tz TIMESTAMP — the streaming twin of
    ``sources.corpus.load_table``, handling the same corpus-generator
    variation (TIMESTAMP(NANOS) → bigint under the legacy conf;
    naive TIMESTAMP(MICROS) → TIMESTAMP_NTZ → cast under the UTC
    session tz).
    """
    # scoped save/set/restore (see sources/corpus.py): the conf is
    # captured at analysis time; don't leak it into the caller's session
    _conf = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        prev = spark.conf.get(_conf)
    except Exception:
        prev = None
    spark.conf.set(_conf, "true")
    try:
        static = spark.read.parquet(f"{sf_dir}/events.parquet")
        # the file stream source requires a directory; filter to the
        # events table inside the corpus dir
        stream = (
            spark.readStream.schema(static.schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    finally:
        if prev is None:
            spark.conf.unset(_conf)
        else:
            spark.conf.set(_conf, prev)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        return stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_type == "timestamp_ntz":
        return stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def stream_events_hourly(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming tumbling 1-hour rollup of events with late-data bound.

    Returns an unstarted streaming DataFrame; callers attach a sink
    (memory sink in tests, a parquet/kafka sink in production) and a
    trigger.  State size is bounded by the watermark: windows older
    than (max event time − watermark) are finalized and evicted.
    """
    events = events_stream(spark, sf_dir)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_available_now(
    df: DataFrame, query_name: str, output_mode: str = "complete"
) -> None:
    """Drain all available input into a memory sink (test/backfill mode).
    ``complete`` suits streaming aggregations; stateful operators that
    emit rows incrementally (applyInPandasWithState) need ``append``."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_enriched_hourly(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static enrichment join + windowed rollup: the events
    stream joins the static customer dimension (user_id = c_custkey)
    BEFORE the watermarked hourly aggregation, rolling up by the
    dimension attribute (market segment).

    The stream-static join is stateless — each micro-batch hash-joins
    against the (broadcastable) dimension snapshot, no join state
    store; only the downstream windowed agg holds state, bounded by the
    watermark.  That's the scale shape for stream enrichment: dimension
    changes re-read per batch, stream never buffered for the join.
    """
    events = events_stream(spark, sf_dir)
    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        events.join(customers, "user_id")
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "c_mktsegment",
            "n_events",
        )
    )
