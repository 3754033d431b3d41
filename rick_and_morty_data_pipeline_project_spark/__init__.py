"""A PySpark-native analytics engine with the query and data-processing
capabilities of the reference project (Rick-and-Morty-Data-Pipeline-Project).

The reference (see SURVEY.md) is a single-file ETL + SQLite analytics
project; this package re-expresses its query semantics — and a much wider
operator inventory needed for large-scale training-data pipelines — as
idiomatic PySpark DataFrame / Spark SQL plans that Catalyst can optimize.

Layout:
    session.py    — tuned SparkSession factory (AQE, Arrow, UTC)
    sources/      — corpus loaders + reference-shaped fixture synthesis
    functions/    — scalar/column expression libraries (emotions, text, vectors)
    operators/    — composite operators (two-stage top-k, greedy matching,
                    dedup, similarity search, multimodal plumbing)
    queries/      — the named query catalog exported via __spark_entry__.py
    plans/        — plan-inspection utilities (pushdown/broadcast assertions)
    streaming/    — Structured Streaming stream-stream join and near-dup
                    ingest sink
"""

from rick_and_morty_data_pipeline_project_spark.session import get_spark

__version__ = "0.1.0"

__all__ = ["get_spark", "__version__"]
