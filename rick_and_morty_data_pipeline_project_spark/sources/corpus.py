"""Loaders for the driver's TPC-H-ish parquet corpus (TESTDATA.md).

The reference's sources are HTTP scrapes + a SQLite file (SURVEY.md §2.1
SRC-1..9); the engine's canonical source is columnar parquet read through
the DataFrame reader so Catalyst gets predicate pushdown, column pruning,
and partition pruning for free.

Loader contract: a corpus table is read with the ``StructType``
declared in ``SCHEMAS`` — exactly the schema Spark would infer from the
corpus files, nullability and ``timestamp_ntz`` for naive timestamps
included — so ``load_table`` builds its DataFrame without launching a
Spark job.  The driver reads each table's parquet footer with pyarrow
(no Spark job, well under a millisecond) to confirm that the files have
the declared columns and types, and to learn the physical type of
``events.ts``, which varies between corpus generators.  Files of any
other shape (hand-built test tables with a subset of the columns or
other integer widths) are read the way Spark reads any parquet: it
infers their schema with a job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _schema(*cols: tuple[str, DataType]) -> StructType:
    return StructType([StructField(name, dtype, True) for name, dtype in cols])


_INT, _LONG, _DOUBLE, _STR = IntegerType(), LongType(), DoubleType(), StringType()
_NTZ = TimestampNTZType()

# The schema Spark infers from each corpus table's files.  ``events.ts``
# is declared as naive micros here; ``_declared`` swaps in bigint when
# the footer says TIMESTAMP(NANOS).
SCHEMAS: dict[str, StructType] = {
    "region": _schema(("r_regionkey", _INT), ("r_name", _STR)),
    "nation": _schema(
        ("n_nationkey", _INT), ("n_name", _STR), ("n_regionkey", _INT)
    ),
    "customer": _schema(
        ("c_custkey", _LONG),
        ("c_name", _STR),
        ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE),
        ("c_mktsegment", _STR),
    ),
    "supplier": _schema(
        ("s_suppkey", _LONG),
        ("s_name", _STR),
        ("s_nationkey", _INT),
        ("s_acctbal", _DOUBLE),
    ),
    "part": _schema(
        ("p_partkey", _LONG),
        ("p_name", _STR),
        ("p_brand", _STR),
        ("p_type", _STR),
        ("p_size", _INT),
        ("p_retailprice", _DOUBLE),
    ),
    "orders": _schema(
        ("o_orderkey", _LONG),
        ("o_custkey", _LONG),
        ("o_orderstatus", _STR),
        ("o_totalprice", _DOUBLE),
        ("o_orderdate", _NTZ),
        ("o_orderpriority", _STR),
    ),
    "lineitem": _schema(
        ("l_orderkey", _LONG),
        ("l_partkey", _LONG),
        ("l_suppkey", _LONG),
        ("l_linenumber", _INT),
        ("l_quantity", _DOUBLE),
        ("l_extendedprice", _DOUBLE),
        ("l_discount", _DOUBLE),
        ("l_tax", _DOUBLE),
        ("l_returnflag", _STR),
        ("l_linestatus", _STR),
        ("l_shipdate", _NTZ),
    ),
    "events": _schema(
        ("event_id", _LONG),
        ("ts", _NTZ),
        ("user_id", _LONG),
        ("event_type", _STR),
        ("value", _DOUBLE),
        ("props", _STR),
    ),
    "documents": _schema(
        ("doc_id", _LONG),
        ("text", _STR),
        ("lang", _STR),
        ("source", _STR),
        ("n_chars", _LONG),
    ),
    "embeddings": _schema(
        ("vec_id", _LONG),
        ("embedding", ArrayType(FloatType(), True)),
        ("label", _INT),
    ),
}

# Dimensions small enough to broadcast at any scale factor.
BROADCAST_DIMS = {"region", "nation"}

# NOTE on single-row-group files: each corpus table is ONE parquet file
# with ONE row group, so every scan decodes on a single core (a parquet
# split cannot cross a row-group boundary).  A loader-level repartition
# was tried and measured a net LOSS for the relational queries at sf0.1
# (vectorized decode + JVM aggregation of 600k rows is fast single-core;
# the balancing shuffle only added cost: q3 0.58→1.31 s, q5 0.66→1.46 s
# warm).  Fan-out pays off only where per-row compute is heavy — the
# text-dedup pipelines do it themselves via operators/parallelism.fan_out.


_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def parquet_footer(path: str):
    """Arrow schema from the parquet footer of ``path`` (a file, or the
    first data file of a directory), read on the driver with pyarrow:
    no Spark job.  INT96 timestamps surface as millis, so they can pass
    neither for INT64 micros nor for INT64 nanos.  None when pyarrow
    cannot open the path, e.g. on a filesystem it does not know."""
    import pyarrow.dataset as ds

    fmt = ds.ParquetFileFormat(
        read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="ms")
    )
    try:
        return ds.dataset(path, format=fmt).schema
    except (OSError, ValueError):
        return None


def _timestamp_units(footer) -> dict[str, str]:
    import pyarrow.types as pat

    return {f.name: f.type.unit for f in footer if pat.is_timestamp(f.type)}


def _nanos_ts(footer) -> bool:
    return footer is not None and _timestamp_units(footer).get("ts") == "ns"


def _declared(name: str, footer) -> StructType | None:
    """The ``StructType`` ``load_table`` reads table ``name`` with, from
    its arrow ``footer``: ``SCHEMAS[name]`` when the footer has exactly
    those columns and types, with a TIMESTAMP(NANOS) ``events.ts``
    declared bigint (Spark's reader rejects nanos as a timestamp).  None
    for files of any other shape, such as hand-built test tables; Spark
    then infers their schema, which launches a job."""
    from pyspark.sql.pandas.types import from_arrow_schema

    if footer is None:
        return None
    units = _timestamp_units(footer)
    nanos = name == "events" and units.get("ts") == "ns"
    # Spark infers TIMESTAMP_NTZ only for naive micros here; the arrow
    # mapping below ignores the unit, so check it first.
    if any(u != "us" for c, u in units.items() if not (nanos and c == "ts")):
        return None
    try:
        if from_arrow_schema(footer, prefer_timestamp_ntz=True) != SCHEMAS[name]:
            return None
    except TypeError:  # an arrow type with no Spark counterpart
        return None
    if not nanos:
        return SCHEMAS[name]
    return StructType(
        [
            StructField("ts", _LONG, True) if f.name == "ts" else f
            for f in SCHEMAS["events"]
        ]
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    footer = parquet_footer(path)
    schema = _declared(name, footer)
    reader = spark.read if schema is None else spark.read.schema(schema)
    if name != "events":
        return reader.parquet(path)
    if not _nanos_ts(footer):
        df = reader.parquet(path)
    else:
        # The legacy conf is scoped save/set/restore, so a later parquet
        # read of an unrelated nanos column in the same session is not
        # silently decoded as bigint.  Not thread-safe if the session is
        # shared.
        try:
            prev = spark.conf.get(_NANOS_CONF)
        except Exception:
            prev = None
        spark.conf.set(_NANOS_CONF, "true")
        try:
            df = reader.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset(_NANOS_CONF)
            else:
                spark.conf.set(_NANOS_CONF, prev)
    # Normalize events.ts to session-local TIMESTAMP.  Nanos arrive as
    # bigint and truncate to micros, the value DuckDB produces for its
    # micro-resolution type.  Naive micros cast NTZ→TZ: the session
    # timezone is pinned to UTC (session.py), so the cast preserves wall
    # clock and epoch extraction matches DuckDB's epoch_us on the same
    # naive values.
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    """Register each corpus table as a temp view; returns the DataFrames."""
    out: dict[str, DataFrame] = {}
    for t in tables or TABLES:
        df = load_table(spark, sf_dir, t)
        df.createOrReplaceTempView(t)
        out[t] = df
    return out
