"""Driver-built rows as an Arrow-backed ``LocalRelation``.

``spark.createDataFrame(<python rows>)`` parallelizes the rows as a
Python RDD and plans a ``LogicalRDD`` over it, so every action that
reads the relation — and every re-run of a plan that contains it —
starts Python-worker tasks just to unpickle the rows.  Each such task
costs ~0.25–0.3 s of worker CPU before it reads a row (pyspark's
per-task ``importlib.invalidate_caches()`` re-reads the pyspark.zip
directory once per zipimporter; PERFORMANCE.md).  A ``pyarrow.Table``
crosses to the JVM once, at construction, and plans as a
``LocalRelation``: no Python worker ever runs for it, and the optimizer
sees its real size and rows.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_relation(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: StructType | str,
) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order) as a DataFrame with
    exactly ``schema`` (a ``StructType`` or a DDL string such as
    ``"id long, name string"``).  Same rows as
    ``spark.createDataFrame(rows, schema)``; an empty ``rows`` gives an
    empty relation of that schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
