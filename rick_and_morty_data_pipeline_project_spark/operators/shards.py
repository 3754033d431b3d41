"""Packed binary shard index — the trainer-facing end of the curation
pipeline.

Training loaders don't want a million small parquet rows; they want a
few large sequential blobs plus an offset index (the tar/WebDataset/
recordio layout).  :func:`shard_index` computes that index, Spark-side:
(doc_id, shard, offset, n_bytes) of every document inside its shard's
blob, the shard's documents concatenated UTF-8 in doc_id order —
random access into the blobs without parsing them.

Scale shape: one shuffle keyed on the shard id, then a running sum
local to each shard."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shard_index(
    df: DataFrame, shard_col: str = "shard", text_col: str = "text"
) -> DataFrame:
    """(doc_id, shard, offset, n_bytes): byte offsets of each document
    inside its shard blob — pure window arithmetic, no Python.  The
    offset is the running sum of UTF-8 byte lengths over the same
    (shard, doc_id) order the blob is concatenated in."""
    from pyspark.sql.window import Window

    # NULL text is zero bytes in the blob
    nb = F.octet_length(
        F.encode(F.coalesce(F.col(text_col), F.lit("")), "UTF-8")
    ).cast("long")
    w = (
        Window.partitionBy(shard_col)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return df.select(
        "doc_id",
        F.col(shard_col).cast("int").alias("shard"),
        F.coalesce(F.sum(nb).over(w), F.lit(0)).alias("offset"),
        nb.alias("n_bytes"),
    )

