"""Schema-evolution reader: one DataFrame over a parquet table whose
files were written under several schema GENERATIONS.

A long-lived 100 TB table accumulates files with different physical
schemas: early files miss later columns, an int32 id later widened to
int64, a column renamed.  Spark's ``mergeSchema`` only solves the
first case — it RAISES on int→long conflicts ("Failed to merge
incompatible data types") and treats a renamed column as two unrelated
ones.  This module solves all three without rewriting history:

1. **Footer sniff, distributed**: the file list is mapped through
   ``mapInPandas`` and each task reads only parquet FOOTERS (pyarrow
   ``read_schema`` — kilobytes per file, no row data), returning
   (path, schema-signature).  At 10⁵–10⁶ files this is a metadata
   pass spread across the cluster, never a driver loop.
2. **Per-generation reads**: files are grouped by signature and each
   group is read with ITS OWN schema — no merge conflict can occur.
3. **Normalization**: each generation is renamed (oldest-name →
   current-name map), cast column-by-column to the target schema
   (widening casts are exact; narrowing raises by default through
   ANSI), missing columns added as typed NULLs, then all generations
   ``unionByName``-ed.

The result behaves as if every file had been written under the newest
schema — the read-side half of schema evolution.

Scale: step 1 shuffles only (path, signature) strings; step 2's reads
are ordinary parquet scans with pushdown intact (each generation's
scan prunes columns/filters normally); the union is a no-shuffle
plan-level concatenation.
"""

from __future__ import annotations

from typing import Iterator, Mapping, Optional

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _footer_signatures(spark: SparkSession, table_dir: str) -> DataFrame:
    """(path, signature) for every data file under ``table_dir`` —
    signature is the sorted ``name:type`` list from the parquet footer
    only.  Runs on executors via mapInPandas."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(table_dir)
        .select("path")
    )

    def sniff(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from urllib.parse import unquote

        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        def schema_of(uri: str):
            # binaryFile yields URL-encoded Hadoop URIs ("file:/x/a%20b",
            # "s3a://bucket/x").  Local URIs (Hadoop's one-slash form
            # included) read directly; remote schemes go through
            # pyarrow's filesystem resolution (s3/hdfs/gcs, wherever
            # pyarrow has support)
            u = unquote(uri)
            if u.startswith("file:"):
                local = u[7:] if u.startswith("file://") else u[5:]
                return pq.read_schema(local)
            if "://" not in u:
                return pq.read_schema(u)
            filesystem, path = pafs.FileSystem.from_uri(u)
            with filesystem.open_input_file(path) as f:
                return pq.read_schema(f)

        for b in batches:
            sigs = []
            for p in b["path"]:
                sch = schema_of(p)
                sigs.append(
                    ";".join(
                        f"{n}:{t}"
                        for n, t in sorted(
                            zip(sch.names, map(str, sch.types))
                        )
                    )
                )
            yield pd.DataFrame({"path": b["path"], "sig": sigs})

    return files.mapInPandas(sniff, "path string, sig string")


def read_evolved(
    spark: SparkSession,
    table_dir: str,
    target_schema: T.StructType,
    renames: Optional[Mapping[str, str]] = None,
) -> DataFrame:
    """Read every generation of ``table_dir`` as one DataFrame with
    ``target_schema``.  ``renames`` maps historical column names to
    their current name (e.g. ``{"name": "full_name"}``); missing
    columns become typed NULLs; every present column is cast to the
    target type (widening is exact; a lossy cast surfaces through the
    session's ANSI behavior rather than silently truncating)."""
    renames = dict(renames or {})
    groups = (
        _footer_signatures(spark, table_dir)
        .groupBy("sig")
        .agg(F.collect_list("path").alias("paths"))
        .collect()  # bounded: one row per schema GENERATION, not per file
    )
    if not groups:
        return spark.createDataFrame([], target_schema)
    parts = []
    for g in groups:
        gen = spark.read.parquet(*g["paths"])
        for old, new in renames.items():
            if old in gen.columns and new not in gen.columns:
                gen = gen.withColumnRenamed(old, new)
        cols = []
        for f in target_schema.fields:
            if f.name in gen.columns:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(
                    F.lit(None).cast(f.dataType).alias(f.name)
                )
        parts.append(gen.select(*cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def generation_census(spark: SparkSession, table_dir: str) -> DataFrame:
    """One row per schema generation: signature, file count — the
    audit view behind "how fragmented is this table's schema history"
    (footer metadata only, no row data touched)."""
    return (
        _footer_signatures(spark, table_dir)
        .groupBy("sig")
        .agg(F.count(F.lit(1)).alias("n_files"))
    )
