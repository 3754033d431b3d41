"""Footer-only parquet table statistics — the metadata-read path.

``profile_table_files`` (queries/extraq.py) audits a table by scanning
it; this module produces the SAME per-file report from parquet FOOTERS
alone: row counts from file metadata, key bounds from row-group
column statistics.  At 100 TB that is the difference between reading
the table and reading ~KB per file — the standard "stats from
metadata" primitive behind compaction planning, freshness checks, and
query-planning statistics.

Distribution shape: the driver lists the file paths (a RECURSIVE walk,
so partitioned ``key=.../part-*.parquet`` layouts are seen exactly as
``spark.read.parquet`` would see them; file LISTING is cheap and is
what every table format's planner does); the footer reads run as an
Arrow-batched ``mapInPandas`` over the path relation, so a
million-file table fans its metadata reads across the cluster instead
of serializing them on the driver.  Executors open paths through
``pyarrow.fs.FileSystem.from_uri`` when a scheme is present, so
hdfs://, s3:// etc. work wherever the corresponding pyarrow filesystem
is available; bare paths and ``file:`` URIs read locally.  Only file
paths and the fixed-width stats rows ever move.

Caveats (documented, not hidden): parquet string statistics may be
truncated by writers — bounds are exact for integer and temporal key
columns (pass ``key_type`` to match; default ``long`` fits the driver
corpus's keys) and untrustworthy for strings.  Zero-row files ARE
reported (n_rows = 0, NULL bounds); a scanning audit cannot see them,
so gate-equality comparisons should filter them out (the catalog query
does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from rick_and_morty_data_pipeline_project_spark.operators.localrel import (
    local_relation,
)
from rick_and_morty_data_pipeline_project_spark.session import hadoop_fs


def _list_parquet_files(spark: SparkSession, table_dir: str) -> list[str]:
    """Recursive listing of *.parquet under ``table_dir`` (or the file
    itself), via the Hadoop FS API so any configured scheme works."""
    fs, root = hadoop_fs(spark, table_dir)
    out: list[str] = []
    stack = [root]
    while stack:
        p = stack.pop()
        for status in fs.listStatus(p):
            sp = status.getPath()
            name = sp.getName()
            if status.isDirectory():
                if not name.startswith(("_", ".")):
                    stack.append(sp)
            elif name.endswith(".parquet"):
                out.append(sp.toString())
    if not out and not fs.getFileStatus(root).isDirectory():
        out.append(root.toString())
    return out


def parquet_footer_stats(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    key_type: str = "long",
) -> DataFrame:
    """(file, n_rows, min/max of ``key_col``, stats_missing) per
    parquet file under ``table_dir`` — footer reads only, distributed
    over the file list.

    ``stats_missing`` is true when the file HAS rows, NO row group
    carries min/max statistics for ``key_col`` (``has_min_max`` false —
    legal parquet; some writers omit column statistics), AND the
    absence is not explained by the values themselves: a row group
    whose statistics show ``null_count == num_rows`` legitimately has
    no min/max (the key is entirely NULL there), so an all-NULL-key
    file reports NULL bounds with ``stats_missing`` false — genuinely
    NULL-keyed, not under-documented.  Files flagged true report NULL
    bounds here while a scanning audit computes real ones; without the
    flag that would surface only as an inexplicable footer-vs-scan
    mismatch.  Callers comparing against a scan (e.g.
    ``profile_table_files_fast``) should treat ``stats_missing`` rows
    as "bounds unknown", not "bounds NULL"; a zero-row file reports
    NULL bounds with ``stats_missing`` false (nothing to bound).  See
    also the string-truncation caveat at the top of this module."""
    paths = [(p,) for p in _list_parquet_files(spark, table_dir)]
    if not paths:
        raise ValueError(f"no parquet files under {table_dir}")
    fdf = local_relation(spark, paths, "path string").repartition(
        min(len(paths), 64)
    )

    def batches(it):
        import pandas as pd
        import pyarrow.parquet as pq

        def open_md(p: str):
            if p.startswith("file:"):
                return pq.ParquetFile(p[len("file:"):]).metadata
            if "://" in p:
                import pyarrow.fs as pafs

                fsys, rel = pafs.FileSystem.from_uri(p)
                with fsys.open_input_file(rel) as f:
                    return pq.ParquetFile(f).metadata
            return pq.ParquetFile(p).metadata

        for pdf in it:
            rows = []
            for p in pdf["path"]:
                md = open_md(p)
                names = [
                    md.schema.column(i).name for i in range(md.num_columns)
                ]
                idx = names.index(key_col)
                mn = mx = None
                unexplained = False
                for rg in range(md.num_row_groups):
                    rgm = md.row_group(rg)
                    st = rgm.column(idx).statistics
                    if st is not None and st.has_min_max:
                        mn = st.min if mn is None else min(mn, st.min)
                        mx = st.max if mx is None else max(mx, st.max)
                    elif not (
                        st is not None
                        and st.has_null_count
                        and st.null_count == rgm.num_rows
                    ):
                        # no min/max and NOT because the row group's
                        # key is entirely NULL → under-documented
                        unexplained = True
                rows.append(
                    (
                        p.rstrip("/").rsplit("/", 1)[-1],
                        md.num_rows,
                        mn,
                        mx,
                        md.num_rows > 0 and mn is None and unexplained,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "file", "n_rows", "min_key", "max_key", "stats_missing"
                ],
            )

    return fdf.mapInPandas(
        batches,
        f"file string, n_rows long, min_key {key_type}, "
        f"max_key {key_type}, stats_missing boolean",
    )
