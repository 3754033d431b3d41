"""MERGE (upsert + delete) over plain parquet — MUT-3 completed.

The reference's mutation surface is drop/recreate (MUT-2) and
insert-if-absent (MUT-3, Scraper.py:409-412); a production pipeline
needs the full MERGE triad: update matched rows, insert unmatched
ones, delete flagged ones.  Without a lakehouse table format this is
copy-on-write over the whole table:

    survivors = target LEFT ANTI updates (on the key)
    result    = survivors UNION (updates minus deletes)

— one shuffle on the merge key, then a full rewrite.  At 100 TB the
same plan applies per *file group*: partition the table by a
key-derived bucket so a MERGE rewrites only the buckets containing
touched keys (that is exactly what Delta/Iceberg copy-on-write does);
the operator's logic is unchanged, only the write scope shrinks.

Durability: the merged result is written to a TEMP directory beside the
target and swapped in with two filesystem renames, so the previous
table stays intact until the replacement is fully durable — an executor
or driver loss mid-write leaves either the old table or both
directories, never a destroyed target.  (The round-2 version
localCheckpointed the merge and overwrote the target in place;
checkpoint blocks are unreplicated executor-local storage, so a crash
after the overwrite deleted the source files could lose the table.)
The rename pair is atomic on HDFS/POSIX; on rename-as-copy object
stores use a manifest/table format for the final hop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jvm


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    delete_col: str | None = None,
) -> int:
    """MERGE ``updates`` into the parquet table at ``target_path``.

    * rows whose key matches a target row REPLACE it (last-writer-wins
      within ``updates`` is the caller's responsibility — assert your
      updates are key-unique upstream),
    * unmatched update rows are INSERTED,
    * if ``delete_col`` is set, update rows with that boolean column
      true DELETE the matching target row instead.

    Returns the resulting row count, collected as an ``observe`` metric
    on the write itself — never a second action over the merged
    relation.  Write-then-swap: see the module docstring.
    """
    target = spark.read.parquet(target_path)
    if delete_col is not None:
        # NULL flag (e.g. from a left join) means "not a delete" — a
        # bare filter(col)/filter(~col) pair would drop NULL-flag rows
        # from BOTH sides and silently ignore the upsert
        flag = F.coalesce(F.col(delete_col), F.lit(False))
        deletes = updates.filter(flag).select(*key_cols)
        writes = updates.filter(~flag).drop(delete_col)
    else:
        deletes = None
        writes = updates
    touched = writes.select(*key_cols).unionByName(
        deletes if deletes is not None else writes.select(*key_cols).limit(0)
    )
    survivors = target.join(touched, key_cols, "left_anti")
    obs = Observation("merge_rows")
    merged = survivors.unionByName(writes).observe(
        obs, F.count(F.lit(1)).alias("n")
    )

    atomic_overwrite(spark, merged, target_path)
    return int(obs.get["n"])


def recover_table(spark: SparkSession, target_path: str) -> bool:
    """Crash recovery for the swap protocol: if a previous
    :func:`atomic_overwrite` died between its two renames, the only
    complete table sits at ``<target>.__merge_old__`` — restore it
    (never treat it as stale garbage: deleting it would silently
    reinitialize the table and lose all history).  Idempotent; callers
    that READ the target before overwriting it must call this before
    their existence check.
    Returns True if a recovery rename was performed."""
    old_path = target_path + ".__merge_old__"
    fs, jvm = _hadoop_fs(spark, target_path)
    hpath = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(hpath(target_path)) and fs.exists(hpath(old_path)):
        if not fs.rename(hpath(old_path), hpath(target_path)):
            raise IOError(
                f"recover_table: cannot restore {old_path} -> {target_path}"
            )
        return True
    return False


def atomic_overwrite(
    spark: SparkSession,
    df: DataFrame,
    target_path: str,
) -> None:
    """Write ``df`` as the new content of ``target_path`` via the
    temp-write + rename-swap protocol (safe even when ``df`` READS from
    ``target_path``: the plan materializes into the temp dir before any
    rename touches the source).  Old table is renamed aside — not
    deleted — before the new one lands, so every failure point leaves a
    complete table on disk."""
    tmp_path = target_path + ".__merge_tmp__"
    old_path = target_path + ".__merge_old__"
    fs, jvm = _hadoop_fs(spark, target_path)
    hpath = jvm.org.apache.hadoop.fs.Path
    recover_table(spark, target_path)
    fs.delete(hpath(tmp_path), True)
    # after recovery, a remaining old_path is the leftover of a
    # COMPLETED swap and safe to clear
    fs.delete(hpath(old_path), True)
    df.write.mode("overwrite").parquet(tmp_path)
    existed = fs.exists(hpath(target_path))
    if existed and not fs.rename(hpath(target_path), hpath(old_path)):
        raise IOError(f"atomic_overwrite: cannot move aside {target_path}")
    if not fs.rename(hpath(tmp_path), hpath(target_path)):
        # put the original back rather than leaving no table at all
        if existed:
            fs.rename(hpath(old_path), hpath(target_path))
        raise IOError(f"atomic_overwrite: cannot install {tmp_path}")
    fs.delete(hpath(old_path), True)
