"""Local replica of the driver's t2 correctness gate: run a catalog
query on Spark and its oracle SQL on DuckDB over the same parquet,
compare row count, schema (column names), and exact values.

Comparison is stricter than a value-hash: after sorting columns by name
and rows by all values, every cell must match exactly (floats bitwise,
via repr) — if this passes, any order-insensitive hash also matches.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from rick_and_morty_data_pipeline_project_spark.sources.corpus import TABLES


def duckdb_run(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con.execute(sql).df()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: repr(v))
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )
    return df


def compare(spark_df, oracle_df: pd.DataFrame) -> list[str]:
    """Returns a list of mismatch descriptions (empty = pass)."""
    issues: list[str] = []
    sp = spark_df.toPandas()
    if sorted(sp.columns) != sorted(oracle_df.columns):
        issues.append(
            f"schema mismatch: spark={sorted(sp.columns)} oracle={sorted(oracle_df.columns)}"
        )
        return issues
    if len(sp) != len(oracle_df):
        issues.append(f"row count: spark={len(sp)} oracle={len(oracle_df)}")
        return issues
    a = _normalize(sp)
    b = _normalize(oracle_df)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av):
            eq = (
                (av == bv)
                | (av.isna() & bv.isna())
                | av.combine(bv, lambda x, y: _float_eq(x, y))
            )
        else:
            eq = (av == bv) | (av.isna() & bv.isna())
        n_bad = int((~eq).sum())
        if n_bad:
            bad_idx = (~eq).idxmax()
            issues.append(
                f"column {c}: {n_bad} mismatched values, first at row "
                f"{bad_idx}: spark={av[bad_idx]!r} oracle={bv[bad_idx]!r}"
            )
    return issues


def _float_eq(x, y) -> bool:
    if x is None or y is None:
        return x is None and y is None
    if isinstance(x, float) and isinstance(y, float):
        if math.isnan(x) and math.isnan(y):
            return True
        return x == y
    return x == y
