"""Strict driver-sim sweep: replicate the verification driver's t2 gate
over EVERY oracled catalog query under a PLAIN SparkSession (ANSI
defaults, none of the package session's tuning) and compare against
DuckDB by sorted-column/sorted-row repr-hash — stricter than
tests/oracle_harness.compare because dtype differences (e.g. DuckDB
HUGEINT → float64) change the repr and fail here.  Every oracle is
built for the swept tree (``oracle_sql_dict(sf_dir)``), the tree-fitted
ones included, so any scale factor checks the whole oracled catalog.

Usage: python tools/driver_sim_sweep.py [sf_dir] [--window-only]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def norm_hash(df) -> str:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    # to_csv with a 17-significant-digit float format: full double
    # round-trip precision.  (to_string truncates floats at display
    # precision — ~6 digits — which would hash bit-different doubles
    # identically and false-pass the gate.)
    # na_rep sentinel: bare to_csv renders NULL and '' identically,
    # which would false-pass a query where one engine returns NULL and
    # the other an empty string.  The dtype KIND signature is hashed
    # too: %.17g prints an int-valued float64 exactly like an int64
    # ("157"), so without it the HUGEINT→float64 oracle skew (the
    # documented round-2 failure mode) would slip through value
    # formatting.  KIND, not exact width: int32-vs-int64 (Spark size()/
    # row_number() are IntegerType, DuckDB len/count BIGINT) is
    # driver-proven benign — those queries hold triple-green rows.
    dtype_sig = ";".join(f"{c}:{df[c].dtype.kind}" for c in df.columns)
    return hashlib.md5(
        (
            dtype_sig
            + "\n"
            + df.to_csv(index=False, float_format="%.17g", na_rep="<NULL>")
        ).encode()
    ).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else "/root/testdata/sf0.01"
    window_only = "--window-only" in sys.argv

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    import __spark_entry__ as E
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import (
        oracle_sql_dict,
    )
    from rick_and_morty_data_pipeline_project_spark.sources.corpus import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, osql = E.queries(), oracle_sql_dict(sf_dir)
    names = list(qs)[:50] if window_only else [n for n in qs if n in osql]
    bad = []
    for name in names:
        if name not in osql:
            bad.append((name, "WINDOW ENTRY WITHOUT ORACLE"))
            continue
        try:
            s = qs[name](spark, sf_dir).toPandas()
            o = con.execute(osql[name]).df()
        except Exception as exc:  # noqa: BLE001
            bad.append((name, f"ERROR {type(exc).__name__}: {exc}"))
            print(f"{name}: ERROR {exc}", flush=True)
            continue
        if len(s) != len(o):
            bad.append((name, f"rows {len(s)} vs {len(o)}"))
        elif norm_hash(s) != norm_hash(o):
            bad.append((name, f"hash mismatch ({len(s)} rows)"))
        else:
            print(f"{name}: OK ({len(s)} rows)", flush=True)
    for name, why in bad:
        print(f"FAIL {name}: {why}")
    print(f"\n{len(names) - len(bad)}/{len(names)} OK")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
