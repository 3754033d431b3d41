"""Regenerate ``expected.json``: the pinned output hash of every
benchmark query, computed from the query's DuckDB oracle SQL over the
benchmark corpus, and checked against the engine's own output.

    python3 perfbench/pin.py

DuckDB runs only here, never during a benchmark run (the
``flagship_greedy_match`` oracle alone takes about a minute at sf0.1).
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import env  # noqa: E402

env.prepare()

import duckdb  # noqa: E402

from check import frame_hash, id_hash  # noqa: E402
from corpus import TABLES, ensure_corpus  # noqa: E402
from workloads import QUERY_WORKLOADS  # noqa: E402

EXPECTED = os.path.join(HERE, "expected.json")


def oracle_frame(sql: str, sf_dir: str):
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return con.execute(sql).df()
    finally:
        con.close()


def pin_ingest(spark) -> dict:
    """Kept-id hash of the fixed-seed check stream (see run.run_ingest)."""
    from types import SimpleNamespace

    import tracing
    from run import CHECK_BATCHES, CHECK_SEED, Ingest, Run

    run = Run(SimpleNamespace(seed=CHECK_SEED, seconds=0, trace=0), spark,
              tracing.Tracer(), tracing.Jvm(spark))
    check = Ingest(run, CHECK_SEED, "pin")
    for _ in range(CHECK_BATCHES):
        check.batch(False)
    if run.failed:
        raise RuntimeError("ingest check stream failed")
    rows, digest = id_hash(check.kept_ids())
    return {"rows": rows, "hash": digest}


def main() -> int:
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import QUERIES

    spark = env.session("perfbench-pin")
    pins = {}
    bad = 0
    for wl in QUERY_WORKLOADS.values():
        sf_dir = ensure_corpus(env.DATA_DIR, wl.sf)
        for name in wl.queries:
            t0 = time.perf_counter()
            o_rows, o_hash = frame_hash(oracle_frame(QUERIES[name].sql, sf_dir))
            t1 = time.perf_counter()
            s_rows, s_hash = frame_hash(QUERIES[name].fn(spark, sf_dir).toPandas())
            t2 = time.perf_counter()
            ok = (o_rows, o_hash) == (s_rows, s_hash)
            bad += not ok
            print(f"{name:45s} sf{wl.sf} rows={o_rows:6d} oracle={t1 - t0:6.1f}s "
                  f"spark={t2 - t1:6.1f}s {'match' if ok else 'MISMATCH'}", flush=True)
            pins[f"{name}@sf{wl.sf}"] = {"rows": o_rows, "hash": o_hash}
    pins["ingest@check"] = pin_ingest(spark)
    print(f"ingest check stream: {pins['ingest@check']}", flush=True)
    spark.stop()
    with open(EXPECTED, "w") as f:
        json.dump(dict(sorted(pins.items())), f, indent=1)
        f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
