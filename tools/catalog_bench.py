"""Catalog-wide timing sweep: min-of-N noop-sink wall-clock for EVERY
exported query at one SF, written as one JSON file.

The headline bench (bench.py) times the frozen 18-query set the driver
records per round; this tool covers the other ~190 so per-query
regressions surface before they reach a driver window.  Results land in
``catalog_times.json`` (query → seconds, plus run metadata); compare
two runs with plain jq/diff.

Usage:
  python tools/catalog_bench.py [sf_dir] [--reps N] [--out PATH]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    argv = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.1"
    reps = 3
    out = "catalog_times.json"
    i = 0
    while i < len(argv):
        if argv[i] == "--reps":
            reps = int(argv[i + 1])
            i += 2
        elif argv[i] == "--out":
            out = argv[i + 1]
            i += 2
        else:
            sf_dir = argv[i]
            i += 1

    from bench import min_wall_s
    from rick_and_morty_data_pipeline_project_spark.session import get_spark

    spark = get_spark(app_name="catalog-bench", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    qs = E.queries()
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    t_start = time.time()
    for name, fn in qs.items():
        try:
            times[name] = min_wall_s(spark, fn, sf_dir, reps)
        except Exception as ex:  # keep sweeping; record the failure
            errors[name] = f"{type(ex).__name__}: {ex}"[:200]
        print(f"{name}: {times.get(name, 'ERR')}", flush=True)

    artifact = {
        "sf_dir": sf_dir,
        "reps": reps,
        "total_sweep_s": round(time.time() - t_start, 1),
        "n_queries": len(times),
        "errors": errors,
        "times": dict(
            sorted(times.items(), key=lambda kv: -kv[1])
        ),
    }
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"\nwrote {out}: {len(times)} queries, {len(errors)} errors")
    worst = list(artifact["times"].items())[:10]
    print("slowest 10:", worst)


if __name__ == "__main__":
    main()
