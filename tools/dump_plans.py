"""Dump .explain("formatted") for named catalog queries to
plans/<tag>/<query>_<suffix>.txt — the optimization-round evidence
files (before/after plan diffs).

Usage:
  python tools/dump_plans.py --tag TAG [--suffix before] [query ...]

With no query names, dumps the bench.py HEADLINE set.  NOTE: queries
whose fn() materializes eagerly (localCheckpoint during construction)
execute real jobs here; everything else is planning-only.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    argv = sys.argv[1:]
    tag, suffix = None, "before"
    names: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--tag":
            tag = argv[i + 1]
            i += 2
        elif argv[i] == "--suffix":
            suffix = argv[i + 1]
            i += 2
        else:
            names.append(argv[i])
            i += 1
    if tag is None:
        raise SystemExit("--tag is required (output goes to plans/<tag>/)")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import QUERIES
    from rick_and_morty_data_pipeline_project_spark.session import get_spark

    if not names:
        import bench

        names = list(bench.HEADLINE)

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    outdir = os.path.join(REPO, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = QUERIES[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain(formatted) @ {sf_dir}\n\n")
            f.write(plan)
        print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
