"""Scale-up stress: run headline operators on a synthetic N× corpus.

The driver's largest SF is 0.1 (600k-row lineitem, 150k-row events).
This tool answers the next question — "what happens at 10-20× that?" —
with measurements instead of assertions: it tiles the sf0.1 tables N×
with DISJOINT key ranges (event_id/o_orderkey/vec_id offset by
i·10⁹, user_id by i·10⁴ so distinct-user cardinality actually grows —
the sketches see 20× the users, not 20 copies of the same 1,500),
writes them as MULTI-FILE parquet (so scans parallelize without
fan_out), and times a battery of the scale-sensitive catalog queries
min-of-2 against both the base SF and the scaled tree.

Usage:
  python tools/scale_stress.py [--mult=N] [--base=SF_DIR] [--out=PATH]
      [--queries=name,name,...]   (subset of the default battery —
                                   the 100x tier runs the cheapest
                                   operators only)

The per-query ratio column is the evidence: an operator whose
wall-clock grows ~linearly (or better) in rows while its plan holds
the documented shape is the one that survives the next 100×.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    # sketches / register relations (bounded state per key)
    "sketch_hll_rollup",
    "sketch_kmv_rollup",
    "sketch_kmv_set_ops",
    "events_rolling_dau_hll",
    # sequential-fold / segmented-window stats
    "events_holt_forecast",
    "events_max_concurrency",
    # lakehouse: range shuffle + prefix offsets
    "orders_dense_row_ids",
    # ANN: train + Arrow encode + batched ADC over the scaled corpus
    "knn_cosine_pq",
    "knn_cosine_ivfpq",
    # r10-continuation births: compressed/bucketed candidate generation
    # (binary words, multi-probe buckets), narrow projection, LM counts
    "knn_cosine_binary",
    "knn_cosine_lsh_multiprobe",
    "embedding_jl_project",
    "text_kneser_ney_score",
]


def _scale_events(spark, base, out_dir, mult):
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{base}/events.parquet")

    def tile(i):
        cols = []
        for c in e.columns:
            if c == "event_id":
                cols.append((F.col(c) + i * 1_000_000_000).alias(c))
            elif c == "user_id":
                cols.append((F.col(c) + i * 10_000).alias(c))
            else:
                cols.append(F.col(c))
        return e.select(*cols)

    tiles = [tile(i) for i in range(mult)]
    df = tiles[0]
    for t_ in tiles[1:]:
        df = df.unionByName(t_)
    df.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/events.parquet"
    )


def _scale_orders(spark, base, out_dir, mult):
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{base}/orders.parquet")
    tiles = [
        o.withColumn(
            "o_orderkey", F.col("o_orderkey") + i * 1_000_000_000
        ).withColumn("o_custkey", F.col("o_custkey") + i * 10_000)
        for i in range(mult)
    ]
    df = tiles[0]
    for t_ in tiles[1:]:
        df = df.unionByName(t_)
    df.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/orders.parquet"
    )


def _scale_embeddings(spark, base, out_dir, mult):
    from pyspark.sql import functions as F

    # explode-based tiling (not a mult-way union chain): identical
    # rows/offsets, but the plan stays one narrow stage even at
    # mult=600 (the union formulation costs Catalyst O(mult) analysis)
    e = spark.read.parquet(f"{base}/embeddings.parquet")
    df = e.select(
        F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("_i"),
        *[F.col(c) for c in e.columns],
    ).select(
        (F.col("vec_id") + F.col("_i").cast("long") * 1_000_000_000).alias(
            "vec_id"
        ),
        *[F.col(c) for c in e.columns if c != "vec_id"],
    )
    df.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )


def _scale_documents(spark, base, out_dir, mult):
    from pyspark.sql import functions as F

    # crossJoin with a broadcast multiplier range, NOT an N-way union:
    # at mult=1000 the unionByName form built a 1000-child plan whose
    # single-threaded scan straggled >20 min; the fan-out form is one
    # scan × a 1000-row broadcast (same rows, same disjoint id ranges)
    d = spark.read.parquet(f"{base}/documents.parquet")
    tiles = F.broadcast(
        spark.range(mult).select(F.col("id").alias("_tile"))
    )
    df = (
        d.crossJoin(tiles)
        .withColumn(
            "doc_id", F.col("doc_id") + F.col("_tile") * F.lit(1_000_000_000)
        )
        .drop("_tile")
    )
    df.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )


def main() -> None:
    mult, base, out_path = 20, "/root/testdata/sf0.1", None
    battery = QUERIES
    tables_filter = {"events", "orders", "embeddings", "documents"}
    for a in sys.argv[1:]:
        if a.startswith("--mult="):
            mult = int(a.split("=", 1)[1])
        elif a.startswith("--base="):
            base = a.split("=", 1)[1]
        elif a.startswith("--out="):
            out_path = a.split("=", 1)[1]
        elif a.startswith("--queries="):
            # comma-separated subset (the 100x tier runs the cheapest
            # operators only; r9 verdict stretch #8)
            battery = a.split("=", 1)[1].split(",")
        elif a.startswith("--tables="):
            # tile only these tables, symlink the rest at base scale —
            # lets a single-table decade (e.g. embeddings ×600 to push
            # PQ past its 1M-row bounded-verify cap) run without
            # staging 60M event rows it never reads (r11)
            tables_filter = set(a.split("=", 1)[1].split(","))
            bad_tables = tables_filter - {
                "events", "orders", "embeddings", "documents"
            }
            if bad_tables:
                # a typo here would silently symlink everything at
                # base scale and record unscaled timings as a
                # "scaled" run — fail in milliseconds instead
                raise SystemExit(
                    f"unknown --tables= names: {sorted(bad_tables)}"
                )

    from pyspark.sql import SparkSession

    from bench import min_wall_s
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import (
        QUERIES as CAT,
    )

    # validate the battery BEFORE the expensive N-times staging: a
    # typo'd --queries= name must fail in milliseconds, not after
    # minutes of corpus tiling
    unknown = [q for q in battery if q not in CAT]
    if unknown:
        raise SystemExit(f"unknown --queries= names: {unknown}")

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    scaled = tempfile.mkdtemp(prefix="spark_graft_scale_")
    try:
        scalers = {
            "events": _scale_events,
            "orders": _scale_orders,
            "embeddings": _scale_embeddings,
            "documents": _scale_documents,
        }
        passthrough = ["region", "nation", "customer", "supplier",
                       "part", "lineitem"]
        for t_, fn_ in scalers.items():
            if t_ in tables_filter:
                fn_(spark, base, scaled, mult)
            else:
                passthrough.append(t_)
        for t_ in passthrough:
            os.symlink(
                f"{base}/{t_}.parquet", f"{scaled}/{t_}.parquet"
            )

        results = {}
        for name in battery:
            fn = CAT[name].fn
            row = {}
            for label, sf in (("base", base), (f"x{mult}", scaled)):
                row[label] = min_wall_s(spark, fn, sf, 2)
            row["ratio"] = round(row[f"x{mult}"] / row["base"], 2)
            results[name] = row
            print(f"{name}: {row}", flush=True)

        out = {
            "mult": mult,
            "base": base,
            "results": results,
        }
        if out_path:
            with open(out_path, "w") as f:
                json.dump(out, f, indent=1)
            print(f"wrote {out_path}")
    finally:
        shutil.rmtree(scaled, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
