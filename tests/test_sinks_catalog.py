"""Sink/source coverage beyond parquet scans: CSV round-trip (SNK-3/
SRC-9), partitioned parquet writes with partition pruning (SNK-1 at
scale), and catalog introspection (SRC-8)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.plans.explain_utils import (
    formatted_plan,
)
from rick_and_morty_data_pipeline_project_spark.sources.corpus import (
    register_views,
)
from tests.conftest import SF_SMALL


def test_csv_round_trip(spark):
    """SNK-3 (to_csv, Scraper.py:369-371) + SRC-9 (manual header-skip
    read, Scraper.py:394-399) → header-aware distributed CSV I/O."""
    df = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").csv(f"{d}/nation_csv", header=True)
        back = spark.read.csv(f"{d}/nation_csv", header=True, inferSchema=True)
        assert back.count() == df.count()
        assert set(back.columns) == set(df.columns)
        a = {tuple(r) for r in df.collect()}
        b = {tuple(r) for r in back.collect()}
        assert a == b


def test_partitioned_write_prunes(spark):
    """Hive-style partitioned layout: a filter on the partition column
    must prune directories (PartitionFilters), not scan everything."""
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    with tempfile.TemporaryDirectory() as d:
        li.write.mode("overwrite").partitionBy("l_returnflag").parquet(
            f"{d}/li"
        )
        back = spark.read.parquet(f"{d}/li")
        q = back.filter(F.col("l_returnflag") == "R").select("l_orderkey")
        plan = formatted_plan(q)
        assert "PartitionFilters" in plan
        assert "l_returnflag" in plan.split("PartitionFilters", 1)[1][:200]
        want = li.filter(F.col("l_returnflag") == "R").count()
        assert q.count() == want


def test_catalog_introspection(spark):
    """SRC-8 (sqlite_master listing, Scraper.py:445-449)."""
    register_views(spark, SF_SMALL)
    names = {t.name for t in spark.catalog.listTables()}
    assert {"lineitem", "orders", "documents", "embeddings"} <= names
    cols = {f.name for f in spark.catalog.listColumns("lineitem")}
    assert "l_orderkey" in cols


def test_json_round_trip(spark):
    """JSON lines source/sink (beyond ref): schema-preserving round trip
    including nested/array columns."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id",
        "source",
        F.split("text", " ").alias("tokens"),
        F.struct(F.col("n_chars").alias("chars"), F.col("lang")).alias("meta"),
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").json(f"{d}/docs_json")
        back = spark.read.schema(df.schema).json(f"{d}/docs_json")
        assert back.count() == df.count()
        a = {(r["doc_id"], tuple(r["tokens"]), r["meta"]["chars"]) for r in df.collect()}
        b = {(r["doc_id"], tuple(r["tokens"]), r["meta"]["chars"]) for r in back.collect()}
        assert a == b


def test_orc_round_trip(spark):
    """ORC source/sink (beyond ref): schema-preserving round trip with
    zlib compression, including nested/array columns — the
    Hive-ecosystem interchange format next to parquet."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id",
        "source",
        F.split("text", " ").alias("tokens"),
        F.struct(F.col("n_chars").alias("chars"), F.col("lang")).alias("meta"),
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").option("compression", "zlib").orc(
            f"{d}/docs_orc"
        )
        back = spark.read.orc(f"{d}/docs_orc")
        # ORC read-back relaxes nullability (file-level nullable); names
        # and types must survive exactly
        assert [(f.name, f.dataType.simpleString()) for f in back.schema] == [
            (f.name, f.dataType.simpleString()) for f in df.schema
        ]
        a = {
            (r["doc_id"], tuple(r["tokens"]), r["meta"]["chars"])
            for r in df.collect()
        }
        b = {
            (r["doc_id"], tuple(r["tokens"]), r["meta"]["chars"])
            for r in back.collect()
        }
        assert a == b


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution on read: two parquet batches with different
    column sets union under mergeSchema=true (missing columns null),
    and the widened schema is what downstream queries see."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a")], ["id", "name"]
    ).write.parquet(path + "/b1")
    spark.createDataFrame(
        [(2, "b", 9.5)], ["id", "name", "score"]
    ).write.parquet(path + "/b2")
    df = spark.read.option("mergeSchema", "true").parquet(
        path + "/b1", path + "/b2"
    )
    assert set(df.columns) == {"id", "name", "score"}
    rows = {(r["id"], r["name"], r["score"]) for r in df.collect()}
    assert rows == {(1, "a", None), (2, "b", 9.5)}


def test_compaction_routes_unplanned_files_to_leftover_bin(
    spark, tmp_path, monkeypatch
):
    """A file landing in src between the plan's listing and the
    rewrite's re-listing (streaming ingest mid-compaction) must reach
    the output — in a dedicated leftover bin — not silently vanish
    (the round-2 inner-join routing dropped it)."""
    import rick_and_morty_data_pipeline_project_spark.operators.compaction as C

    src = str(tmp_path / "racing")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    orders.repartition(4).write.parquet(src)
    n_before = orders.count()

    late = spark.range(100).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) if f.name != "o_orderkey"
          else (F.col("id") + 10_000_000).alias(f.name)
          for f in orders.schema.fields]
    )

    orig_plan = C.plan_compaction
    landed = {"done": False}

    def racing_plan(*args, **kwargs):
        plan = orig_plan(*args, **kwargs)
        plan = plan.localCheckpoint()  # freeze the listing, then race
        if not landed["done"]:
            late.write.mode("append").parquet(src)
            landed["done"] = True
        return plan

    monkeypatch.setattr(C, "plan_compaction", racing_plan)
    dst = str(tmp_path / "compacted")
    n_bins = C.compact(spark, src, dst, target_rows=8000)
    back = spark.read.parquet(dst)
    assert back.count() == n_before + 100  # nothing lost
    # the late rows sit in the highest (leftover) bin
    top_bin = back.agg(F.max("_bin")).first()[0]
    assert n_bins == top_bin + 1
    late_rows = back.filter(F.col("o_orderkey") >= 10_000_000)
    assert late_rows.count() == 100
    assert {r["_bin"] for r in late_rows.select("_bin").distinct().collect()} == {top_bin}


def test_compaction_plan_and_execute(spark, tmp_path):
    """Compaction planning: bins respect the row target (oversized
    files get singleton bins), every file is covered exactly once, and
    executing the plan conserves rows while reducing file count."""
    import glob
    import os

    from rick_and_morty_data_pipeline_project_spark.operators.compaction import (
        compact,
        plan_compaction,
    )

    src = str(tmp_path / "fragmented")
    # 8 small fragments of orders (~1875 rows each)
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    orders.repartition(8).write.parquet(src)
    n_src_files = len(glob.glob(os.path.join(src, "part-*.parquet")))
    assert n_src_files == 8

    plan = plan_compaction(spark, src, target_rows=8000).collect()
    assert {r["file"] for r in plan} and len(plan) == n_src_files
    by_bin = {}
    for r in plan:
        by_bin.setdefault(r["bin_id"], []).append(r["n_rows"])
    for rows in by_bin.values():
        assert sum(rows) <= 8000 or len(rows) == 1
    assert len(by_bin) < n_src_files  # actually compacting

    dst = str(tmp_path / "compacted")
    n_bins = compact(spark, src, dst, target_rows=8000)
    assert n_bins == len(by_bin)
    back = spark.read.parquet(dst)
    assert back.count() == orders.count()
    assert set(back.drop("_bin").columns) == set(orders.columns)
    # hive layout: one directory per bin, ONE data file per directory
    # (hash-collided bins must still split into their own files)
    bin_dirs = sorted(glob.glob(os.path.join(dst, "_bin=*")))
    assert len(bin_dirs) == n_bins
    n_dst_files = 0
    for d in bin_dirs:
        files = glob.glob(os.path.join(d, "part-*.parquet"))
        assert len(files) == 1, d
        n_dst_files += len(files)
    assert n_dst_files < n_src_files


def test_profile_table_files_multi_file(spark, tmp_path):
    """The per-file audit over a genuinely multi-file table: one row
    per underlying parquet file, counts and key bounds matching a
    pyarrow ground-truth read of each file."""
    import glob as _glob

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    src = spark.range(0, 1000).select(
        F.col("id").alias("l_orderkey"),
        (F.col("id") % 7).alias("v"),
    )
    # write as {tmp}/lineitem.parquet so the REAL catalog query audits it
    out = str(tmp_path / "lineitem.parquet")
    src.repartition(4, "l_orderkey").write.parquet(out)

    audited = _ALL["profile_table_files"].fn(spark, str(tmp_path)).collect()
    got = {r["file"]: (r["n_rows"], r["min_orderkey"], r["max_orderkey"]) for r in audited}
    files = [f for f in _glob.glob(f"{out}/*.parquet")]
    assert len(files) == 4 and len(got) == 4
    for f in files:
        t = _pq.read_table(f)
        ks = t.column("l_orderkey").to_pylist()
        base = f.rsplit("/", 1)[1]
        assert got[base] == (len(ks), min(ks), max(ks)), base


def test_footer_stats_match_scanning_audit(spark, tmp_path):
    """The footer-only stats equal the full-scan audit row-for-row over
    a genuinely multi-file table — metadata and data agree."""
    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.operators.tablestats import (
        parquet_footer_stats,
    )

    src = spark.range(0, 5000).select(
        F.col("id").alias("l_orderkey"), (F.col("id") * 3).alias("v")
    )
    out = str(tmp_path / "lineitem.parquet")
    src.repartition(6, "l_orderkey").write.parquet(out)

    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    scan = {
        r["file"]: (r["n_rows"], r["min_orderkey"], r["max_orderkey"])
        for r in _ALL["profile_table_files"].fn(spark, str(tmp_path)).collect()
    }
    footer = {
        r["file"]: (r["n_rows"], r["min_key"], r["max_key"])
        for r in parquet_footer_stats(spark, out, "l_orderkey").collect()
    }
    assert footer == scan and len(footer) == 6

    # partitioned (subdirectory) layout: the recursive walk must see
    # exactly the files spark.read.parquet's partition discovery sees
    pout = str(tmp_path / "parted")
    src.withColumn("pk", (F.col("l_orderkey") % 3).cast("int")).write.partitionBy(
        "pk"
    ).parquet(pout)
    footer_p = parquet_footer_stats(spark, pout, "l_orderkey").collect()
    n_files = spark.read.parquet(pout).select(
        F.input_file_name()
    ).distinct().count()
    assert len(footer_p) == n_files
    assert sum(r["n_rows"] for r in footer_p) == 5000


def test_footer_stats_missing_flagged(spark, tmp_path):
    """A legal parquet file whose writer omitted column statistics
    (has_min_max false) reports NULL bounds WITH stats_missing=true —
    distinguishable from a genuinely NULL-keyed file; a zero-row file
    reports NULL bounds with stats_missing=false."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rick_and_morty_data_pipeline_project_spark.operators.tablestats import (
        parquet_footer_stats,
    )

    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(
        pa.table({"l_orderkey": [5, 1, 9]}),
        str(d / "nostats.parquet"),
        write_statistics=False,
    )
    pq.write_table(
        pa.table({"l_orderkey": [2, 7]}), str(d / "stats.parquet")
    )
    pq.write_table(
        pa.table({"l_orderkey": pa.array([], type=pa.int64())}),
        str(d / "empty.parquet"),
    )
    pq.write_table(
        pa.table({"l_orderkey": pa.array([None, None], type=pa.int64())}),
        str(d / "allnull.parquet"),
    )
    got = {
        r["file"]: (r["n_rows"], r["min_key"], r["max_key"], r["stats_missing"])
        for r in parquet_footer_stats(spark, str(d), "l_orderkey").collect()
    }
    assert got["nostats.parquet"] == (3, None, None, True)
    assert got["stats.parquet"] == (2, 2, 7, False)
    assert got["empty.parquet"] == (0, None, None, False)
    # all-NULL key: stats present, has_min_max false BECAUSE
    # null_count == num_rows — genuinely NULL-keyed, not flagged
    assert got["allnull.parquet"] == (2, None, None, False)


def test_compaction_plan_invariants(spark):
    """The running-sum bin packer must produce CONTIGUOUS groups in
    partition order, with every group except possibly the last
    reaching the row target once its final partition lands (greedy
    first-fit semantics — the exact values are oracle-checked; this
    pins the plan's shape as a valid compaction plan)."""
    from rick_and_morty_data_pipeline_project_spark.queries.extraq import (
        _COMPACTION_TARGET_ROWS,
        profile_compaction_plan,
    )
    from tests.conftest import SF_SMALL

    rows = sorted(
        profile_compaction_plan(spark, SF_SMALL).collect(),
        key=lambda r: r["day"],
    )
    # group ids are non-decreasing along partition order (contiguity)
    grps = [r["grp"] for r in rows]
    assert grps == sorted(grps), grps
    # group_rows/group_parts are consistent per group
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r["grp"], []).append(r)
    for g, members in by_grp.items():
        total = sum(r["n_rows"] for r in members)
        assert all(r["group_rows"] == total for r in members)
        assert all(r["group_parts"] == len(members) for r in members)
    # greedy fill: every group but the last crosses the target once its
    # last member is added (otherwise the next partition would have
    # joined it)
    last_g = max(by_grp)
    for g, members in by_grp.items():
        if g != last_g:
            assert sum(r["n_rows"] for r in members) >= _COMPACTION_TARGET_ROWS - max(
                r["n_rows"] for r in members
            )


def test_observation_metrics_ride_the_write(spark):
    """df.observe() collects audit counters ON the write pass — row
    count and a violation count come back from the SAME job that
    materialized the data, no second scan (the free version of the
    audit_row_constraints pattern for in-pipeline gating)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("load_audit")
    df = spark.read.parquet(f"{SF_SMALL}/orders.parquet").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias(
            "nonpositive_price"
        ),
        F.max("o_orderkey").alias("max_key"),
    )
    df.write.format("noop").mode("overwrite").save()
    got = obs.get
    want_n = spark.read.parquet(f"{SF_SMALL}/orders.parquet").count()
    assert got["n_rows"] == want_n
    assert got["nonpositive_price"] == 0
    assert got["max_key"] == want_n - 1  # dense 0-based keys
