"""Curation-stage catalog queries on hand-built tables: the
singleton-language quality guard, degenerate range-partition samples
and the table checksum."""

from __future__ import annotations


def test_quality_normalized_singleton_language(spark, tmp_path):
    """A language cohort with exactly ONE document must be dropped (no
    defined variance), not crash: the unguarded variance expression is
    0.0/0.0, which raises under Spark 4 ANSI defaults while the DuckDB
    oracle silently NULLs — the CASE guard makes both drop the row."""
    import duckdb

    from rick_and_morty_data_pipeline_project_spark.queries.catalog import QUERIES
    from tests.oracle_harness import compare

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "en", "src0", 7),
            (2, "a b c d e f", "en", "src0", 11),
            (3, "x y", "en", "src1", 3),
            (4, "lonely single doc", "zz", "src1", 17),  # singleton lang
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    sf_dir = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    q = QUERIES["text_quality_normalized"]
    out = q.fn(spark, sf_dir)
    langs = {r["lang"] for r in out.collect()}
    assert langs == {"en"}, langs
    # full cell-exact parity on the same tiny corpus (documents only —
    # the shared harness registers all 10 views, which don't exist here)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'"
    )
    issues = compare(q.fn(spark, sf_dir), con.execute(q.sql).df())
    assert not issues, issues


def test_range_partition_plan_degenerate_samples(spark, tmp_path):
    """Round-6 advisory (lakeq): the planner and its oracle must agree
    on degenerate samples.  Empty 1/16 sample → Spark's collect_list
    gives [] while DuckDB's list() gives NULL (bucket NULL) unless the
    oracle coalesces; sample n < K → ranks floor to 0 / duplicate and
    some cuts legitimately drop — both engines must drop them the same
    way.  Cell-exact parity on both tiny corpora."""
    import duckdb

    from rick_and_morty_data_pipeline_project_spark.queries.catalog import (
        QUERIES,
    )
    from tests.oracle_harness import compare

    q = QUERIES["table_range_partition_plan"]
    # keys 1..10 with l_linenumber=1 all hash OUTSIDE the 1/16 sample
    # (verified: md5('rp:k:1') first hex char != '0'); keys 11/13/21
    # land inside it
    empty_sample = [(k, 1) for k in range(1, 11)]
    tiny_sample = empty_sample + [(11, 1), (13, 1), (21, 1)]  # n=3 < K=8
    for name, rows in (("empty", empty_sample), ("tiny", tiny_sample)):
        sf_dir = str(tmp_path / name)
        spark.createDataFrame(
            rows, ["l_orderkey", "l_linenumber"]
        ).coalesce(1).write.parquet(f"{sf_dir}/lineitem.parquet")
        out = q.fn(spark, sf_dir)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM "
            f"'{sf_dir}/lineitem.parquet/*.parquet'"
        )
        issues = compare(q.fn(spark, sf_dir), con.execute(q.sql).df())
        assert not issues, (name, issues)
        buckets = {r["bucket"] for r in out.collect()}
        if name == "empty":
            # no cuts at all → every row in bucket 0 on BOTH engines
            assert buckets == {0}, buckets


def test_table_checksum_detects_single_row_change(spark, tmp_path):
    """The migration checksum must actually detect corruption: copy a
    tiny corpus, flip ONE key in ONE row of ONE table — only that
    table's checksum changes, all row counts stay equal (the case a
    count-only validation waves through)."""
    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.queries.catalog import (
        QUERIES,
    )
    from tests.conftest import SF_SMALL

    q = QUERIES["audit_table_checksum"]

    src = str(tmp_path / "clean")
    for t_ in ("lineitem", "orders", "customer"):
        spark.read.parquet(f"{SF_SMALL}/{t_}.parquet").limit(
            200
        ).coalesce(1).write.parquet(f"{src}/{t_}.parquet")
    base = {r["table_name"]: r for r in q.fn(spark, src).collect()}

    bad = str(tmp_path / "corrupt")
    for t_ in ("lineitem", "customer"):
        spark.read.parquet(f"{src}/{t_}.parquet").coalesce(1).write.parquet(
            f"{bad}/{t_}.parquet"
        )
    o = spark.read.parquet(f"{src}/orders.parquet")
    first_key = o.agg(F.min("o_orderkey")).first()[0]
    o.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") == first_key, F.col("o_custkey") + 1)
        .otherwise(F.col("o_custkey")),
    ).coalesce(1).write.parquet(f"{bad}/orders.parquet")
    got = {r["table_name"]: r for r in q.fn(spark, bad).collect()}

    for t_ in ("lineitem", "orders", "customer"):
        assert got[t_]["n_rows"] == base[t_]["n_rows"]
    assert got["orders"]["key_checksum"] != base["orders"]["key_checksum"]
    assert got["lineitem"]["key_checksum"] == base["lineitem"]["key_checksum"]
    assert got["customer"]["key_checksum"] == base["customer"]["key_checksum"]


def test_table_checksum_null_parity_cross_engine(spark, tmp_path):
    """ADVICE r7: ``concat_ws`` SKIPS NULL args while DuckDB's ``||``
    chain nulls the whole canon string and silently drops the row from
    the sum — the engines would diverge on the first NULL.  With the
    ``<NULL>`` sentinel coalesced on BOTH arms, a NULL planted in an
    audited enum column must yield IDENTICAL checksums across engines,
    and the NULL row must still be counted in the fold."""
    import duckdb
    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.queries.catalog import (
        QUERIES,
    )
    from tests.conftest import SF_SMALL

    q = QUERIES["audit_table_checksum"]
    src = str(tmp_path / "withnull")
    for t_ in ("lineitem", "orders"):
        spark.read.parquet(f"{SF_SMALL}/{t_}.parquet").limit(50).coalesce(
            1
        ).write.parquet(f"{src}/{t_}.parquet")
    c = spark.read.parquet(f"{SF_SMALL}/customer.parquet").limit(50)
    first = c.agg(F.min("c_custkey")).first()[0]
    c.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") == first, F.lit(None)).otherwise(
            F.col("c_mktsegment")
        ),
    ).coalesce(1).write.parquet(f"{src}/customer.parquet")

    got = {r["table_name"]: r for r in q.fn(spark, src).collect()}
    con = duckdb.connect()
    for t_ in ("lineitem", "orders", "customer"):
        con.execute(
            f"CREATE VIEW {t_} AS "
            f"SELECT * FROM '{src}/{t_}.parquet/*.parquet'"
        )
    ora = {r[0]: r for r in con.execute(q.sql).fetchall()}
    for t_ in ("lineitem", "orders", "customer"):
        assert got[t_]["n_rows"] == ora[t_][1], t_
        assert got[t_]["key_checksum"] == str(ora[t_][2]), t_
