"""Lakehouse table-layout and view-maintenance queries (SURVEY.md
§2.10 extensions: the table-management operations a 100 TB pipeline
runs BETWEEN ingest and training).

Two families:

* **Z-order layout audit** — `table_zorder_layout` bins rows by the
  prefix of their Morton key (operators/zorder.py — the interleave a
  Z-ordered write clusters files on) and reports each bin's min/max
  rectangle over both key columns.  Tight rectangles = effective
  file-level data skipping; rectangles spanning the domain = the
  clustering is broken.  This is the audit you run after an
  `OPTIMIZE ZORDER BY` to prove the layout earned its shuffle.

* **Range-partition planning** — `table_range_partition_plan` derives
  global sort boundaries the way Spark's own RangePartitioner does:
  draw a deterministic content-hash sample, take its discrete
  quantiles as the K−1 cut points, then audit the plan by bucketing
  the FULL table against the cuts and counting rows per bucket.
  Balanced counts = the sample was representative and a global
  `repartitionByRange`/sort-merge write will not straggle.

* **Incremental materialized-view maintenance** —
  `mv_incremental_refresh` maintains a grouped aggregate under a
  retraction-style delta (weight −1 retracts a row, +1 asserts one;
  an update is a retraction + assertion, possibly in a DIFFERENT
  group).  The maintained state must equal a full recompute over the
  post-delta table — which is exactly what the DuckDB oracle computes,
  so the driver row certifies the algebra (not just the plumbing).

Reference scope: the reference rebuilds its SQLite tables from scratch
on every run (Scraper.py drop+create, :94 in the engine's port notes);
these queries are the at-scale replacements — audit the layout instead
of trusting it, apply deltas instead of recomputing.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.operators.zorder import (
    morton_col,
    morton_sql,
)
from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
    materialize,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import Q, dec, t

_ZBITS = 16  # quantized key width
_ZBINS = 64  # audit bins = top 6 bits of the 32-bit morton key
_ZSHIFT = 2 * _ZBITS - 6


def table_zorder_layout(spark, sf_dir):
    """Z-order layout audit over lineitem (l_partkey, l_suppkey):
    quantize both keys to 16 bits against their global min/max,
    interleave (Morton), bin by the top 6 morton bits (64 equal-width
    z ranges — each the key-space rectangle one clustered file would
    cover), and report per-bin row counts and min/max spans of BOTH
    raw keys.

    Scale: one column-pruned scan; the 1-row min/max aggregate
    broadcasts back (crossJoin of one row); quantize + interleave are
    narrow codegen expressions; the only data shuffle is the 64-group
    partial+final aggregate.  NO global sort — the audit costs a scan,
    not the clustered write it validates.

    Float parity: quantization is `floor((k − min) · 65535 / range)`
    with the multiply BEFORE the divide in both engines — products stay
    ≤ 2^53, so the doubles are exact and the floor is deterministic.
    All output columns are integers (span fractions are left to the
    reader: span / global span) so the driver hash is float-free.
    """
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    stats = li.agg(
        F.min("l_partkey").alias("_pk_min"),
        F.max("l_partkey").alias("_pk_max"),
        F.min("l_suppkey").alias("_sk_min"),
        F.max("l_suppkey").alias("_sk_max"),
    )
    lim = float((1 << _ZBITS) - 1)
    qa = F.floor(
        (F.col("l_partkey") - F.col("_pk_min")).cast("double")
        * lim
        / F.greatest(
            (F.col("_pk_max") - F.col("_pk_min")).cast("double"), F.lit(1.0)
        )
    )
    qb = F.floor(
        (F.col("l_suppkey") - F.col("_sk_min")).cast("double")
        * lim
        / F.greatest(
            (F.col("_sk_max") - F.col("_sk_min")).cast("double"), F.lit(1.0)
        )
    )
    z = morton_col(qa, qb, _ZBITS)
    return (
        li.crossJoin(F.broadcast(stats))
        .select(
            "l_partkey",
            "l_suppkey",
            F.shiftright(z, _ZSHIFT).alias("zbin"),
        )
        .groupBy("zbin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_partkey"),
            F.max("l_partkey").alias("max_partkey"),
            F.min("l_suppkey").alias("min_suppkey"),
            F.max("l_suppkey").alias("max_suppkey"),
            (F.max("l_partkey") - F.min("l_partkey")).alias("partkey_span"),
            (F.max("l_suppkey") - F.min("l_suppkey")).alias("suppkey_span"),
        )
    )


TABLE_ZORDER_LAYOUT_SQL = f"""
WITH stats AS (
  SELECT MIN(l_partkey) AS pk_min, MAX(l_partkey) AS pk_max,
         MIN(l_suppkey) AS sk_min, MAX(l_suppkey) AS sk_max
  FROM lineitem
),
q AS (
  SELECT l_partkey, l_suppkey,
         CAST(FLOOR(CAST(l_partkey - pk_min AS DOUBLE) * 65535.0
              / GREATEST(CAST(pk_max - pk_min AS DOUBLE), 1.0)) AS BIGINT)
           AS qa,
         CAST(FLOOR(CAST(l_suppkey - sk_min AS DOUBLE) * 65535.0
              / GREATEST(CAST(sk_max - sk_min AS DOUBLE), 1.0)) AS BIGINT)
           AS qb
  FROM lineitem, stats
),
zed AS (
  SELECT l_partkey, l_suppkey,
         CAST({morton_sql("qa", "qb", _ZBITS)} AS BIGINT) >> {_ZSHIFT}
           AS zbin
  FROM q
)
SELECT zbin,
       COUNT(*) AS n_rows,
       MIN(l_partkey) AS min_partkey,
       MAX(l_partkey) AS max_partkey,
       MIN(l_suppkey) AS min_suppkey,
       MAX(l_suppkey) AS max_suppkey,
       MAX(l_partkey) - MIN(l_partkey) AS partkey_span,
       MAX(l_suppkey) - MIN(l_suppkey) AS suppkey_span
FROM zed
GROUP BY zbin
"""


_RP_BUCKETS = 8  # target range partitions (K); K-1 cut points


def table_range_partition_plan(spark, sf_dir):
    """Range-partition planner + balance audit over lineitem keyed by
    ``l_orderkey`` — the boundary-selection step of a global sort /
    ``repartitionByRange`` write, made explicit and auditable.

    1. **Sample** deterministically: keep a row iff the first hex char
       of ``md5('rp:' || l_orderkey || ':' || l_linenumber)`` is '0'
       (p = 1/16).  A content-hash predicate picks the SAME rows on
       any cluster layout and any engine (the ``sample_hash_
       deterministic`` pattern), unlike seed-based ``df.sample``.
    2. **Cut points**: rank the sample by (key, linenumber) and take
       the key value at rank ``floor(i·n/K)`` for i = 1..K−1 — the
       sample's discrete quantiles, exactly what Spark's
       RangePartitioner computes from its reservoir sample (it
       collects the sample to the driver; here the rank window runs
       over the bounded sample only, never the table).
    3. **Audit**: broadcast the ≤K−1 cuts as one array row, bucket
       every table row with ``size(filter(cuts, c -> c < key))`` —
       a narrow codegen expression — and aggregate per-bucket row
       counts and key min/max.  Near-equal ``n_rows`` proves the plan;
       a straggler bucket means the key is skewed and the write needs
       salting or AQE.

    Scale: one pruned scan for the sample, one window over the 1/16
    sample (bounded; production would cap it with a further hash
    digit), one broadcast of ≤7 longs, one pruned scan + 8-group
    aggregate for the audit.  No global sort is ever performed — the
    planner costs two scans, not the shuffle it plans.

    All outputs are integers (counts, key bounds) — float-free hash.
    Duplicate cut values (possible under extreme skew) are kept, so
    empty buckets surface as missing bucket ids rather than silently
    merging — the audit's job is to show exactly that.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    sample = li.filter(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("rp:"),
                    F.col("l_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1,
            1,
        )
        == "0"
    )
    w = Window.orderBy("l_orderkey", "l_linenumber")
    ranked = sample.select(
        "l_orderkey",
        F.row_number().over(w).cast("long").alias("_rn"),
        F.count(F.lit(1))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("_n"),
    )
    cut_ranks = F.array(
        *[
            F.floor(F.col("_n") * F.lit(i) / F.lit(_RP_BUCKETS))
            for i in range(1, _RP_BUCKETS)
        ]
    )
    cuts = ranked.filter(F.array_contains(cut_ranks, F.col("_rn"))).agg(
        F.sort_array(F.collect_list("l_orderkey")).alias("_cuts")
    )
    bucket = F.size(
        F.filter(F.col("_cuts"), lambda c: c < F.col("l_orderkey"))
    ).alias("bucket")
    return (
        li.crossJoin(F.broadcast(cuts))
        .select(bucket, "l_orderkey")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_orderkey").alias("min_key"),
            F.max("l_orderkey").alias("max_key"),
        )
    )


_RP_RANKS_SQL = ", ".join(
    f"CAST(FLOOR(n * {i} / {_RP_BUCKETS}) AS BIGINT)"
    for i in range(1, _RP_BUCKETS)
)

TABLE_RANGE_PARTITION_SQL = f"""
WITH s AS (
  SELECT l_orderkey, l_linenumber
  FROM lineitem
  WHERE substring(md5('rp:' || CAST(l_orderkey AS VARCHAR)
                   || ':' || CAST(l_linenumber AS VARCHAR)), 1, 1) = '0'
),
r AS (
  SELECT l_orderkey,
         ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER () AS n
  FROM s
),
cuts AS (
  -- COALESCE: over an empty/degenerate sample DuckDB's list() yields
  -- NULL while Spark's collect_list yields [] — coalesce to the empty
  -- list so both engines put every row in bucket 0 (ranks that floor
  -- to 0 match no rn >= 1 in either engine, identically)
  SELECT COALESCE(list(l_orderkey ORDER BY l_orderkey),
                  CAST([] AS BIGINT[])) AS cut_list
  FROM r
  WHERE rn IN ({_RP_RANKS_SQL})
)
SELECT CAST(len(list_filter(cut_list, c -> c < l_orderkey)) AS INTEGER)
         AS bucket,
       COUNT(*) AS n_rows,
       MIN(l_orderkey) AS min_key,
       MAX(l_orderkey) AS max_key
FROM lineitem, cuts
GROUP BY 1
"""


def mv_incremental_refresh(spark, sf_dir):
    """Incremental maintenance of the materialized view
    ``orders GROUP BY (o_orderpriority, o_orderstatus) →
    (count, exact decimal revenue)`` under a retraction-style delta.

    The simulated history (all doc-id arithmetic, so the oracle can
    replay it):

    * base snapshot   = orders with ``o_orderkey % 10 != 0``
    * inserts         = the ``% 10 == 0`` rows (new orders)
    * updates         = base rows with ``% 7 == 0``: price doubles and
                        status moves to 'U' — the delta carries a
                        retraction (−1, old group, old price) AND an
                        assertion (+1, NEW group, new price), the
                        group-migrating case naive "UPSERT the agg"
                        implementations corrupt
    * deletes         = base rows with ``% 13 == 0`` (and not updated):
                        retraction only

    The maintained state is ``state ⊕ delta_agg``: aggregate the
    weighted delta, full-outer join on the group key, add counts and
    decimal sums, drop groups whose maintained count reaches zero.

    Scale: this is THE at-scale refresh shape — the base state is never
    rescanned (here it is simulated by one aggregate over the base
    predicate; in production it is the stored MV), only the delta
    shuffles, and the merge join is group-key co-partitioned.  The
    oracle recomputes the view from the post-delta table directly, so a
    green row certifies base ⊕ delta ≡ full recompute, including the
    group-migration and count-to-zero edge cases.
    """
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_orderstatus",
        dec("o_totalprice").alias("_price"),
    )
    k = F.col("o_orderkey")
    base = o.filter(k % 10 != 0)
    state = base.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_price").alias("_rev")
    )

    inserts = o.filter(k % 10 == 0).select(
        "o_orderpriority",
        "o_orderstatus",
        F.lit(1).alias("_w"),
        F.col("_price").alias("_p"),
    )
    upd_src = base.filter(k % 7 == 0)
    retract_upd = upd_src.select(
        "o_orderpriority",
        "o_orderstatus",
        F.lit(-1).alias("_w"),
        F.col("_price").alias("_p"),
    )
    assert_upd = upd_src.select(
        "o_orderpriority",
        F.lit("U").alias("o_orderstatus"),
        F.lit(1).alias("_w"),
        (F.col("_price") * 2).alias("_p"),
    )
    retract_del = base.filter((k % 13 == 0) & (k % 7 != 0)).select(
        "o_orderpriority",
        "o_orderstatus",
        F.lit(-1).alias("_w"),
        F.col("_price").alias("_p"),
    )
    delta = inserts.unionByName(retract_upd).unionByName(
        assert_upd
    ).unionByName(retract_del)
    delta_agg = delta.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.sum("_w").alias("_dn"),
        F.sum(F.col("_w").cast("decimal(14,2)") * F.col("_p")).alias("_drev"),
    )

    merged = state.join(
        delta_agg, ["o_orderpriority", "o_orderstatus"], "full_outer"
    ).select(
        "o_orderpriority",
        "o_orderstatus",
        (
            F.coalesce(F.col("_n"), F.lit(0))
            + F.coalesce(F.col("_dn"), F.lit(0))
        ).alias("n_orders"),
        (
            F.coalesce(F.col("_rev").cast("decimal(18,2)"), F.lit(0))
            + F.coalesce(F.col("_drev").cast("decimal(18,2)"), F.lit(0))
        )
        .cast("double")
        .alias("total_price"),
    )
    return merged.filter(F.col("n_orders") > 0)


MV_INCREMENTAL_SQL = """
WITH post AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderkey % 10 <> 0 AND o_orderkey % 7 = 0
              THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % 10 <> 0 AND o_orderkey % 7 = 0
              THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2
              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
  FROM orders
  WHERE NOT (o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0
             AND o_orderkey % 13 = 0)
)
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(price) AS DOUBLE) AS total_price
FROM post
GROUP BY o_orderpriority, o_orderstatus
"""


def orders_dense_row_ids(spark, sf_dir):
    """Dense global row ids (0..n-1 by o_orderkey) WITHOUT a global
    sort or single-partition window — ``operators/rowid.dense_row_ids``
    (range-shuffle + per-task local index + broadcast prefix-sum
    offsets) certified against the obvious-but-unscalable oracle
    formulation ``row_number() OVER (ORDER BY o_orderkey) - 1``.
    o_orderkey is unique in this corpus (verified in TESTDATA notes;
    lineitem's composite key is NOT, which is why the exemplar rides
    orders), satisfying the operator's determinism contract, so the
    distributed assignment is bit-identical to the global window.

    Scale: the only wide exchange is repartitionByRange (sampled
    boundaries, parallel everywhere); counts collect one row per
    shuffle partition; offsets broadcast back.  The plan contains NO
    window operator — pinned in tests/test_plans.py.
    """
    from rick_and_morty_data_pipeline_project_spark.operators.rowid import (
        dense_row_ids,
    )

    o = t(spark, sf_dir, "orders").select("o_orderkey")
    return dense_row_ids(o, ["o_orderkey"]).select("o_orderkey", "row_id")


ORDERS_DENSE_ROW_IDS_SQL = """
SELECT o_orderkey,
       row_number() OVER (ORDER BY o_orderkey) - 1 AS row_id
FROM orders
"""


def evolution_read_generations(spark, sf_dir):
    """The schema-evolution READER (``sources/evolution.py``) as a
    driver-certified query: the query itself stages a two-generation
    parquet tree in a temp dir from the region table — generation 0
    writes ``(region_id int32, name string)``, generation 1 writes
    ``(region_id int64, region_name string, population int64)`` — then
    reads it back through ``read_evolved`` (footer-sniffed generation
    groups, rename map name->region_name, int->long widening, missing
    column as typed NULL).  The staged rows are a deterministic
    function of region, so the DuckDB oracle replays the expected
    union directly from the region view: the driver row certifies the
    reader's SEMANTICS (mergeSchema cannot express any of the three
    evolutions - it raises on int->long and treats a rename as two
    columns).

    Scale note: the staging is test-scaffolding (region is 5 rows);
    the reader itself footer-sniffs distributedly and unions ordinary
    pushdown-capable scans - the plan story lives in
    sources/evolution.py and tests/test_evolution.py.
    """
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from rick_and_morty_data_pipeline_project_spark.sources.evolution import (
        read_evolved,
    )

    r = t(spark, sf_dir, "region")
    tmp = tempfile.mkdtemp(prefix="spark_graft_evo_")
    try:
        r.select(
            F.col("r_regionkey").cast("int").alias("region_id"),
            F.col("r_name").alias("name"),
        ).coalesce(1).write.mode("append").parquet(tmp)
        r.select(
            F.col("r_regionkey").cast("long").alias("region_id"),
            F.col("r_name").alias("region_name"),
            (F.col("r_regionkey") * 100).cast("long").alias("population"),
        ).coalesce(1).write.mode("append").parquet(tmp)
        target = T.StructType(
            [
                T.StructField("region_id", T.LongType()),
                T.StructField("region_name", T.StringType()),
                T.StructField("population", T.LongType()),
            ]
        )
        return materialize(  # before the staging dir dies
            read_evolved(spark, tmp, target, renames={"name": "region_name"})
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


EVOLUTION_READ_SQL = """
SELECT CAST(r_regionkey AS BIGINT) AS region_id,
       r_name AS region_name,
       CAST(NULL AS BIGINT) AS population
FROM region
UNION ALL
SELECT CAST(r_regionkey AS BIGINT),
       r_name,
       CAST(r_regionkey * 100 AS BIGINT)
FROM region
"""



QUERIES: dict[str, Q] = {
    "table_zorder_layout": Q(table_zorder_layout, TABLE_ZORDER_LAYOUT_SQL),
    "table_range_partition_plan": Q(
        table_range_partition_plan, TABLE_RANGE_PARTITION_SQL
    ),
    "mv_incremental_refresh": Q(mv_incremental_refresh, MV_INCREMENTAL_SQL),
    "orders_dense_row_ids": Q(orders_dense_row_ids, ORDERS_DENSE_ROW_IDS_SQL),
    "evolution_read_generations": Q(
        evolution_read_generations, EVOLUTION_READ_SQL
    ),
}
