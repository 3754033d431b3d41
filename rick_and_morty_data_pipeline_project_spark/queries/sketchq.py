"""Sketch-table queries: mergeable HLL rollups and Count-Min probes.

Oracle status by estimator family (round 9):

* **Count-Min is FULLY oracled** (promoted round 8): its counters are
  order-insensitive sums, so the estimate is a deterministic function
  of the data alone and DuckDB replays the whole grid bit-exactly with
  the pinned seed-42 ``hashA`` literals (``CMS_GRID_REPLAY_SQL``).
* **The HLL ROLLUPS are FULLY oracled** (promoted round 9): rebuilt on
  the explicit-register HLL (``operators/hllreg.py`` — md5 60-bit
  hash, integer ρ ranks, exact int64 harmonic sum), so DuckDB replays
  register state AND estimates bit-exactly, per day, merged TOTAL and
  rolling 7-day union alike — the CMS grid-replay trick extended to
  HLL.  The KMV rollup (``sketch_kmv_rollup``) remains the
  order-statistics counterpart.
* **The built-in DataSketches surface** (``hll_sketch_agg`` /
  ``approx_count_distinct``) remains covered by the oracled AUDIT
  twins below (exact distincts hash-verified + envelope/merge booleans
  pinned TRUE) — its register state and HIP estimator are
  engine-internal by design, the documented irreducible rows-only
  core (``agg_approx_distinct``).

Reference parity note: the reference has no sketches (453-line scraper,
Scraper.py) — these extend §2.10's training-data-pipeline surface where
distinct-counting (dedup audits, per-source uniques) and heavy-hitter
detection (domain skew, boilerplate URLs) are everyday 100 TB jobs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.operators.hllreg import (
    hll_estimate,
    hll_estimate_sql,
    hll_register_sql,
    hll_register_table,
)
from rick_and_morty_data_pipeline_project_spark.operators.sketches import (
    CMS_CANON,
    cms_point_estimates,
)
from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
    materialize,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import Q, t


def sketch_hll_rollup(spark, sf_dir):
    """Daily unique users from per-day HLL sketches plus a TOTAL row
    re-aggregated from the sketches themselves (one raw-data pass for
    the whole report — the persisted-sketch-table pattern).

    FULLY ORACLED (promoted r9 from rows-only): rebuilt on the
    explicit-register HLL (``operators/hllreg.py``) — md5 60-bit hash,
    integer ρ ranks, exact int64 harmonic sums — so DuckDB replays the
    register relation AND the Flajolet-2007 estimator bit-exactly; the
    TOTAL row's sketch-merge (element-wise register MAX, never a
    second scan of events) is part of the hash-checked contract.

    Scale: the shuffle carries ≤ m=4096 register rows per day
    (map-side-combined MAX), independent of user cardinality; the
    TOTAL union touches only the |days|·m register relation, never the
    events again.
    """
    e = t(spark, sf_dir, "events")
    regs = materialize(  # per-day + TOTAL both read it — one build
        hll_register_table(e, F.date_format("ts", "yyyy-MM-dd"), "user_id")
    )
    per_day = hll_estimate(regs, "est_users")
    merged = (
        regs.groupBy("register")
        .agg(F.max("m_rho").alias("m_rho"))
        .select(F.lit("TOTAL").alias("key"), "register", "m_rho")
    )
    total = hll_estimate(merged, "est_users")
    return (
        per_day.unionByName(total)
        .withColumnRenamed("key", "day")
        .orderBy("day")
    )


SKETCH_HLL_ROLLUP_SQL = f"""
WITH regs AS ({hll_register_sql("events", "strftime(ts, '%Y-%m-%d')", "user_id")}),
per_day AS ({hll_estimate_sql("regs", "est_users")}),
merged AS (
  SELECT 'TOTAL' AS key, register, max(m_rho) AS m_rho
  FROM regs GROUP BY 2
),
total AS ({hll_estimate_sql("merged", "est_users")})
SELECT key AS day, est_users FROM per_day
UNION ALL
SELECT key AS day, est_users FROM total
ORDER BY day
"""


def sketch_cms_user_counts(spark, sf_dir):
    """Per-user event frequencies estimated from ONE global Count-Min
    sketch, reported next to the exact counts with the overcount column
    making the one-sided error visible.

    FULLY ORACLED (promoted r8 from rows-only): the CMS estimate is a
    deterministic, partition-independent function of the data — each
    counter is an order-insensitive SUM of colliding item counts — so
    DuckDB can replay the whole grid: the oracle recomputes Spark
    CountMinSketchImpl's signed-64-bit row hash
    ``((a*item + ((a*item) >> 32)) & (2^31-1)) % width`` in HUGEINT
    wraparound arithmetic with the pinned seed-42 ``hashA`` literals
    (``operators.sketches.CMS_CANON``), rebuilds the counters from the
    exact per-item counts, and takes the same min-over-rows — the
    ESTIMATES themselves hash-match bit-exactly, not just bounds.  The
    ``pin=`` guard raises (driver-red) if the JVM sketch state ever
    drifts from the pinned canon.

    Scale: the sketch grid is ~100 KB at any corpus size and collects
    once on the driver (like the IVF centroid literals); the probe side
    is the already-aggregated distinct-user relation through a
    vectorized Arrow-batched lookup — raw events are scanned exactly
    once, by the JVM.
    """
    e = t(spark, sf_dir, "events")
    return cms_point_estimates(
        e, "user_id", eps=0.001, confidence=0.99, seed=42, pin=CMS_CANON
    ).orderBy("item")


CMS_GRID_REPLAY_SQL = """
WITH items AS (
  SELECT user_id AS item, CAST(count(*) AS BIGINT) AS exact_count
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
hash_rows AS (
  SELECT * FROM (VALUES (1562431130), (117392763), (1467211248),
                        (102948884), (662969970), (2023087525),
                        (595021505)) AS h(a)
),
s1 AS (
  -- signed-64-bit wraparound of hashA * item, as a nonneg mod-2^64
  SELECT i.item, i.exact_count, h.a,
         (((CAST(h.a AS HUGEINT) * CAST(i.item AS HUGEINT))
            % CAST(18446744073709551616 AS HUGEINT))
          + CAST(18446744073709551616 AS HUGEINT))
          % CAST(18446744073709551616 AS HUGEINT) AS w64
  FROM items i CROSS JOIN hash_rows h
),
s2 AS (
  -- reinterpret as signed (two's complement)
  SELECT item, exact_count, a,
         CASE WHEN w64 >= CAST(9223372036854775808 AS HUGEINT)
              THEN w64 - CAST(18446744073709551616 AS HUGEINT)
              ELSE w64 END AS s
  FROM s1
),
s3 AS (
  -- h + (h >> 32): arithmetic shift = floor(s / 2^32)
  SELECT item, exact_count, a,
         s + ((s - (((s % CAST(4294967296 AS HUGEINT))
                     + CAST(4294967296 AS HUGEINT))
                    % CAST(4294967296 AS HUGEINT)))
              // CAST(4294967296 AS HUGEINT)) AS t
  FROM s2
),
probes AS (
  -- wrap to 64 bits again, mask to 31 bits (& 0x7FFFFFFF = nonneg
  -- mod 2^31), bucket = % width
  SELECT item, exact_count, a,
         CAST(((((t % CAST(18446744073709551616 AS HUGEINT))
                 + CAST(18446744073709551616 AS HUGEINT))
                % CAST(18446744073709551616 AS HUGEINT))
               % CAST(2147483648 AS HUGEINT)) % 2000 AS BIGINT) AS bucket
  FROM s3
),
counters AS (
  SELECT a, bucket, sum(exact_count) AS cnt
  FROM probes GROUP BY 1, 2
),
est AS (
  SELECT p.item, CAST(min(c.cnt) AS BIGINT) AS est_count
  FROM probes p JOIN counters c ON p.a = c.a AND p.bucket = c.bucket
  GROUP BY 1
)
SELECT i.item, i.exact_count, e.est_count,
       e.est_count - i.exact_count AS overcount
FROM items i JOIN est e USING (item)
ORDER BY item
"""


def events_rolling_dau_hll(spark, sf_dir):
    """Trailing-7-day active users from DAILY HLL SKETCHES — the 100 TB
    twin of the exact ``events_rolling_dau``: instead of exploding the
    |distinct (user, day)| pair set 7×, each day's fixed-size register
    relation contributes to its 7 window ends and the per-window state
    is a sketch union (element-wise register MAX).  Shuffle volume
    becomes 7 × |days| × ≤ m register rows — independent of user
    cardinality — which is the plan you want when the pair set itself
    is the bottleneck.

    FULLY ORACLED (promoted r9 from rows-only): on the
    explicit-register HLL (``operators/hllreg.py``) the whole
    pipeline — registers, 7-window union, estimator — replays
    bit-exactly in DuckDB; accuracy vs the exact twin stays pinned in
    tests/test_sketches.py.
    """
    e = t(spark, sf_dir, "events")
    daily = hll_register_table(
        e, F.col("ts").cast("date"), "user_id"
    )
    contrib = daily.select(
        F.explode(
            F.sequence(F.col("key"), F.date_add(F.col("key"), 6))
        ).alias("win_day"),
        "register",
        "m_rho",
    )
    unioned = (
        contrib.groupBy("win_day", "register")
        .agg(F.max("m_rho").alias("m_rho"))
        .withColumnRenamed("win_day", "key")
    )
    counted = hll_estimate(unioned, "_n").withColumnRenamed(
        "key", "win_day"
    )
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("_min_day"),
        F.max(F.col("ts").cast("date")).alias("_max_day"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("_min_day"), F.col("_max_day"))
        ).alias("win_day")
    )
    return spine.join(counted, "win_day", "left").select(
        F.date_format("win_day", "yyyy-MM-dd").alias("win_day"),
        F.coalesce("_n", F.lit(0.0)).alias("n_active_7d_est"),
    )


ROLLING_DAU_HLL_SQL = f"""
WITH regs AS ({hll_register_sql("events", "CAST(ts AS DATE)", "user_id")}),
contrib AS (
  SELECT CAST(unnest(generate_series(CAST(key AS TIMESTAMP),
                                     CAST(key AS TIMESTAMP) + INTERVAL 6 DAY,
                                     INTERVAL 1 DAY)) AS DATE) AS win_day,
         register, m_rho
  FROM regs
),
unioned AS (
  SELECT win_day AS key, register, max(m_rho) AS m_rho
  FROM contrib GROUP BY 1, 2
),
counted AS ({hll_estimate_sql("unioned", "_n")}),
bounds AS (
  SELECT min(CAST(ts AS DATE)) AS min_day, max(CAST(ts AS DATE)) AS max_day
  FROM events
),
spine AS (
  SELECT CAST(unnest(generate_series(CAST(min_day AS TIMESTAMP),
                                     CAST(max_day AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS win_day
  FROM bounds
)
SELECT strftime(s.win_day, '%Y-%m-%d') AS win_day,
       COALESCE(c._n, 0.0) AS n_active_7d_est
FROM spine s LEFT JOIN counted c ON c.key = s.win_day
"""


# ---------------------------------------------------------------------------
# Oracled AUDIT twins.  The sketch binaries/estimates themselves cannot
# be reproduced by DuckDB, so the driver-checkable surface is the
# in-query-assert pattern (same as embedding_pca_project's distributed-
# fit assert): the query returns the EXACT counts (DuckDB-computable)
# plus booleans computed Spark-side that certify the sketch contracts —
# estimate inside the lg_k=12 3σ envelope, union-of-sketches exactly
# equal to the whole-input sketch.  The oracle pins the booleans TRUE,
# so a sketch regression turns the driver row red instead of hiding in
# a rows-only check.


def _hll_ok(est_col, exact_col):
    # lg_k=12 → relative standard error ≈ 1.04/sqrt(2^12) ≈ 1.6%;
    # allow 3σ ≈ 5% with an absolute floor of 3 for tiny groups —
    # the same envelope tests/test_sketches.py enforces.
    return F.abs(est_col - exact_col) <= F.greatest(
        F.lit(3.0), 0.05 * exact_col
    )


def sketch_hll_accuracy_audit(spark, sf_dir):
    """Driver-checkable accuracy contract of the HLL rollup: per-day
    exact distinct users (hash-verified against DuckDB) plus
    Spark-computed booleans — ``est_ok`` (per-day estimate within the
    lg_k=12 3σ envelope; on the TOTAL row, the union-of-sketches
    estimate within envelope of the exact global distinct) and
    ``merge_invariant`` (TOTAL row: unioning the SAME input sketched
    under two different partitionings — per day vs per (day,
    event_type) — yields the identical estimate, the register-merge
    determinism that makes persisted sketch tables re-groupable).

    NOT asserted: union estimate == direct whole-input sketch estimate.
    That held at sf0.01 but is not an HLL guarantee — a directly-built
    sketch answers with the HIP estimator, a union discards HIP and
    answers with the composite estimator (measured at sf0.1: direct
    1499 vs union 1488, exact 1500 — both in-envelope, not equal).

    Scale: one raw-data pass builds per-day sketch + exact distinct in
    the same aggregate (only fixed-size sketch states and count-distinct
    partials shuffle); the TOTAL row re-aggregates |days| sketch rows.
    The second-partitioning sketch pass is audit-only cost, not part of
    the production rollup.
    """
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    per_day = daily.select(
        "day",
        "exact_users",
        _hll_ok(F.hll_sketch_estimate("sk"), F.col("exact_users")).alias(
            "est_ok"
        ),
        F.lit(True).alias("merge_invariant"),
    )
    union_est = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(True))).alias(
            "_est_union"
        )
    )
    regrouped_est = (
        e.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(True))).alias(
                "_est_regrouped"
            )
        )
    )
    exact_total = e.agg(F.count_distinct("user_id").alias("exact_users"))
    total = (
        exact_total.crossJoin(union_est)  # one-row frames
        .crossJoin(regrouped_est)
        .select(
            F.lit("TOTAL").alias("day"),
            "exact_users",
            _hll_ok(F.col("_est_union"), F.col("exact_users")).alias(
                "est_ok"
            ),
            (F.col("_est_union") == F.col("_est_regrouped")).alias(
                "merge_invariant"
            ),
        )
    )
    return per_day.unionByName(total)


HLL_AUDIT_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS est_ok,
       TRUE AS merge_invariant
FROM events
GROUP BY 1
UNION ALL
SELECT 'TOTAL', COUNT(DISTINCT user_id), TRUE, TRUE FROM events
"""


def events_rolling_dau_hll_audit(spark, sf_dir):
    """Driver-checkable accuracy contract of the sketch-based trailing-
    7-day DAU: per window day, the EXACT active-user count (the
    ``events_rolling_dau`` pair-explode rewrite, hash-verified against
    DuckDB) plus ``est_ok`` — the union-of-7-daily-sketches estimate
    within the lg_k=12 3σ envelope of it, computed Spark-side and
    pinned TRUE by the oracle.

    Scale: the sketch arm shuffles 7 × |days| fixed-size sketch states
    (user-cardinality-independent — the production path); the exact arm
    explodes the distinct (user, day) pair set 7× (audit-only cost; at
    100 TB you run the audit on a sampled day range, the production
    query stays sketch-only).
    """
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("_day")).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    est = (
        daily.select(
            F.explode(
                F.sequence(F.col("_day"), F.date_add(F.col("_day"), 6))
            ).alias("win_day"),
            "sk",
        )
        .groupBy("win_day")
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("sk", F.lit(True))
            ).alias("_est")
        )
    )
    pairs = e.select(
        "user_id", F.col("ts").cast("date").alias("_day")
    ).distinct()
    exact = (
        pairs.select(
            "user_id",
            F.explode(
                F.sequence(F.col("_day"), F.date_add(F.col("_day"), 6))
            ).alias("win_day"),
        )
        .groupBy("win_day")
        .agg(F.count_distinct("user_id").alias("_n"))
    )
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("_min_day"),
        F.max(F.col("ts").cast("date")).alias("_max_day"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("_min_day"), F.col("_max_day"))
        ).alias("win_day")
    )
    return (
        spine.join(exact, "win_day", "left")
        .join(est, "win_day", "left")
        .select(
            F.date_format("win_day", "yyyy-MM-dd").alias("win_day"),
            F.coalesce("_n", F.lit(0)).alias("n_active_7d"),
            _hll_ok(
                F.coalesce("_est", F.lit(0)), F.coalesce("_n", F.lit(0))
            ).alias("est_ok"),
        )
    )


ROLLING_HLL_AUDIT_SQL = """
WITH pairs AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
bounds AS (
  SELECT min(CAST(ts AS DATE)) AS min_day, max(CAST(ts AS DATE)) AS max_day
  FROM events
),
contrib AS (
  SELECT p.user_id,
         CAST(unnest(generate_series(CAST(p.day AS TIMESTAMP),
                                     CAST(p.day AS TIMESTAMP) + INTERVAL 6 DAY,
                                     INTERVAL 1 DAY)) AS DATE) AS win_day
  FROM pairs p
),
counted AS (
  SELECT win_day, count(DISTINCT user_id) AS n FROM contrib GROUP BY 1
),
spine AS (
  SELECT CAST(unnest(generate_series(CAST(min_day AS TIMESTAMP),
                                     CAST(max_day AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS win_day
  FROM bounds
)
SELECT strftime(s.win_day, '%Y-%m-%d') AS win_day,
       COALESCE(c.n, 0) AS n_active_7d,
       TRUE AS est_ok
FROM spine s LEFT JOIN counted c USING (win_day)
"""


def sketch_cms_accuracy_audit(spark, sf_dir):
    """Driver-checkable contract of the Count-Min path: per-user exact
    event counts (hash-verified against DuckDB) plus Spark-computed
    booleans the oracle pins TRUE — ``lower_ok`` (est ≥ exact: the CMS
    one-sided guarantee, HARD — a single violation means the
    grid-decode or probe indexing is broken) and ``band_ok`` (est ≤
    exact + eps·N: the probabilistic band, deterministic for the fixed
    seed/data and verified at all three SFs before shipping).

    Scale: identical plan to ``sketch_cms_user_counts`` — one
    map-combinable sketch aggregate (fixed ~100 KB state per task),
    one driver decode, Arrow-batched probe over the already-reduced
    distinct-item relation; the N for the band rides the same one-row
    frame.
    """
    e = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    est = cms_point_estimates(
        e, "user_id", eps=0.001, confidence=0.99, seed=42
    )
    n_total = e.agg(F.count(F.lit(1)).alias("_n"))
    return (
        est.crossJoin(n_total)  # one-row frame
        .select(
            "item",
            "exact_count",
            (F.col("est_count") >= F.col("exact_count")).alias("lower_ok"),
            (
                F.col("est_count")
                <= F.col("exact_count")
                + F.ceil(F.lit(0.001) * F.col("_n")).cast("long")
            ).alias("band_ok"),
        )
    )


CMS_AUDIT_SQL = """
SELECT user_id AS item,
       COUNT(*) AS exact_count,
       TRUE AS lower_ok,
       TRUE AS band_ok
FROM events
WHERE user_id IS NOT NULL
GROUP BY 1
"""


_MG_K = 2


def sketch_heavy_hitters_audit(spark, sf_dir):
    """Driver-checkable contract of the Misra-Gries heavy-hitter
    summary (``operators/heavyhitters.py``): per l_returnflag, the
    exact row count (DuckDB hash-verified) plus Spark-computed
    booleans the oracle pins TRUE —

    * ``bound_ok``: the merged k=2 MG estimate is one-sided
      (est ≤ true) and within the PROVEN total-decrement bound
      (true − est ≤ N/(k+1)) — these hold for ANY partitioning, which
      is what makes the booleans deterministic while the estimates
      themselves are layout-dependent;
    * ``found_ok``: every value with true count > N/(k+1) survives in
      the summary (the guaranteed-capture theorem) — with three
      near-equal flags against a k=2 summary the N/3 threshold sits at
      the boundary, so decrements genuinely fire and the capture
      guarantee is exercised, not vacuous.

    Scale: one Arrow-batched pass reduces each partition to ≤ k rows;
    the driver merges ≤ k·|partitions| counters (bounded collect, the
    IVF-centroid-literal pattern) and inlines the ≤ k estimates as a
    literal map; the exact arm is one map-combinable aggregate.
    """
    from rick_and_morty_data_pipeline_project_spark.operators.heavyhitters import (
        heavy_hitters_misra_gries,
    )

    l = t(spark, sf_dir, "lineitem")
    mg = heavy_hitters_misra_gries(
        l.select("l_returnflag"), "l_returnflag", _MG_K
    )
    exact = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    tot = exact.agg(F.sum("n_rows").alias("_n"))
    if mg:
        pairs = []
        for item in sorted(mg):
            pairs += [F.lit(item), F.lit(int(mg[item]))]
        est = F.coalesce(
            F.element_at(F.create_map(*pairs), F.col("l_returnflag")),
            F.lit(0),
        )
    else:
        est = F.lit(0)
    bound = F.col("_n") / F.lit(float(_MG_K + 1))
    return exact.crossJoin(F.broadcast(tot)).select(
        "l_returnflag",
        "n_rows",
        ((est <= F.col("n_rows")) & ((F.col("n_rows") - est) <= bound)).alias(
            "bound_ok"
        ),
        (~(F.col("n_rows") > bound) | (est > 0)).alias("found_ok"),
    )


MG_AUDIT_SQL = """
SELECT l_returnflag, count(*) AS n_rows,
       TRUE AS bound_ok, TRUE AS found_ok
FROM lineitem
GROUP BY 1
"""



_KMV_K = 256


def _kmv_u(item_col):
    """The KMV uniform hash — md5 → 60-bit prefix → divide by 2^60 —
    shared by every KMV query (rollup, set ops) so the cross-engine
    bit-exactness contract has ONE Spark-side definition to keep in
    sync with the SQL twins (the adc_lut single-source pattern)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv:"), item_col.cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .cast("double")
        / F.lit(float(1 << 60))
    )


def sketch_kmv_rollup(spark, sf_dir):
    """Daily unique users from a K-MINIMUM-VALUES sketch — the
    PORTABLE, fully-oracled counterpart of ``sketch_hll_rollup``: KMV's
    state is just the k smallest uniform hashes of the distinct items
    (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07 unbiased estimator
    ``(k-1)/u_k``), every step of which is deterministic, engine-
    independent arithmetic — md5 → 60-bit prefix → divide by 2^60 —
    so DuckDB reproduces the ESTIMATES bit-exactly and the driver
    hash-checks them (unlike DataSketches HLL register state, which is
    the documented irreducible rows-only core).  Mergeable the same
    way sketch tables need: the union's sketch is the k smallest of
    the concatenated minima — the TOTAL row here re-derives it from
    the global distinct set via a heap top-k.

    Scale: the per-day k-minima come from the salted two-stage top-k
    (``grouped_topk_salted`` — day is low-cardinality, the exact shape
    a bare per-day rank window would serialize); the TOTAL arm is a
    TakeOrderedAndProject heap, never a global sort.  Exact per-day
    distinct counts ride the same aggregate for the small-day exact
    branch (count < k ⇒ the sketch IS the distinct set).
    """
    from rick_and_morty_data_pipeline_project_spark.operators.topk import (
        grouped_topk_salted,
    )

    e = t(spark, sf_dir, "events")
    # NULL guard (r08 advisory): a NULL user_id would hash to u=NULL,
    # which Spark's ASC ordering ranks FIRST (consuming a sketch slot)
    # while DuckDB's ORDER BY puts NULLs LAST — filter on BOTH arms so
    # the cross-engine contract never depends on NULL-ordering defaults.
    pairs = (
        e.filter(F.col("user_id").isNotNull())
        .select(F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id")
        .distinct()
    )
    hashed = pairs.select(
        "day", "user_id", _kmv_u(F.col("user_id")).alias("u")
    )
    exact = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("n_exact"))
    kept = grouped_topk_salted(
        hashed, ["day"], "u", _KMV_K, tiebreak="user_id"
    )
    per_day = (
        kept.groupBy("day")
        .agg(F.max("u").alias("_uk"))
        .join(exact, "day")
        .select(
            "day",
            "n_exact",
            F.round(
                F.when(
                    F.col("n_exact") < _KMV_K,
                    F.col("n_exact").cast("double"),
                ).otherwise(F.lit(float(_KMV_K - 1)) / F.col("_uk")),
                6,
            ).alias("est_users"),
        )
    )
    g_hashed = hashed.select("user_id", "u").distinct()
    g_exact = g_hashed.agg(F.count(F.lit(1)).alias("n_exact"))
    g_kept = g_hashed.orderBy("u", "user_id").limit(_KMV_K)
    total = (
        g_kept.agg(F.max("u").alias("_uk"))
        .crossJoin(g_exact)  # one-row frames
        .select(
            F.lit("TOTAL").alias("day"),
            "n_exact",
            F.round(
                F.when(
                    F.col("n_exact") < _KMV_K,
                    F.col("n_exact").cast("double"),
                ).otherwise(F.lit(float(_KMV_K - 1)) / F.col("_uk")),
                6,
            ).alias("est_users"),
        )
    )
    return per_day.unionByName(total).orderBy("day")


KMV_ROLLUP_SQL = """
WITH pairs AS (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events
  WHERE user_id IS NOT NULL
),
hashed AS (
  SELECT day, user_id,
         CAST(CAST('0x' || substring(
             md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
           AS DOUBLE) / 1152921504606846976.0 AS u
  FROM pairs
),
ranked AS (
  SELECT day, u,
         row_number() OVER (PARTITION BY day ORDER BY u, user_id) AS rn,
         count(*) OVER (PARTITION BY day) AS n_exact
  FROM hashed
),
per_day AS (
  SELECT day,
         CAST(any_value(n_exact) AS BIGINT) AS n_exact,
         round(CASE WHEN any_value(n_exact) < 256
                    THEN CAST(any_value(n_exact) AS DOUBLE)
                    ELSE 255.0 / max(CASE WHEN rn = 256 THEN u END)
               END, 6) AS est_users
  FROM ranked WHERE rn <= 256 GROUP BY day
),
g AS (
  SELECT DISTINCT user_id, u FROM hashed
),
g_ranked AS (
  SELECT u, row_number() OVER (ORDER BY u, user_id) AS rn,
         count(*) OVER () AS n_exact
  FROM g
),
total AS (
  SELECT 'TOTAL' AS day,
         CAST(any_value(n_exact) AS BIGINT) AS n_exact,
         round(CASE WHEN any_value(n_exact) < 256
                    THEN CAST(any_value(n_exact) AS DOUBLE)
                    ELSE 255.0 / max(CASE WHEN rn = 256 THEN u END)
               END, 6) AS est_users
  FROM g_ranked WHERE rn <= 256
)
SELECT * FROM per_day
UNION ALL
SELECT * FROM total
ORDER BY day
"""



def sketch_kmv_set_ops(spark, sf_dir):
    """KMV SET OPERATIONS — union, intersection and Jaccard estimates
    between per-event-type audience sketches (Beyer et al. SIGMOD'07
    §4: the combined sketch of A∪B is the k smallest of K_A ∪ K_B;
    est_union = (k−1)/u_k; ρ = |{combined sketch members present in
    BOTH base sketches}|/k estimates Jaccard; est_intersection =
    ρ·est_union).  The audience-overlap question every mixture
    designer asks ("how many users do 'click' and 'purchase' share")
    answered from mergeable fixed-size sketch state — and, like every
    KMV query here, every step is deterministic md5/integer/double
    arithmetic both engines replay bit-exactly, so the ESTIMATES are
    driver hash-checked, not just bounded.

    Exact-branch honesty: when the combined sketch holds fewer than k
    members, both base sketches are complete (a truncated sketch
    contributes exactly k), so the "estimates" are exact and ρ is the
    true Jaccard.  The exact_union / exact_intersection columns are
    the one-pass audit arm over the same distinct relation.

    Scale: per-type sketches ride the salted two-stage top-k
    (event_type is low-cardinality — the bare-window shape this repo
    always dispatches away from); the pairwise stage touches ONLY
    sketch rows (T²·k, bounded by construction, so its rank window
    partitions are ≤ 2k rows each); the exact audit arm is one
    map-combined aggregate over the distinct (type, user) relation.
    """
    from rick_and_morty_data_pipeline_project_spark.operators.topk import (
        grouped_topk_salted,
    )
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    pairs = (
        e.filter(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .distinct()
    )
    hashed = pairs.select(
        "event_type", "user_id", _kmv_u(F.col("user_id")).alias("u")
    )
    sk = materialize(  # both pair arms read the tiny sketch relation
        grouped_topk_salted(
            hashed, ["event_type"], "u", _KMV_K, tiebreak="user_id"
        )
    )
    types = sk.select("event_type").distinct()
    # the inequality pair enumeration is the ONE non-equi join here —
    # over the |types|-row relation only (never row data); materialize
    # its |types|² rows once for the four consuming branches
    tpairs = materialize(
        types.select(F.col("event_type").alias("type_a")).join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )

    def _flags(rel):
        # union of two EQUI-joins, not one OR-predicate join: an OR of
        # equalities is not an equi-join and would plan a nested-loop
        # evaluating every pair predicate against every row of the
        # full distinct relation (the big input of the exact arm);
        # split per side, both hash-join against the broadcast pairs
        a_side = tpairs.join(
            rel, rel.event_type == F.col("type_a")
        ).select(
            "type_a", "type_b", "user_id", "u",
            F.lit(1).alias("in_a"), F.lit(0).alias("in_b"),
        )
        b_side = tpairs.join(
            rel, rel.event_type == F.col("type_b")
        ).select(
            "type_a", "type_b", "user_id", "u",
            F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
        )
        return (
            a_side.unionByName(b_side)
            .groupBy("type_a", "type_b", "user_id")
            .agg(
                F.min("u").alias("u"),
                F.max("in_a").alias("in_a"),
                F.max("in_b").alias("in_b"),
            )
        )

    # sketch arm: combined k-minima per pair (bounded ≤ 2k rows/pair)
    memb = _flags(sk)
    w = Window.partitionBy("type_a", "type_b").orderBy("u", "user_id")
    kept = memb.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= _KMV_K
    )
    est = kept.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("_n"),
        F.max("u").alias("_uk"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("_both"),
    )
    est = est.select(
        "type_a",
        "type_b",
        F.round(
            F.when(
                F.col("_n") < _KMV_K, F.col("_n").cast("double")
            ).otherwise(F.lit(float(_KMV_K - 1)) / F.col("_uk")),
            6,
        ).alias("est_union"),
        (F.col("_both").cast("double") / F.col("_n").cast("double")).alias(
            "_rho"
        ),
    ).select(
        "type_a",
        "type_b",
        "est_union",
        F.round(F.col("_rho") * F.col("est_union"), 6).alias(
            "est_intersection"
        ),
        F.round("_rho", 6).alias("jaccard_est"),
    )
    # exact audit arm over the full distinct relation
    hashed_full = hashed  # same relation; flags need (type, user, u)
    exact = _flags(hashed_full).groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("exact_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("exact_intersection"),
    )
    return exact.join(est, ["type_a", "type_b"]).orderBy(
        "type_a", "type_b"
    )


KMV_SET_OPS_SQL = """
WITH pairs AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE user_id IS NOT NULL
),
hashed AS (
  SELECT event_type, user_id,
         CAST(CAST('0x' || substring(
             md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
           AS DOUBLE) / 1152921504606846976.0 AS u
  FROM pairs
),
sk AS (
  SELECT event_type, user_id, u FROM (
    SELECT event_type, user_id, u,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY u, user_id) AS rn
    FROM hashed) WHERE rn <= 256
),
types AS (SELECT DISTINCT event_type FROM sk),
tpairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM types a JOIN types b ON a.event_type < b.event_type
),
memb AS (
  SELECT p.type_a, p.type_b, s.user_id,
         min(s.u) AS u,
         max(CASE WHEN s.event_type = p.type_a THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN s.event_type = p.type_b THEN 1 ELSE 0 END) AS in_b
  FROM tpairs p JOIN sk s
    ON s.event_type = p.type_a OR s.event_type = p.type_b
  GROUP BY 1, 2, 3
),
kept AS (
  SELECT * FROM (
    SELECT type_a, type_b, user_id, u, in_a, in_b,
           row_number() OVER (PARTITION BY type_a, type_b
                              ORDER BY u, user_id) AS rn
    FROM memb) WHERE rn <= 256
),
est AS (
  SELECT type_a, type_b,
         CAST(count(*) AS BIGINT) AS nc,
         max(u) AS uk,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_both
  FROM kept GROUP BY 1, 2
),
est2 AS (
  SELECT type_a, type_b,
         round(CASE WHEN nc < 256 THEN CAST(nc AS DOUBLE)
                    ELSE 255.0 / uk END, 6) AS est_union,
         CAST(n_both AS DOUBLE) / CAST(nc AS DOUBLE) AS rho
  FROM est
),
exact_memb AS (
  SELECT p.type_a, p.type_b, h.user_id,
         max(CASE WHEN h.event_type = p.type_a THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN h.event_type = p.type_b THEN 1 ELSE 0 END) AS in_b
  FROM tpairs p JOIN hashed h
    ON h.event_type = p.type_a OR h.event_type = p.type_b
  GROUP BY 1, 2, 3
),
exact AS (
  SELECT type_a, type_b,
         CAST(count(*) AS BIGINT) AS exact_union,
         CAST(sum(in_a * in_b) AS BIGINT) AS exact_intersection
  FROM exact_memb GROUP BY 1, 2
)
SELECT x.type_a, x.type_b, x.exact_union, x.exact_intersection,
       e.est_union,
       round(e.rho * e.est_union, 6) AS est_intersection,
       round(e.rho, 6) AS jaccard_est
FROM exact x JOIN est2 e USING (type_a, type_b)
ORDER BY type_a, type_b
"""


QUERIES: dict[str, Q] = {
    "sketch_hll_rollup": Q(sketch_hll_rollup, SKETCH_HLL_ROLLUP_SQL),
    "sketch_kmv_rollup": Q(sketch_kmv_rollup, KMV_ROLLUP_SQL),
    "sketch_kmv_set_ops": Q(sketch_kmv_set_ops, KMV_SET_OPS_SQL),
    "sketch_cms_user_counts": Q(sketch_cms_user_counts, CMS_GRID_REPLAY_SQL),
    "events_rolling_dau_hll": Q(events_rolling_dau_hll, ROLLING_DAU_HLL_SQL),
    "sketch_hll_accuracy_audit": Q(sketch_hll_accuracy_audit, HLL_AUDIT_SQL),
    "events_rolling_dau_hll_audit": Q(
        events_rolling_dau_hll_audit, ROLLING_HLL_AUDIT_SQL
    ),
    "sketch_cms_accuracy_audit": Q(sketch_cms_accuracy_audit, CMS_AUDIT_SQL),
    "sketch_heavy_hitters_audit": Q(
        sketch_heavy_hitters_audit, MG_AUDIT_SQL
    ),
}
