"""Nonparametric statistics: Mann–Whitney U (rank-sum) and Theil–Sen
robust slope — the distribution-free complements to the parametric
battery (Welch t in ``stats_welch_t``, OLS slope in
``events_user_trend_slope``).

Exactness discipline (what makes both fully hash-verified):

* Mann–Whitney midranks are computed on the DECIMAL(12,2) value (the
  corpus value column is 2-decimal, so tie GROUPS are exact), and
  every rank quantity is a half-integer: cum-count + (c+1)/2.  The
  rank-sum R₁ is a float sum of exact half-integers bounded far below
  2⁵², so float addition is EXACT in any order — partial-aggregation
  order cannot move a bit.  Only the final z (divides + sqrt of the
  same exact doubles) is real float math, rounded to 6.
* Theil–Sen daily means divide an exact decimal sum by an exact
  count; pairwise slopes difference those identical doubles; the
  median is Spark's exact ``percentile`` ≡ DuckDB ``quantile_cont``
  (same p·(n−1) interpolation — engine-parity noted in the round-8
  verification addenda).

Scale: Mann–Whitney is two map-combinable aggregations plus one
value-keyed window per pair (the tie relation is |distinct values|,
not |rows|); Theil–Sen's pair stage is a user-keyed self-join bounded
by days² per user (≤ ~500 rows/user for a 31-day window), never a
global quadratic.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
    materialize,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import Q, dec, t

_BASELINE = "view"


def events_mann_whitney(spark, sf_dir):
    """Mann–Whitney U of ``value`` for every event type against the
    '{baseline}' baseline, with midrank tie handling and the
    tie-corrected normal approximation.  Output per type:
    (event_type, n_treat, n_base, u_stat, z) — |z| > 1.96 rejects
    equal distributions at α = 0.05; on this uniform corpus z ≈ 0 is
    the A/A sanity check, exactly like ``events_ab_proportion_z``."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", dec("value", 12, 2).alias("_v")
    ).filter(F.col("_v").isNotNull())
    treat = ev.filter(F.col("event_type") != _BASELINE).select(
        F.col("event_type").alias("pair"),
        "_v",
        F.lit(1).alias("_t"),
        F.lit(0).alias("_b"),
    )
    pairs = (
        ev.filter(F.col("event_type") != _BASELINE)
        .select(F.col("event_type").alias("pair"))
        .distinct()
    )
    base = (
        ev.filter(F.col("event_type") == _BASELINE)
        .crossJoin(F.broadcast(pairs))
        .select("pair", "_v", F.lit(0).alias("_t"), F.lit(1).alias("_b"))
    )
    cnt = (
        treat.unionByName(base)
        .groupBy("pair", "_v")
        .agg(F.sum("_t").alias("nt"), F.sum("_b").alias("nb"))
    )
    w = (
        Window.partitionBy("pair")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = F.col("nt") + F.col("nb")
    ranked = cnt.select(
        "pair",
        "nt",
        c.alias("c"),
        F.coalesce(F.sum(F.col("nt") + F.col("nb")).over(w), F.lit(0)).alias(
            "cb"
        ),
    )
    midrank = F.col("cb") + (F.col("c") + F.lit(1)) / F.lit(2.0)
    agg = ranked.groupBy("pair").agg(
        F.sum("nt").cast("long").alias("n_treat"),
        (F.sum("c") - F.sum("nt")).cast("long").alias("n_base"),
        F.sum(F.col("nt").cast("double") * midrank).alias("_r1"),
        F.sum(
            F.col("c").cast("long") * F.col("c") * F.col("c") - F.col("c")
        ).cast("long").alias("_tsum"),
    )
    n1, n2 = F.col("n_treat"), F.col("n_base")
    u1 = F.col("_r1") - (n1 * (n1 + 1)).cast("double") / F.lit(2.0)
    mu = (n1 * n2).cast("double") / F.lit(2.0)
    sigma = F.sqrt(
        (n1 * n2).cast("double")
        / F.lit(12.0)
        * (
            (n1 + n2 + 1).cast("double")
            - F.col("_tsum").cast("double")
            / ((n1 + n2) * (n1 + n2 - 1)).cast("double")
        )
    )
    return agg.select(
        F.col("pair").alias("event_type"),
        "n_treat",
        "n_base",
        F.round(u1, 6).alias("u_stat"),
        F.round((u1 - mu) / sigma, 6).alias("z"),
    )


MANN_WHITNEY_SQL = f"""
WITH ev AS (
  SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v
  FROM events WHERE value IS NOT NULL
),
pairs AS (SELECT DISTINCT event_type AS pair FROM ev
          WHERE event_type <> '{_BASELINE}'),
tagged AS (
  SELECT event_type AS pair, v, 1 AS t, 0 AS b FROM ev
  WHERE event_type <> '{_BASELINE}'
  UNION ALL
  SELECT p.pair, e.v, 0 AS t, 1 AS b
  FROM ev e CROSS JOIN pairs p WHERE e.event_type = '{_BASELINE}'
),
cnt AS (SELECT pair, v, SUM(t) AS nt, SUM(b) AS nb FROM tagged GROUP BY 1, 2),
ranked AS (
  SELECT pair, nt, nt + nb AS c,
         COALESCE(SUM(nt + nb) OVER (
           PARTITION BY pair ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM cnt
),
agg AS (
  SELECT pair,
         CAST(SUM(nt) AS BIGINT) AS n_treat,
         CAST(SUM(c) - SUM(nt) AS BIGINT) AS n_base,
         SUM(CAST(nt AS DOUBLE) * (cb + (c + 1) / 2.0)) AS r1,
         CAST(SUM(CAST(c AS BIGINT) * c * c - c) AS BIGINT) AS tsum
  FROM ranked GROUP BY 1
)
SELECT pair AS event_type, n_treat, n_base,
       round(r1 - CAST(n_treat * (n_treat + 1) AS DOUBLE) / 2.0, 6) AS u_stat,
       round((r1 - CAST(n_treat * (n_treat + 1) AS DOUBLE) / 2.0
              - CAST(n_treat * n_base AS DOUBLE) / 2.0)
             / sqrt(CAST(n_treat * n_base AS DOUBLE) / 12.0
                    * (CAST(n_treat + n_base + 1 AS DOUBLE)
                       - CAST(tsum AS DOUBLE)
                         / CAST((n_treat + n_base) * (n_treat + n_base - 1)
                                AS DOUBLE))), 6) AS z
FROM agg
"""


def events_theil_sen_slope(spark, sf_dir):
    """Per-user Theil–Sen slope of DAILY MEAN value over day number —
    the median of all pairwise slopes, robust to the outliers that
    swing the OLS twin (``events_user_trend_slope``): one wild day
    moves OLS by its leverage but shifts the slope median by at most
    one order statistic.  Output: (user_id, n_days, n_pairs,
    theil_sen_slope).

    The slope median is emitted at FULL double precision, not rounded:
    slopes are differences of 2-decimal daily means over integer day
    gaps (small-denominator rationals), so even-count medians land
    exactly on .5 decimal boundaries where Spark's HALF_UP round and
    DuckDB's round() disagree — the r12 sf0.1 sweep caught two users
    at -2.0490625/-0.2564375 flipping the 6th digit.  The raw medians
    themselves are bit-identical: per-pair slopes are the same IEEE
    expression in both engines and exact-percentile interpolation is
    the proven Spark percentile ≡ DuckDB quantile_cont p·(n−1) rule."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("_d"),
        dec("value", 12, 2).alias("_y"),
    )
    daily = e.groupBy("user_id", "_d").agg(
        (F.sum("_y").cast("double") / F.count(F.lit(1))).alias("y"),
        F.datediff(F.first("_d"), F.lit("1970-01-01").cast("date")).alias(
            "x"
        ),
    )
    a = daily.select(
        "user_id", F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        "user_id", F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    slopes = (
        a.join(b, "user_id")
        .filter(F.col("xa") < F.col("xb"))
        .select(
            "user_id",
            (
                (F.col("yb") - F.col("ya"))
                / (F.col("xb") - F.col("xa")).cast("double")
            ).alias("slope"),
        )
    )
    days = daily.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_days"))
    agg = slopes.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.percentile(F.col("slope"), F.lit(0.5)).alias("_med"),
    )
    return (
        agg.join(days, "user_id")
        .select(
            "user_id",
            "n_days",
            "n_pairs",
            F.col("_med").alias("theil_sen_slope"),
        )
    )


THEIL_SEN_SQL = """
WITH base AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(value AS DECIMAL(12,2)) AS yv
  FROM events
),
daily AS (
  SELECT user_id, d,
         CAST(SUM(yv) AS DOUBLE) / COUNT(*) AS y,
         datediff('day', DATE '1970-01-01', d) AS x
  FROM base GROUP BY user_id, d
),
slopes AS (
  SELECT a.user_id, (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS slope
  FROM daily a JOIN daily b
    ON a.user_id = b.user_id AND a.x < b.x
),
days AS (SELECT user_id, COUNT(*) AS n_days FROM daily GROUP BY 1)
SELECT s.user_id, d.n_days,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       quantile_cont(s.slope, 0.5) AS theil_sen_slope
FROM slopes s JOIN days d ON d.user_id = s.user_id
GROUP BY s.user_id, d.n_days
"""


def events_kendall_tau(spark, sf_dir):
    """Per-user Kendall τ-b between day number and daily mean value —
    the nonparametric monotone-trend test (no x-ties: days are
    distinct; y-ties corrected in the denominator).  Concordant /
    discordant / tied counts are exact integers over the bounded
    per-user pair relation (days² ≤ ~500 rows/user); τ divides at the
    very end.  Output: (user_id, n_days, concordant, discordant,
    tau_b) for users whose days aren't all value-tied."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("_d"),
        dec("value", 12, 2).alias("_y"),
    )
    daily = e.groupBy("user_id", "_d").agg(
        (F.sum("_y").cast("double") / F.count(F.lit(1))).alias("y"),
        F.datediff(F.first("_d"), F.lit("1970-01-01").cast("date")).alias(
            "x"
        ),
    )
    a = daily.select("user_id", F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select("user_id", F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = a.join(b, "user_id").filter(F.col("xa") < F.col("xb"))
    agg = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum((F.col("yb") > F.col("ya")).cast("long")).alias("concordant"),
        F.sum((F.col("yb") < F.col("ya")).cast("long")).alias("discordant"),
        F.sum((F.col("yb") == F.col("ya")).cast("long")).alias("_ty"),
    )
    days = daily.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_days"))
    n0 = F.col("n0")
    tau = (F.col("concordant") - F.col("discordant")).cast("double") / F.sqrt(
        n0.cast("double") * (n0 - F.col("_ty")).cast("double")
    )
    return (
        agg.filter(F.col("_ty") < n0)
        .join(days, "user_id")
        .select(
            "user_id",
            "n_days",
            "concordant",
            "discordant",
            F.round(tau, 6).alias("tau_b"),
        )
    )


KENDALL_SQL = """
WITH base AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(value AS DECIMAL(12,2)) AS yv
  FROM events
),
daily AS (
  SELECT user_id, d,
         CAST(SUM(yv) AS DOUBLE) / COUNT(*) AS y,
         datediff('day', DATE '1970-01-01', d) AS x
  FROM base GROUP BY user_id, d
),
agg AS (
  SELECT a.user_id,
         CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN b.y > a.y THEN 1 ELSE 0 END) AS BIGINT)
           AS concordant,
         CAST(SUM(CASE WHEN b.y < a.y THEN 1 ELSE 0 END) AS BIGINT)
           AS discordant,
         CAST(SUM(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) AS BIGINT) AS ty
  FROM daily a JOIN daily b
    ON a.user_id = b.user_id AND a.x < b.x
  GROUP BY 1
),
days AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_days
         FROM daily GROUP BY 1)
SELECT g.user_id, d.n_days, g.concordant, g.discordant,
       round(CAST(g.concordant - g.discordant AS DOUBLE)
             / sqrt(CAST(g.n0 AS DOUBLE) * CAST(g.n0 - g.ty AS DOUBLE)), 6)
         AS tau_b
FROM agg g JOIN days d ON d.user_id = g.user_id
WHERE g.ty < g.n0
"""


def events_seasonal_decompose(spark, sf_dir):
    """Classical additive seasonal decomposition of the corpus-wide
    daily value series (the moving-average method STL refines):
    trend = centered 7-day moving mean, seasonal = day-of-week mean of
    the detrended series (re-centered to sum to zero over the week so
    trend + seasonal + residual = y exactly), residual = remainder —
    the forecasting/monitoring primitive that complements the Holt and
    EWMA entries with an explicit seasonality split.

    Scale: one day-keyed aggregate (map-combinable exact decimal
    sums), then windows/joins over the |days| relation only — the raw
    stream is touched once.  Output: (d, y, trend, seasonal, residual)
    rounded to 6."""
    e = t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("_d"), dec("value", 12, 2).alias("_y")
    )
    daily = e.groupBy("_d").agg(
        (F.sum("_y").cast("double") / F.count(F.lit(1))).alias("y")
    )
    w7 = (
        Window.orderBy("_d").rowsBetween(-3, 3)
    )
    detr = daily.select(
        "_d",
        "y",
        (F.col("y") - F.avg("y").over(w7)).alias("_detr"),
        F.avg("y").over(w7).alias("trend"),
        F.dayofweek("_d").alias("_dow"),
    )
    dow = detr.groupBy("_dow").agg(F.avg("_detr").alias("_s_raw"))
    center = dow.agg(
        (F.sum("_s_raw") / F.count(F.lit(1))).alias("_s_mean")
    )
    seas = dow.crossJoin(F.broadcast(center)).select(
        "_dow", (F.col("_s_raw") - F.col("_s_mean")).alias("_seasonal")
    )
    out = detr.join(seas, "_dow").select(
        F.date_format("_d", "yyyy-MM-dd").alias("d"),
        F.round("y", 6).alias("y"),
        F.round("trend", 6).alias("trend"),
        F.round("_seasonal", 6).alias("seasonal"),
        F.round(
            F.col("y") - F.col("trend") - F.col("_seasonal"), 6
        ).alias("residual"),
    )
    return out


SEASONAL_SQL = """
WITH base AS (
  SELECT CAST(ts AS DATE) AS d, CAST(value AS DECIMAL(12,2)) AS yv
  FROM events
),
daily AS (
  SELECT d, CAST(SUM(yv) AS DOUBLE) / COUNT(*) AS y
  FROM base GROUP BY 1
),
detr AS (
  SELECT d, y,
         y - AVG(y) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS detr,
         AVG(y) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS trend,
         dayofweek(d) + 1 AS dow
  FROM daily
),
dow AS (SELECT dow, AVG(detr) AS s_raw FROM detr GROUP BY 1),
center AS (SELECT SUM(s_raw) / COUNT(*) AS s_mean FROM dow),
seas AS (SELECT dow, s_raw - c.s_mean AS seasonal
         FROM dow CROSS JOIN center c)
SELECT strftime(dt.d, '%Y-%m-%d') AS d,
       round(dt.y, 6) AS y,
       round(dt.trend, 6) AS trend,
       round(s.seasonal, 6) AS seasonal,
       round(dt.y - dt.trend - s.seasonal, 6) AS residual
FROM detr dt JOIN seas s ON s.dow = dt.dow
"""


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov: the distribution-equality test that
# needs no binning and no distributional assumption — D = sup
# |ECDF_a − ECDF_b| over the pooled values.  Determinism: D is
# computed as an INTEGER — max |ca·n_b − cb·n_a| over the pooled
# distinct-value relation (cumulative integer counts, one bounded
# window like Mann–Whitney) — and becomes a double through exactly
# one division; the α=0.05 decision compares against
# c(α)·sqrt((n_a+n_b)/(n_a·n_b)) with c(α)=sqrt(−ln(α/2)/2) inlined
# as a Python literal, so no libm log ever runs in either engine.

_KS_A = "click"
_KS_ALPHA_C = repr(math.sqrt(-math.log(0.025) / 2))  # 1.3581015157406195


def events_ks_test(spark, sf_dir):
    """One row: (n_a, n_b, d_num, d_stat, lambda_stat, reject_05) for
    '{a}' vs '{b}' event values.  d_num = max|ca·n_b − cb·n_a| is
    exact integer arithmetic; d_stat = d_num/(n_a·n_b); lambda is the
    asymptotic sqrt(n_a·n_b/(n_a+n_b))·D.  Scale: one value-keyed
    aggregate over the two samples, one |distinct values|-bounded
    cumulative window (the documented Mann–Whitney shape), one max.
    (Count products need n_a·max(ca) ≲ 2⁶³; at genuinely huge n
    switch d_num to DECIMAL.)""".format(a=_KS_A, b=_BASELINE)
    ev = (
        t(spark, sf_dir, "events")
        .select("event_type", dec("value", 12, 2).alias("_v"))
        .filter(
            F.col("_v").isNotNull()
            & F.col("event_type").isin(_KS_A, _BASELINE)
        )
    )
    cnt = ev.groupBy("_v").agg(
        F.sum(F.when(F.col("event_type") == _KS_A, 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("event_type") == _BASELINE, 1).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    cum = cnt.select(
        F.sum("na").over(w).alias("ca"), F.sum("nb").over(w).alias("cb")
    )
    tot = cnt.agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
    )
    d = cum.crossJoin(F.broadcast(tot)).agg(
        F.max(
            F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a"))
        ).alias("d_num"),
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
    )
    # degenerate-sample guard (r11 review): an absent sample makes
    # n_a·n_b = 0 — Spark float division would emit NaN while DuckDB
    # yields NULL, so both sides gate on the same integer condition.
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    na_d = F.col("n_a").cast("double")
    nb_d = F.col("n_b").cast("double")
    d_stat = F.col("d_num").cast("double") / (na_d * nb_d)
    return d.select(
        "n_a",
        "n_b",
        F.col("d_num").cast("long").alias("d_num"),
        F.when(ok, F.round(d_stat, 9)).alias("d_stat"),
        F.when(
            ok, F.round(d_stat * F.sqrt(na_d * nb_d / (na_d + nb_d)), 6)
        ).alias("lambda_stat"),
        F.when(
            ok,
            d_stat
            > F.lit(float(_KS_ALPHA_C))
            * F.sqrt((na_d + nb_d) / (na_d * nb_d)),
        ).alias("reject_05"),
    )


KS_SQL = f"""
WITH ev AS (
  SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('{_KS_A}', '{_BASELINE}')
),
cnt AS (
  SELECT v,
         CAST(SUM(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN event_type = '{_BASELINE}' THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM ev GROUP BY v
),
cum AS (
  SELECT SUM(na) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(nb) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
  FROM cnt
),
tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS n_a, CAST(SUM(nb) AS BIGINT) AS n_b
  FROM cnt
),
d AS (
  SELECT max(abs(c.ca * t.n_b - c.cb * t.n_a)) AS d_num,
         any_value(t.n_a) AS n_a, any_value(t.n_b) AS n_b
  FROM cum c, tot t
)
SELECT n_a, n_b, CAST(d_num AS BIGINT) AS d_num,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         round(CAST(d_num AS DOUBLE)
               / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 9)
       END AS d_stat,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         round(CAST(d_num AS DOUBLE)
               / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
               * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))), 6)
       END AS lambda_stat,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         CAST(d_num AS DOUBLE)
           / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
           > {_KS_ALPHA_C}
             * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
       END AS reject_05
FROM d
"""


# ---------------------------------------------------------------------------
# Spearman rank correlation between two daily series (click count vs
# purchase count per day) — the monotone-association twin of Kendall
# tau that production dashboards default to.  Determinism: midranks
# are stored DOUBLED (2·midrank = 2·min_rank + ties − 1, an integer),
# every moment is an exact integer power/cross sum (order-free), and
# ρ's Pearson form over the doubled ranks (scale-invariant) turns
# into doubles through one identical expression on both sides.

_SP_X = "click"
_SP_Y = "purchase"


def events_spearman_daily(spark, sf_dir):
    """One row: (n_days, rho, t_stat) — Spearman ρ of daily '{x}'
    count vs daily '{y}' count, midrank tie handling, plus the
    t = ρ·sqrt((n−2)/(1−ρ²)) trend statistic.  Scale: one day-keyed
    aggregate touches the raw stream once; ranks and moments run on
    the |days| relation.""".format(x=_SP_X, y=_SP_Y)
    ev = t(spark, sf_dir, "events")
    days = ev.groupBy(F.to_date("ts").alias("_day")).agg(
        F.sum(F.when(F.col("event_type") == _SP_X, 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == _SP_Y, 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )

    def dbl_rank(col):
        return (
            F.lit(2) * F.rank().over(Window.orderBy(col))
            + F.count(F.lit(1)).over(Window.partitionBy(col))
            - F.lit(1)
        ).cast("long")

    ranked = days.select(
        dbl_rank(F.col("x")).alias("rx"), dbl_rank(F.col("y")).alias("ry")
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rx").cast("long").alias("sx"),
        F.sum("ry").cast("long").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("long").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("long").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("long").alias("sxy"),
    )
    # degenerate-input guards (r11 review): a constant series makes a
    # variance term 0 (Spark NaN vs DuckDB NULL on 0/0), and a
    # perfectly monotone pair makes |rho| = 1 — where the t statistic
    # is undefined BUT float rho_raw may land a few ulps inside ±1
    # (sqrt(vx)·sqrt(vy) ≠ sqrt(vx·vy) bitwise), which would amplify
    # rounding noise into a huge meaningless t.  Both degeneracies are
    # decided EXACTLY in integers: vx, vy > 0, and num² < vx·vy
    # (Cauchy–Schwarz is tight iff |rho| = 1).  Integer products are
    # bounded by 16·n_days⁶ — exact in int64 to ~460 days, and ANSI
    # mode fails loudly beyond.
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num_i = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))
    staged = s.select(
        "n",
        F.when((vx > 0) & (vy > 0), num_i.cast("double") / den).alias(
            "rho_raw"
        ),
        (num_i * num_i < vx * vy).alias("_strict"),
    )
    rho = F.col("rho_raw")
    nd = F.col("n").cast("double")
    return staged.select(
        F.col("n").alias("n_days"),
        F.round(rho, 9).alias("rho"),
        F.when(
            rho.isNotNull() & (F.col("n") > 2) & F.col("_strict"),
            F.round(rho * F.sqrt((nd - 2.0) / (1.0 - rho * rho)), 6),
        ).alias("t_stat"),
    )


SPEARMAN_SQL = f"""
WITH days AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = '{_SP_X}' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = '{_SP_Y}' THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1
),
ranked AS (
  SELECT CAST(2 * rank() OVER (ORDER BY x)
              + count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS rx,
         CAST(2 * rank() OVER (ORDER BY y)
              + count(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS ry
  FROM days
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
         CAST(sum(rx * rx) AS BIGINT) AS sxx,
         CAST(sum(ry * ry) AS BIGINT) AS syy,
         CAST(sum(rx * ry) AS BIGINT) AS sxy
  FROM ranked
),
staged AS (
  SELECT n,
         CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
              THEN CAST(n * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
         END AS rho_raw,
         (n * sxy - sx * sy) * (n * sxy - sx * sy)
           < (n * sxx - sx * sx) * (n * syy - sy * sy) AS strict_cs
  FROM s
)
SELECT n AS n_days,
       round(rho_raw, 9) AS rho,
       CASE WHEN rho_raw IS NOT NULL AND n > 2 AND strict_cs
            THEN round(rho_raw * sqrt((CAST(n AS DOUBLE) - 2.0)
                                      / (1.0 - rho_raw * rho_raw)), 6)
       END AS t_stat
FROM staged
"""


# ---------------------------------------------------------------------------
# Chi-squared independence test (event_type × day-of-week): the
# categorical-association workhorse.  Determinism: observed and
# marginal counts are exact integers; the χ² sum — the one place a
# float accumulation order could diverge — runs as a SEQUENTIAL FOLD
# over the (type, dow)-sorted cell array (F.aggregate ≡ DuckDB
# list_reduce, the Holt-forecast pattern), so both engines add the 35
# cell terms in the identical order.  Zero cells are materialized by
# the type×dow grid join, so sparse days still contribute (0−e)²/e.


def events_chi2_independence(spark, sf_dir):
    """One row: (n_rows, n_types, n_dows, df, chi2) for event_type ×
    day-of-week.  Spark dayofweek ≡ DuckDB dayofweek+1 (the
    events_seasonal_decompose pin), normalized to 0-based on the
    Spark side.  Scale: one (type, dow) aggregate over the stream;
    the fold runs over ≤ |types|·7 cells."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", (F.dayofweek("ts") - 1).alias("_dow")
    )
    obs = ev.groupBy("event_type", "_dow").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    grid = (
        obs.select("event_type")
        .distinct()
        .crossJoin(obs.select("_dow").distinct())
    )
    cells = (
        grid.join(obs, ["event_type", "_dow"], "left")
        .select(
            "event_type",
            "_dow",
            F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("o"),
        )
    )
    rt = cells.groupBy("event_type").agg(F.sum("o").cast("long").alias("rt"))
    ct = cells.groupBy("_dow").agg(F.sum("o").cast("long").alias("ct"))
    full = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "_dow")
        .select("event_type", "_dow", "o", "rt", "ct")
    )
    packed = full.agg(
        F.array_sort(
            F.collect_list(F.struct("event_type", "_dow", "o", "rt", "ct"))
        ).alias("arr"),
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.countDistinct("_dow").cast("long").alias("n_dows"),
    )
    nd = F.col("n").cast("double")
    terms = F.transform(
        F.col("arr"),
        lambda s: (
            (
                s["o"].cast("double")
                - s["rt"].cast("double") * s["ct"].cast("double") / nd
            )
            * (
                s["o"].cast("double")
                - s["rt"].cast("double") * s["ct"].cast("double") / nd
            )
        )
        / (s["rt"].cast("double") * s["ct"].cast("double") / nd),
    )
    chi2 = F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
    return packed.select(
        F.col("n").alias("n_rows"),
        "n_types",
        "n_dows",
        ((F.col("n_types") - 1) * (F.col("n_dows") - 1)).alias("df"),
        F.round(chi2, 9).alias("chi2"),
    )


CHI2_SQL = """
WITH ev AS (
  SELECT event_type, dayofweek(ts) AS dow FROM events
),
obs AS (
  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
  FROM ev GROUP BY 1, 2
),
grid AS (
  SELECT t.event_type, d.dow
  FROM (SELECT DISTINCT event_type FROM obs) t,
       (SELECT DISTINCT dow FROM obs) d
),
cells AS (
  SELECT g.event_type, g.dow, CAST(COALESCE(o.o, 0) AS BIGINT) AS o
  FROM grid g LEFT JOIN obs o
    ON o.event_type = g.event_type AND o.dow = g.dow
),
rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
       FROM cells GROUP BY 1),
ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
full_c AS (
  SELECT c.event_type, c.dow, c.o, r.rt, d.ct
  FROM cells c JOIN rt r ON r.event_type = c.event_type
  JOIN ct d ON d.dow = c.dow
),
packed AS (
  SELECT list(struct_pack(event_type := event_type, dow := dow,
                          o := o, rt := rt, ct := ct)
              ORDER BY event_type, dow) AS arr,
         CAST(sum(o) AS BIGINT) AS n,
         CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
         CAST(count(DISTINCT dow) AS BIGINT) AS n_dows
  FROM full_c
)
SELECT n AS n_rows, n_types, n_dows,
       (n_types - 1) * (n_dows - 1) AS df,
       round(list_reduce(list_prepend(0.0, list_transform(arr,
         s -> ((CAST(s.o AS DOUBLE)
                - CAST(s.rt AS DOUBLE) * CAST(s.ct AS DOUBLE)
                  / CAST(n AS DOUBLE))
               * (CAST(s.o AS DOUBLE)
                  - CAST(s.rt AS DOUBLE) * CAST(s.ct AS DOUBLE)
                    / CAST(n AS DOUBLE)))
              / (CAST(s.rt AS DOUBLE) * CAST(s.ct AS DOUBLE)
                 / CAST(n AS DOUBLE)))),
         (acc, x) -> acc + x), 9) AS chi2
FROM packed
"""


# ---------------------------------------------------------------------------
# CUSUM changepoint monitor over the daily event series (Page 1954) —
# the standard drift detector a data pipeline runs on ingest volume.
# Relational form, NO sequential fold: the clamped recursion
# S_t = max(0, S_{t-1} + d_t) equals P_t − min(0, min_{j≤t} P_j) for
# prefix sums P of the deviations, so two cumulative windows compute
# the whole series.  Determinism: deviations are SCALED INTEGERS
# (d_i = 10·n·x_i − 11·S1 encodes x_i − μ − μ/10 exactly), so the
# cumulative sums are exact regardless of either engine's window
# aggregation order (DuckDB's segment-tree frames reorder float adds;
# integers don't care).  The alarm threshold h = 2μ compares as
# 20·S1 in the same scaling — an integer comparison.


def events_cusum_daily(spark, sf_dir):
    """(day, x, cusum, is_alarm) for the daily total-event count:
    upper CUSUM with allowance k = μ/10 and threshold h = 2μ.
    Scale: one day-keyed aggregate over the stream; both windows run
    on the |days| relation (deliberately single-partition at |days|
    rows, the family's documented shape).  Integer products are
    bounded by 20·n_days·Σx — exact in int64 far past any daily
    corpus; ANSI fails loudly beyond."""
    ev = t(spark, sf_dir, "events")
    days = ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    tot = days.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
    )
    d = days.crossJoin(F.broadcast(tot)).select(
        "day",
        "x",
        "n",
        "s1",
        (
            F.lit(10) * F.col("n") * F.col("x") - F.lit(11) * F.col("s1")
        ).alias("_dev"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    p = d.select(
        "day", "x", "n", "s1", F.sum("_dev").over(w).alias("_p")
    )
    s_scaled = F.col("_p") - F.least(
        F.lit(0).cast("long"), F.min("_p").over(w)
    )
    return p.select(
        "day",
        "x",
        F.round(
            s_scaled.cast("double")
            / (F.lit(10.0) * F.col("n").cast("double")),
            9,
        ).alias("cusum"),
        (s_scaled > F.lit(20) * F.col("s1")).alias("is_alarm"),
    )


CUSUM_SQL = """
WITH days AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s1
  FROM days
),
d AS (
  SELECT day, x, n, s1, 10 * n * x - 11 * s1 AS dev
  FROM days, tot
),
p AS (
  SELECT day, x, n, s1,
         SUM(dev) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
  FROM d
),
s AS (
  SELECT day, x, n, s1,
         pp - least(CAST(0 AS BIGINT),
                    MIN(pp) OVER (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           AS s_scaled
  FROM p
)
SELECT day, x,
       round(CAST(s_scaled AS DOUBLE)
             / (10.0 * CAST(n AS DOUBLE)), 9) AS cusum,
       s_scaled > 20 * s1 AS is_alarm
FROM s
"""


# ---------------------------------------------------------------------------
# Gini concentration of customer spend — the inequality measure a
# marketplace reports ("what share of revenue sits in the top
# whale accounts").  Exact: spend is whole CENTS (the dec(12,2)
# pattern), ranks are deterministic (amount, custkey), and
# G = (2·Σ i·wᵢ − (n+1)·Σw) / (n·Σw) comes entirely from exact
# integer sums with one final division.


def orders_gini_concentration(spark, sf_dir):
    """One row: (n_customers, total_spend, gini).  The rank-weighted
    sum runs in DECIMAL(38,0) ≡ DuckDB HUGEINT (int64 overflows at
    ~10⁶ customers — the r11 ×100 stress hit exactly that, loudly,
    under ANSI), so the moments stay exact at any corpus size; the
    final formula converts the exact integers to double through one
    identical expression.  Scale: one customer aggregate, one
    |customers| rank window, one moment aggregate."""
    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        (dec("o_totalprice", 12, 2) * 100).cast("long").alias("_cents"),
    )
    per = o.groupBy("o_custkey").agg(
        F.sum("_cents").cast("long").alias("w")
    )
    ranked = per.select(
        "w",
        F.row_number()
        .over(Window.orderBy(F.asc("w"), F.asc("o_custkey")))
        .cast("long")
        .alias("i"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("w").cast("decimal(38,0)")).alias("sw"),
        F.sum(
            F.col("i").cast("decimal(19,0)") * F.col("w").cast("decimal(19,0)")
        ).alias("siw"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    return s.select(
        F.col("n").alias("n_customers"),
        F.round(F.col("sw").cast("double") / 100.0, 2).alias("total_spend"),
        F.round(
            (F.lit(2) * F.col("siw") - (nd + 1) * F.col("sw")).cast("double")
            / (nd * F.col("sw")).cast("double"),
            9,
        ).alias("gini"),
    )


GINI_SQL = """
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                       AS BIGINT)) AS BIGINT) AS w
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT w,
         CAST(ROW_NUMBER() OVER (ORDER BY w ASC, o_custkey ASC)
              AS BIGINT) AS i
  FROM per
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(w AS HUGEINT)) AS HUGEINT) AS sw,
         CAST(sum(CAST(i AS HUGEINT) * CAST(w AS HUGEINT)) AS HUGEINT) AS siw
  FROM ranked
)
SELECT n AS n_customers,
       round(CAST(sw AS DOUBLE) / 100.0, 2) AS total_spend,
       round(CAST(2 * siw - (CAST(n AS HUGEINT) + 1) * sw AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * sw AS DOUBLE), 9) AS gini
FROM s
"""


# ---------------------------------------------------------------------------
# Benford first-digit audit of order totals — the classic fabricated-
# data / data-quality screen.  The first significant digit comes from
# INTEGER CENTS rendered as a string (prices ≥ 0.01, so the leading
# cent digit IS the leading significant digit) — no log10 at runtime;
# the Benford expectations log10(1 + 1/d) and the χ²(df=8, 0.05)
# critical value 15.50731… are Python literals inlined on both sides.

_BENFORD_P = [math.log10(1 + 1 / d) for d in range(1, 10)]
_CHI2_CRIT_8 = 15.50731305586545  # χ²(0.95, df=8)


def orders_benford_audit(spark, sf_dir):
    """(digit, observed, expected, chi2, reject_05): per-digit counts
    vs the Benford expectation over order totals, with the overall χ²
    (computed from exact integer counts and literal probabilities in
    digit order — sum of 9 literal-weighted terms, identical in both
    engines) repeated per row.  Scale: one narrow projection + one
    9-group aggregate."""
    o = t(spark, sf_dir, "orders").select(
        (dec("o_totalprice", 12, 2) * 100).cast("long").alias("_cents")
    )
    dig = o.select(
        F.substring(F.col("_cents").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    # materialize: the 9-row digit relation feeds the output rows,
    # the chi2 aggregate AND the n total — one orders scan, not three
    obs = materialize(
        dig.groupBy("digit").agg(
            F.count(F.lit(1)).cast("long").alias("observed")
        )
    )
    n = obs.agg(F.sum("observed").cast("long").alias("n"))
    full = obs.crossJoin(F.broadcast(n))
    nd = F.col("n").cast("double")
    # chi2 as a digit-ordered literal fold: Σ_d (o_d − n·p_d)²/(n·p_d)
    # — o_d looked up per digit from the 9-row relation via
    # conditional sums (exact integers), the division order pinned by
    # the Python-side loop
    per_digit_o = [
        F.sum(F.when(F.col("digit") == d, F.col("observed")).otherwise(0))
        .cast("long")
        for d in range(1, 10)
    ]
    agg = obs.agg(
        F.sum("observed").cast("long").alias("n"),
        *[o_.alias(f"o{d}") for d, o_ in zip(range(1, 10), per_digit_o)],
    )
    nd2 = F.col("n").cast("double")
    chi2 = F.lit(0.0)
    for d, pd in zip(range(1, 10), _BENFORD_P):
        e = nd2 * F.lit(pd)
        chi2 = chi2 + (F.col(f"o{d}").cast("double") - e) * (
            F.col(f"o{d}").cast("double") - e
        ) / e
    stats = agg.select(
        F.round(chi2, 9).alias("chi2"),
        (chi2 > F.lit(_CHI2_CRIT_8)).alias("reject_05"),
    )
    expected = F.lit(0.0)
    for d, pd in zip(range(1, 10), _BENFORD_P):
        expected = F.when(F.col("digit") == d, nd * F.lit(pd)).otherwise(
            expected
        )
    return (
        full.crossJoin(F.broadcast(stats))
        .select(
            "digit",
            "observed",
            F.round(expected, 6).alias("expected"),
            "chi2",
            "reject_05",
        )
    )


def _benford_chi2_sql() -> str:
    terms = " + ".join(
        f"(CAST(o{d} AS DOUBLE) - CAST(n AS DOUBLE) * {p!r})"
        f" * (CAST(o{d} AS DOUBLE) - CAST(n AS DOUBLE) * {p!r})"
        f" / (CAST(n AS DOUBLE) * {p!r})"
        for d, p in zip(range(1, 10), _BENFORD_P)
    )
    o_cols = ", ".join(
        f"CAST(SUM(CASE WHEN digit = {d} THEN observed ELSE 0 END) AS BIGINT) AS o{d}"
        for d in range(1, 10)
    )
    exp_case = " ".join(
        f"WHEN f.digit = {d} THEN CAST(nn.n AS DOUBLE) * {p!r}"
        for d, p in zip(range(1, 10), _BENFORD_P)
    )
    return f"""
WITH dig AS (
  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                          AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
),
obs AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS observed
  FROM dig GROUP BY 1
),
agg AS (
  SELECT CAST(SUM(observed) AS BIGINT) AS n, {o_cols}
  FROM obs
),
stats AS (
  SELECT round({terms}, 9) AS chi2,
         ({terms}) > {_CHI2_CRIT_8!r} AS reject_05
  FROM agg
),
nn AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM obs)
SELECT f.digit, f.observed,
       round(CASE {exp_case} ELSE 0.0 END, 6) AS expected,
       s.chi2, s.reject_05
FROM obs f, stats s, nn
"""


BENFORD_SQL = _benford_chi2_sql()


QUERIES = {
    "events_mann_whitney": Q(
        events_mann_whitney,
        MANN_WHITNEY_SQL,
        "Mann-Whitney U rank-sum vs the view baseline, tie-corrected z",
    ),
    "events_theil_sen_slope": Q(
        events_theil_sen_slope,
        THEIL_SEN_SQL,
        "per-user Theil-Sen robust slope (median of pairwise daily slopes)",
    ),
    "events_kendall_tau": Q(
        events_kendall_tau,
        KENDALL_SQL,
        "per-user Kendall tau-b monotone-trend test (y-tie corrected)",
    ),
    "events_seasonal_decompose": Q(
        events_seasonal_decompose,
        SEASONAL_SQL,
        "additive seasonal decomposition: 7-day trend + zero-sum dow seasonal",
    ),
    "events_ks_test": Q(
        events_ks_test,
        KS_SQL,
        "two-sample Kolmogorov-Smirnov (integer-exact D, literal c(alpha))",
    ),
    "events_spearman_daily": Q(
        events_spearman_daily,
        SPEARMAN_SQL,
        "Spearman rank correlation of two daily series (doubled midranks)",
    ),
    "events_chi2_independence": Q(
        events_chi2_independence,
        CHI2_SQL,
        "chi-squared independence (type x dow), sorted-fold cell sum",
    ),
    "events_cusum_daily": Q(
        events_cusum_daily,
        CUSUM_SQL,
        "CUSUM changepoint monitor, exact-integer cumulative windows",
    ),
    "orders_gini_concentration": Q(
        orders_gini_concentration,
        GINI_SQL,
        "Gini concentration of customer spend from exact cent sums",
    ),
    "orders_benford_audit": Q(
        orders_benford_audit,
        BENFORD_SQL,
        "Benford first-digit audit with literal expectations + chi2",
    ),
}
