"""Statistical / time-series analytics queries.

Round-8 breadth family: the statistics a training-data pipeline or
product-analytics stack runs AFTER the relational layer — interval
concurrency (sweep line), change-point detection (CUSUM), corpus
drift (Jensen-Shannon divergence), uncertainty quantification
(deterministic Poisson bootstrap), temporal structure (autocorrelation)
and concentration (Gini).  The reference pipeline stops at per-strain
means (`/root/reference/Scraper.py:94-105`); these are the natural
next questions over the same data model, expressed Spark-first.

Every query here is fully DuckDB-oracled.  The float-parity discipline
follows `_util`: exact integer/decimal sufficient statistics end-to-end,
doubles only in the final closed-form expression, `round(…, 6–9)` on
genuinely transcendental outputs (ln), ISO strings for temporal keys.

Scale notes are per-query; the common theme is that every window in
this module runs over a BOUNDED relation (daily rollups, netted
boundary instants, per-bucket segments) — never a global sort or a
low-cardinality rank window over raw rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.operators.localrel import (
    local_relation,
)
from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
    materialize,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import (
    Q,
    dec,
    dsum,
    iso_date,
    t,
)


# --------------------------------------------------------------------------
def events_max_concurrency(spark, sf_dir):
    """Peak CONCURRENT SESSIONS per day by distributed SWEEP LINE —
    "how many users were active at once", the load-planning /
    capacity metric.  A session is a user's [first event, last event
    + 1 s) half-open interval within a calendar day (clamped to
    midnight so no interval straddles days).  Each interval emits a
    +1/-1 boundary; netting deltas at identical instants makes the
    running sum tie-order-free, and concurrency at an instant is the
    prefix sum of netted deltas.

    Boundary instants stay keyed by the SESSION's day (not the
    instant's): a session ending exactly at next midnight nets and
    decrements inside its own day's partition — otherwise that stray
    −1 deflates the NEXT day's running sums (both engines would have
    agreed on the wrong number; caught by review, pinned by a unit
    test with a 23:59:59 single-event user).

    Scale: the classic single ``ORDER BY instant`` cumulative window
    is a one-task global sort — wrong shape.  This plan is a SEGMENTED
    PREFIX SUM instead: within-(day,block) cumulative windows (block =
    elapsed hour 0..24, so the midnight end-boundary sorts last), plus
    a block offset relation (≤ 25 rows/day) prefix-summed and
    broadcast back.  No global window ever sees the data; the netted
    relation itself is bounded by 2·sessions ≪ events, computed from
    ONE scan (both boundaries explode from the same session row) and
    materialized once for its two consumers.  The oracle uses
    the naive one-window formulation — independent plan, same answer.
    """
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events").select("user_id", "ts")
    sess = (
        e.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.min("ts").alias("s"), F.max("ts").alias("x"))
        .select(
            "day",
            "s",
            F.least(
                F.col("x") + F.expr("INTERVAL 1 SECOND"),
                F.date_add(F.col("day"), 1).cast("timestamp"),
            ).alias("e"),
        )
    )
    bounds = sess.select(
        "day",
        F.explode(
            F.array(
                F.struct(F.col("s").alias("i"), F.lit(1).alias("d")),
                F.struct(F.col("e").alias("i"), F.lit(-1).alias("d")),
            )
        ).alias("b"),
    ).select("day", F.col("b.i").alias("i"), F.col("b.d").alias("d"))
    net = materialize(  # tiny (≤ 2·sessions); consumed 2×
        bounds.groupBy("day", "i")
        .agg(F.sum("d").alias("delta"))
        .withColumn(
            "blk",
            F.floor(
                (
                    F.col("i").cast("long")
                    - F.col("day").cast("timestamp").cast("long")
                )
                / 3600
            ).cast("int"),
        )
    )
    within = (
        Window.partitionBy("day", "blk")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offw = (
        Window.partitionBy("day")
        .orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    blocks = (
        net.groupBy("day", "blk")
        .agg(F.sum("delta").alias("bd"))
        .select(
            "day",
            "blk",
            F.coalesce(F.sum("bd").over(offw), F.lit(0).cast("long")).alias(
                "off"
            ),
        )
    )
    conc = (
        net.withColumn("w", F.sum("delta").over(within))
        .join(F.broadcast(blocks), ["day", "blk"])
        .select("day", (F.col("w") + F.col("off")).alias("conc"))
    )
    return conc.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_instants"),
        F.max("conc").alias("max_concurrency"),
    ).select(
        iso_date(F.col("day")).alias("day"),
        "n_instants",
        "max_concurrency",
    )


EVENTS_CONCURRENCY_SQL = """
WITH sess AS (
  SELECT CAST(ts AS DATE) AS day,
         min(ts) AS s,
         least(max(ts) + INTERVAL 1 SECOND,
               CAST(CAST(ts AS DATE) + 1 AS TIMESTAMP)) AS e
  FROM events
  GROUP BY user_id, CAST(ts AS DATE)
),
inst AS (
  SELECT day, s AS i, 1 AS d FROM sess
  UNION ALL
  SELECT day, e AS i, -1 AS d FROM sess
),
net AS (
  SELECT day, i, CAST(sum(d) AS BIGINT) AS delta FROM inst GROUP BY 1, 2
),
conc AS (
  SELECT day,
         sum(delta) OVER (PARTITION BY day ORDER BY i
                          ROWS UNBOUNDED PRECEDING) AS c
  FROM net
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_instants,
       CAST(max(c) AS BIGINT) AS max_concurrency
FROM conc
GROUP BY 1
"""


# --------------------------------------------------------------------------
def events_cusum_changepoint(spark, sf_dir):
    """CUSUM CHANGE-POINT detection over each event type's daily count
    series — "when did the level shift".  The cumulative sum of
    deviations from the series mean, C_d = Σ_{i≤d}(x_i − x̄), peaks in
    magnitude at the most likely single change point (Page 1954's CUSUM
    statistic in its offline mean-shift form).

    Exactness: x̄ = S/D is rational, so the statistic is computed
    SCALED BY D — C'_d = D·Σ_{i≤d}x_i − d·S is pure int64 (counts ≤
    2^31, days ≤ 10^4 ⇒ far inside range), argmax ties break on the
    earliest day, and the unscaled value is one double division at the
    end.  Bit-identical across engines, no float accumulation.

    Scale: the windows run over the DAILY-COUNT relation (|types| ×
    |days| rows — bounded by the calendar, not the corpus); the only
    pass over raw events is the map-combinable daily count.
    """
    from pyspark.sql.window import Window

    daily = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    wall = Window.partitionBy("event_type")
    word = wall.orderBy("d")
    wcum = word.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored = daily.select(
        "event_type",
        "d",
        (
            F.count(F.lit(1)).over(wall) * F.sum("x").over(wcum)
            - F.row_number().over(word).cast("long")
            * F.sum("x").over(wall)
        ).alias("c_scaled"),
        F.count(F.lit(1)).over(wall).alias("n_days"),
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("c_scaled")).desc(), F.col("d").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            iso_date(F.col("d")).alias("change_day"),
            "n_days",
            "c_scaled",
            F.round(
                F.col("c_scaled").cast("double")
                / F.col("n_days").cast("double"),
                6,
            ).alias("cusum"),
        )
    )


EVENTS_CUSUM_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, d,
         CAST(count(*) OVER w AS BIGINT)
           * CAST(sum(x) OVER (w ORDER BY d ROWS UNBOUNDED PRECEDING)
                  AS BIGINT)
         - CAST(row_number() OVER (w ORDER BY d) AS BIGINT)
           * CAST(sum(x) OVER w AS BIGINT) AS c_scaled,
         CAST(count(*) OVER w AS BIGINT) AS n_days
  FROM daily
  WINDOW w AS (PARTITION BY event_type)
)
SELECT event_type,
       strftime(d, '%Y-%m-%d') AS change_day,
       n_days, c_scaled,
       round(CAST(c_scaled AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS cusum
FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY abs(c_scaled) DESC, d ASC) AS rn
      FROM scored)
WHERE rn = 1
"""


# --------------------------------------------------------------------------
def text_js_divergence(spark, sf_dir):
    """Pairwise JENSEN-SHANNON DIVERGENCE between per-source unigram
    distributions — the symmetric, bounded (≤ ln 2) corpus-drift
    metric behind "did source A's language shift away from B", source
    weighting, and contamination triage.  Complements
    ``text_keyness_by_source`` (per-term log-likelihood) with a single
    per-pair scalar.

    The identity that keeps it one inner join: tokens present in only
    one source contribute (p/2)·ln 2 each, and Σ_{a-only} p =
    1 − Σ_shared p — so JSD = Σ_shared [½p·ln p + ½q·ln q − m·ln m]
    + (ln2/2)·((1−Σp) + (1−Σq)) needs no full-outer union of
    vocabularies.

    Scale: the (source, token) count relation is Σ|vocab_s|,
    materialized once so the expensive tokenize/explode pass
    over documents runs exactly once for its three consumers (totals
    dim + both join sides); the token-keyed self-join emits
    Σ_t |sources_t|² pairs (co-occurrence shape — never |S|²·|V|);
    per-source totals are a broadcast dim.  Probabilities are
    exact-integer ratios in float64; only ln is transcendental,
    summed then rounded to 6.
    """
    d = t(spark, sf_dir, "documents")
    cnt = materialize(  # tokenize once; consumed 3×
        d.select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("source").agg(F.sum("c").alias("tot"))
    probs = cnt.join(F.broadcast(tot), "source").select(
        "source",
        "token",
        (F.col("c").cast("double") / F.col("tot").cast("double")).alias("p"),
    )
    a, b = probs.alias("a"), probs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.token") == F.col("b.token"))
        & (F.col("a.source") < F.col("b.source")),
    ).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.col("a.p").alias("p"),
        F.col("b.p").alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2
    term = (
        0.5 * F.col("p") * F.log(F.col("p"))
        + 0.5 * F.col("q") * F.log(F.col("q"))
        - m * F.log(m)
    )
    ln2 = F.log(F.lit(2.0))
    agg = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared_tokens"),
        F.sum(term).alias("_s"),
        F.sum("p").alias("_sp"),
        F.sum("q").alias("_sq"),
    )
    return agg.select(
        "source_a",
        "source_b",
        "n_shared_tokens",
        F.round(
            F.col("_s")
            + (ln2 / 2) * ((1 - F.col("_sp")) + (1 - F.col("_sq"))),
            6,
        ).alias("jsd"),
    )


TEXT_JSD_SQL = """
WITH cnt AS (
  SELECT source, unnest(string_split(text, ' ')) AS token
  FROM documents
),
cnts AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS c
  FROM cnt GROUP BY 1, 2
),
tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM cnts GROUP BY 1),
probs AS (
  SELECT cnts.source, token,
         CAST(c AS DOUBLE) / CAST(tot AS DOUBLE) AS p
  FROM cnts JOIN tot ON cnts.source = tot.source
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, a.p AS p, b.p AS q
  FROM probs a JOIN probs b
    ON a.token = b.token AND a.source < b.source
)
SELECT source_a, source_b,
       CAST(count(*) AS BIGINT) AS n_shared_tokens,
       round(sum(0.5 * p * ln(p) + 0.5 * q * ln(q)
                 - ((p + q) / 2) * ln((p + q) / 2))
             + (ln(2) / 2) * ((1 - sum(p)) + (1 - sum(q))), 6) AS jsd
FROM pairs
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
#: Integer thresholds T_k = floor(CDF_Poisson(1)(k) · 2^32): a uniform
#: 32-bit hash draw U maps to weight w = min{k : U < T_k} (else 9).
#: Pinned as literals so both engines compare integers — no float CDF
#: arithmetic in the replicate-weight path at all.
_POISSON_T = [
    1580030168,
    3160060337,
    3950075421,
    4213413783,
    4279248373,
    4292415291,
    4294609777,
    4294923276,
    4294962463,
]
#: The same thresholds as fixed-width lowercase hex: an 8-hex md5
#: window compared LEXICOGRAPHICALLY against these equals the numeric
#: compare (fixed-length lowercase hex sorts numerically in both
#: engines' byte-wise collation), so the hot path never parses hex →
#: int at all — measured 3× faster than a conv() per draw.
_POISSON_T_HEX = [format(t_, "08x") for t_ in _POISSON_T]
_BOOT_B = 64


def stats_bootstrap_ci(spark, sf_dir):
    """DETERMINISTIC POISSON BOOTSTRAP confidence interval for the mean
    order value — uncertainty quantification that replays identically
    on any cluster layout and any engine.  Classic bootstrap resampling
    needs n draws per replicate (a shuffle per replicate); the Poisson
    approximation (Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams", Google 2012) gives each row an independent
    Poisson(1) replicate weight — one narrow pass emits all B
    replicates.  Randomness is CONTENT-ADDRESSED (md5 of key ∥
    replicate id ⇒ 8-hex uniform window compared lexicographically
    against pinned inverse-CDF thresholds rendered in hex — identical
    to the integer compare, no hex→int parse), so both engines draw
    the SAME weights: the interval is reproducible, not just
    statistically equivalent.

    Exactness: weights are small ints, Σw·price is exact DECIMAL,
    replicate means are one double division rounded to 9; the
    percentile interpolation over B=64 sorted replicate means uses the
    same p·(n−1) linear rule in Spark (`percentile`) and DuckDB
    (`quantile_cont`).

    Scale: the B-fold explode is map-side (no shuffle before the
    replicate aggregate); groupBy(replica) has B=64 groups but
    map-combines to ≤B rows per partition before the exchange; the
    final percentile runs over exactly B rows.  The md5 bill is
    amortized 4×: one digest is 128 bits = four independent 32-bit
    draws, so replicates b, b+1, b+2, b+3 share the digest of
    ``b div 4`` and slice disjoint 8-hex windows.  ``fan_out`` spreads
    the hash stage across cores when the scan under-partitions
    (single-file local corpus; a no-op at cluster scale).
    """
    from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
        fan_out,
    )

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    reps = fan_out(o).select(
        "o_orderkey",
        dec("o_totalprice", 12, 2).alias("price"),
        F.explode(
            F.sequence(F.lit(0), F.lit(_BOOT_B - 1))
        ).alias("b"),
    )
    h = F.md5(
        F.concat(
            F.lit("boot:"),
            F.col("o_orderkey").cast("string"),
            F.lit(":"),
            (F.col("b") - F.col("b") % 4).cast("string"),
        )
    )
    h8 = F.substring(h, F.lit(1) + (F.col("b") % 4) * 8, F.lit(8))
    w = F.lit(9)
    for k in range(len(_POISSON_T_HEX) - 1, -1, -1):
        w = F.when(h8 < _POISSON_T_HEX[k], F.lit(k)).otherwise(w)
    weighted = reps.select(
        "b",
        (F.col("price") * w.cast("decimal(2,0)")).alias("wp"),
        w.cast("long").alias("w"),
    )
    rmeans = weighted.groupBy("b").agg(
        F.round(
            F.sum("wp").cast("double") / F.sum("w").cast("double"), 9
        ).alias("rep_mean")
    )
    ci = rmeans.agg(
        F.expr("percentile(rep_mean, 0.025)").alias("_lo"),
        F.expr("percentile(rep_mean, 0.5)").alias("_med"),
        F.expr("percentile(rep_mean, 0.975)").alias("_hi"),
        F.count(F.lit(1)).alias("b_replicates"),
    )
    full = o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(dec("o_totalprice", 12, 2)).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("mean_full"),
    )
    return full.crossJoin(F.broadcast(ci)).select(
        "n_orders",
        "b_replicates",
        "mean_full",
        F.round("_lo", 6).alias("boot_lo"),
        F.round("_med", 6).alias("boot_median"),
        F.round("_hi", 6).alias("boot_hi"),
    )


STATS_BOOTSTRAP_SQL = f"""
WITH reps AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price, b
  FROM orders
  CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b) g
),
drawn AS (
  SELECT b, price,
         substring(
             md5('boot:' || CAST(o_orderkey AS VARCHAR) || ':'
                 || CAST(b - (b % 4) AS VARCHAR)),
             1 + (b % 4) * 8, 8) AS h8
  FROM reps
),
weighted AS (
  SELECT b, price,
         CASE {" ".join(f"WHEN h8 < '{t_}' THEN {k}" for k, t_ in enumerate(_POISSON_T_HEX))}
              ELSE 9 END AS w
  FROM drawn
),
rmeans AS (
  SELECT b,
         round(CAST(sum(price * CAST(w AS DECIMAL(2,0))) AS DOUBLE)
               / CAST(sum(w) AS DOUBLE), 9) AS rep_mean
  FROM weighted GROUP BY 1
),
full_ AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orders,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               / count(*), 9) AS mean_full
  FROM orders
)
SELECT n_orders,
       CAST(count(*) AS BIGINT) AS b_replicates,
       mean_full,
       round(quantile_cont(rep_mean, 0.025), 6) AS boot_lo,
       round(quantile_cont(rep_mean, 0.5), 6) AS boot_median,
       round(quantile_cont(rep_mean, 0.975), 6) AS boot_hi
FROM rmeans, full_
GROUP BY n_orders, mean_full
"""


# --------------------------------------------------------------------------
_ACF_LAGS = 3


def events_autocorrelation(spark, sf_dir):
    """Lag-k AUTOCORRELATION of each event type's daily-count series
    (k = 1..3) — the temporal-structure fingerprint: weekly
    periodicity shows as a lag-7 peak, trending series decay slowly,
    white noise sits near 0.  Input to seasonality detection and
    anomaly baselines.

    Exactness: with S = Σx and D = days, the centered series scaled by
    D is c_t = D·x_t − S (int64: ≤ ~2·10¹³ at the stated envelope of
    2³¹ counts × 10⁴ days); the products c_t·c_{t+k} can reach ~4·10²⁶
    — past int64 — so the sums accumulate as exact
    decimal(18,0)×decimal(18,0) ⇒ decimal(37,0) (overflow-free past
    10³⁷); ACF_k = Σ c_t·c_{t+k} / Σ c_t² is a ratio of exact
    integers (the D² factors cancel), one double division rounded
    to 9.  No float means, no variance estimators.

    Scale: everything past the map-combinable daily count runs on the
    |types|×|days| relation — lead() windows over calendar-bounded
    partitions, one aggregate row per type, and the per-lag rows
    unpivot from THAT row via ``stack`` (no per-lag recompute of the
    events scan).
    """
    from pyspark.sql.window import Window

    daily = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    wall = Window.partitionBy("event_type")
    word = wall.orderBy("d")
    c = (
        F.count(F.lit(1)).over(wall) * F.col("x")
        - F.sum("x").over(wall)
    )
    scored = daily.select(
        "event_type",
        F.count(F.lit(1)).over(wall).alias("n_days"),
        c.alias("c"),
        *[
            F.lead(c, k).over(word).alias(f"c{k}")
            for k in range(1, _ACF_LAGS + 1)
        ],
    )
    def d18(col):
        return F.col(col).cast("decimal(18,0)")

    agg = scored.groupBy("event_type").agg(
        F.max("n_days").alias("n_days"),
        F.sum(d18("c") * d18("c")).alias("den"),
        *[
            F.sum(d18("c") * d18(f"c{k}")).alias(f"num{k}")
            for k in range(1, _ACF_LAGS + 1)
        ],
    )
    scored_acf = agg.select(
        "event_type",
        "n_days",
        *[
            F.round(
                F.col(f"num{k}").cast("double") / F.col("den").cast("double"),
                9,
            ).alias(f"acf{k}")
            for k in range(1, _ACF_LAGS + 1)
        ],
    )
    lags = ", ".join(
        f"{k}, acf{k}" for k in range(1, _ACF_LAGS + 1)
    )
    out = scored_acf.selectExpr(
        "event_type",
        "n_days",
        f"stack({_ACF_LAGS}, {lags}) AS (lag, acf)",
    ).select("event_type", "lag", "n_days", "acf")
    return out.filter(F.col("acf").isNotNull())


EVENTS_ACF_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
centered AS (
  SELECT event_type, d,
         CAST(count(*) OVER w AS BIGINT) AS n_days,
         CAST(count(*) OVER w AS BIGINT) * x
           - CAST(sum(x) OVER w AS BIGINT) AS c
  FROM daily
  WINDOW w AS (PARTITION BY event_type)
),
scored AS (
  SELECT event_type, n_days, c,
         lead(c, 1) OVER w2 AS c1,
         lead(c, 2) OVER w2 AS c2,
         lead(c, 3) OVER w2 AS c3
  FROM centered
  WINDOW w2 AS (PARTITION BY event_type ORDER BY d)
),
agg AS (
  -- HUGEINT products (r08 advisory): the Spark arm accumulates
  -- decimal(18,0)x(18,0)=decimal(37,0) because the docstring envelope
  -- reaches ~4e26; BIGINT*BIGINT would raise at that scale in DuckDB,
  -- giving the two arms different safe ranges.  HUGEINT (int128)
  -- matches the decimal(37,0) headroom; doubles enter only at the
  -- final division, same as the Spark arm.
  SELECT event_type,
         CAST(max(n_days) AS BIGINT) AS n_days,
         sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS den,
         sum(CAST(c AS HUGEINT) * CAST(c1 AS HUGEINT)) AS num1,
         sum(CAST(c AS HUGEINT) * CAST(c2 AS HUGEINT)) AS num2,
         sum(CAST(c AS HUGEINT) * CAST(c3 AS HUGEINT)) AS num3
  FROM scored GROUP BY 1
)
SELECT event_type, lag, n_days, acf FROM (
  SELECT event_type, 1 AS lag, n_days,
         round(CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE), 9) AS acf
  FROM agg
  UNION ALL
  SELECT event_type, 2, n_days,
         round(CAST(num2 AS DOUBLE) / CAST(den AS DOUBLE), 9)
  FROM agg
  UNION ALL
  SELECT event_type, 3, n_days,
         round(CAST(num3 AS DOUBLE) / CAST(den AS DOUBLE), 9)
  FROM agg
)
WHERE acf IS NOT NULL
"""


# --------------------------------------------------------------------------
_GINI_BUCKETS = 256


def customer_gini_revenue(spark, sf_dir):
    """GINI COEFFICIENT of customer revenue concentration by BUCKETED
    SEGMENTED RANKING — "how unequal is the revenue distribution", the
    standard concentration scalar next to ``supplier_market_hhi`` and
    ``customer_abc_pareto``.  G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over
    revenues sorted ascending with a unique (revenue, custkey) key.

    Scale: the rank-everything formulation is a GLOBAL order — a
    single-partition window at any real size.  This plan ranks without
    a global sort: pass 1 histograms revenue cents into 256 value
    ranges (map-combinable; the ≤256-row histogram is a bounded driver
    collect, the same gate-probe shape as the weighted-percentile /
    tfidf probes); the driver prefix-sums the bucket counts into
    per-bucket rank OFFSETS; pass 2 ranks WITHIN each bucket (windows
    partitioned by bucket — parallel, each seeing only its value
    range) and adds the broadcast offset.  Skew note: a pathological
    bucket recurses with the same two passes — not needed at any
    tested SF.  All sufficient statistics are exact (int64 cents,
    decimal(18,0)·decimal(18,0) rank-weighted sum ⇒ decimal(37,0),
    overflow-free past 10^18); doubles enter only in the final closed
    form, rounded to 9.  The oracle is the naive global-window rank —
    independent plan, identical ranks because the composite sort key
    is everywhere unique.
    """
    from pyspark.sql.window import Window

    rev = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(dec("o_totalprice", 12, 2)).alias("r"))
        .select(
            "o_custkey",
            "r",
            (F.col("r") * 100).cast("long").alias("cents"),
        )
    )
    lo, hi = rev.agg(F.min("cents"), F.max("cents")).collect()[0]
    width = max(1, (int(hi) - int(lo)) // _GINI_BUCKETS + 1)
    bucketed = rev.withColumn(
        "bucket",
        F.floor((F.col("cents") - F.lit(int(lo))) / F.lit(width)).cast(
            "int"
        ),
    )
    hist = {
        row["bucket"]: row["n"]
        for row in bucketed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    offsets, acc = [], 0
    for bkt in sorted(hist):
        offsets.append((bkt, acc))
        acc += hist[bkt]
    off_df = local_relation(spark, offsets, "bucket int, off long")
    win = Window.partitionBy("bucket").orderBy("cents", "o_custkey")
    ranked = (
        bucketed.withColumn("_rn", F.row_number().over(win).cast("long"))
        .join(F.broadcast(off_df), "bucket")
        .select(
            "r",
            "cents",
            (F.col("off") + F.col("_rn")).alias("i"),
        )
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("r", 22, 2).alias("total_revenue"),
        F.sum("cents").alias("_sc"),
        F.sum(
            F.col("i").cast("decimal(18,0)")
            * F.col("cents").cast("decimal(18,0)")
        ).alias("_sic"),
    )
    n = F.col("n_customers").cast("double")
    return agg.select(
        "n_customers",
        "total_revenue",
        F.round(
            2.0
            * F.col("_sic").cast("double")
            / (n * F.col("_sc").cast("double"))
            - (n + 1.0) / n,
            9,
        ).alias("gini"),
    )


CUSTOMER_GINI_SQL = """
WITH rev AS (
  SELECT o_custkey,
         sum(CAST(o_totalprice AS DECIMAL(12,2))) AS r,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
rk AS (
  SELECT r, cents,
         CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS i
  FROM rev
)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(r) AS DOUBLE) AS total_revenue,
       round(2.0 * CAST(sum(CAST(i AS DECIMAL(18,0))
                            * CAST(cents AS DECIMAL(18,0))) AS DOUBLE)
             / (CAST(count(*) AS DOUBLE) * CAST(sum(cents) AS DOUBLE))
             - (CAST(count(*) AS DOUBLE) + 1) / CAST(count(*) AS DOUBLE),
             9) AS gini
FROM rk
"""


# --------------------------------------------------------------------------
def stats_welch_t(spark, sf_dir):
    """WELCH'S t-TEST on mean purchase value between the two
    deterministic experiment arms (user_id % 2 — the same assignment
    as ``events_ab_proportion_z``, which tests proportions; this is
    the means readout).  Unequal-variance t statistic plus the
    Welch–Satterthwaite degrees of freedom.

    Exactness: the only data-dependent aggregates are n, Σv, Σv²
    per arm — v is a 2-decimal value, so both sums are EXACT decimals
    (Σv² at scale 4); every downstream quantity (means, sample
    variances, t, df) is a fixed sequence of double ops on those
    exact sums, identical in both engines, rounded at 6–9.

    Scale: one type-pruned scan, one conditional aggregate producing
    a single row — map-side combinable, no shuffle beyond the final
    1-row reduce.  The canonical massive-A/B readout shape.
    """
    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select((F.col("user_id") % 2).alias("arm"), dec("value", 10, 2).alias("v"))
    )
    arm_a, arm_b = F.col("arm") == 0, F.col("arm") == 1
    agg = e.agg(
        F.sum(arm_a.cast("long")).alias("n_a"),
        F.sum(arm_b.cast("long")).alias("n_b"),
        F.sum(F.when(arm_a, F.col("v"))).alias("sv_a"),
        F.sum(F.when(arm_b, F.col("v"))).alias("sv_b"),
        F.sum(F.when(arm_a, F.col("v") * F.col("v"))).alias("svv_a"),
        F.sum(F.when(arm_b, F.col("v") * F.col("v"))).alias("svv_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sva, svb = F.col("sv_a").cast("double"), F.col("sv_b").cast("double")
    svva, svvb = F.col("svv_a").cast("double"), F.col("svv_b").cast("double")
    var_a = (svva - sva * sva / na) / (na - 1)
    var_b = (svvb - svb * svb / nb) / (nb - 1)
    qa, qb = var_a / na, var_b / nb
    return agg.select(
        "n_a",
        "n_b",
        F.round(sva / na, 9).alias("mean_a"),
        F.round(svb / nb, 9).alias("mean_b"),
        F.round((sva / na - svb / nb) / F.sqrt(qa + qb), 6).alias("t_stat"),
        F.round(
            (qa + qb) * (qa + qb) / (qa * qa / (na - 1) + qb * qb / (nb - 1)),
            6,
        ).alias("df"),
    )


STATS_WELCH_SQL = """
WITH e AS (
  SELECT user_id % 2 AS arm, CAST(value AS DECIMAL(10,2)) AS v
  FROM events WHERE event_type = 'purchase'
),
agg AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         sum(CASE WHEN arm = 0 THEN v END) AS sv_a,
         sum(CASE WHEN arm = 1 THEN v END) AS sv_b,
         sum(CASE WHEN arm = 0 THEN v * v END) AS svv_a,
         sum(CASE WHEN arm = 1 THEN v * v END) AS svv_b
  FROM e
),
mid AS (
  SELECT n_a, n_b,
         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
         CAST(sv_a AS DOUBLE) AS sva, CAST(sv_b AS DOUBLE) AS svb,
         ((CAST(svv_a AS DOUBLE)
           - CAST(sv_a AS DOUBLE) * CAST(sv_a AS DOUBLE)
             / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1))
           / CAST(n_a AS DOUBLE) AS qa,
         ((CAST(svv_b AS DOUBLE)
           - CAST(sv_b AS DOUBLE) * CAST(sv_b AS DOUBLE)
             / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1))
           / CAST(n_b AS DOUBLE) AS qb
  FROM agg
)
SELECT n_a, n_b,
       round(sva / na, 9) AS mean_a,
       round(svb / nb, 9) AS mean_b,
       round((sva / na - svb / nb) / sqrt(qa + qb), 6) AS t_stat,
       round((qa + qb) * (qa + qb)
             / (qa * qa / (na - 1) + qb * qb / (nb - 1)), 6) AS df
FROM mid
"""


# --------------------------------------------------------------------------
def events_activity_streaks(spark, sf_dir):
    """Longest consecutive-day PURCHASE streak per user, reported as a
    streak-length histogram — the textbook GAPS-AND-ISLANDS pattern
    (island key = day − row_number days) driving habit/retention
    features.  Purchase (not any-event) days keep the distribution
    non-degenerate on a corpus where every user fires events daily.

    Exactness: all integers and dates — nothing to round.

    Scale: the distinct-day relation is ≤ users × days; the only
    window is partitioned by the HIGH-cardinality user key; both
    island aggregates are map-combinable; output is ≤ |days| rows.
    """
    from pyspark.sql.window import Window

    days = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("d")
    )
    isl = days.select("user_id", F.date_sub(F.col("d"), rn).alias("g"))
    lens = isl.groupBy("user_id", "g").agg(
        F.count(F.lit(1)).alias("len")
    )
    best = lens.groupBy("user_id").agg(F.max("len").alias("streak_len"))
    return best.groupBy("streak_len").agg(
        F.count(F.lit(1)).alias("n_users")
    )


EVENTS_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
  FROM events WHERE event_type = 'purchase'
),
isl AS (
  SELECT user_id,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                  AS INTEGER) AS g
  FROM days
),
lens AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS len
  FROM isl GROUP BY user_id, g
),
best AS (
  SELECT user_id, max(len) AS streak_len FROM lens GROUP BY 1
)
SELECT streak_len, CAST(count(*) AS BIGINT) AS n_users
FROM best GROUP BY 1
"""



_HOLT_ALPHA = 0.5   # exactly-representable dyadics: every multiply is
_HOLT_BETA = 0.25   # exact, so the fold is bit-identical cross-engine


def events_holt_forecast(spark, sf_dir):
    """HOLT DOUBLE-EXPONENTIAL SMOOTHING per event type over the daily
    count series — level + trend state and the one-step-ahead forecast
    (Holt 1957; the additive-trend half of Holt-Winters), the standard
    "is tomorrow's volume drifting" primitive next to
    :func:`events_cusum_changepoint`'s change-point detector.

    The recursion l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1}),
    b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1} is inherently sequential —
    no window frame expresses it — so it runs as an ORDERED-LIST FOLD
    per key: the daily series (bounded: |days| elements per key,
    map-side-combined daily aggregate upstream) is collected per group
    and folded by ``F.aggregate`` with a (level, trend) accumulator,
    initialized l₁ = x₁, b₁ = x₂ − x₁, folding x₂..x_n.  No driver
    loop, no Python, no global sort — the only shuffles are the daily
    aggregate and the per-key collect.

    Cross-engine exactness: α = 0.5 and β = 0.25 are exact binary
    fractions, inputs are integer counts cast to double, and BOTH
    engines fold left-to-right over the same day order (DuckDB
    ``list_reduce`` over ``list(x ORDER BY d)`` with a two-double list
    accumulator — its struct-typed lambda accumulator mis-evaluates,
    measured and avoided), so level/trend/forecast agree to the bit
    before the final round(…, 6).
    """
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("_d")
    ).agg(F.count(F.lit(1)).cast("double").alias("_x"))
    ser = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("_d", "_x"))).alias("_s"),
        F.count(F.lit(1)).alias("n_days"),
    )
    init = F.struct(
        F.element_at("_s", 1)["_x"].alias("l"),
        (F.element_at("_s", 2)["_x"] - F.element_at("_s", 1)["_x"]).alias(
            "b"
        ),
    )

    def merge(acc, el):
        lnew = F.lit(_HOLT_ALPHA) * el["_x"] + F.lit(
            1.0 - _HOLT_ALPHA
        ) * (acc["l"] + acc["b"])
        bnew = F.lit(_HOLT_BETA) * (lnew - acc["l"]) + F.lit(
            1.0 - _HOLT_BETA
        ) * acc["b"]
        return F.struct(lnew.alias("l"), bnew.alias("b"))

    folded = ser.filter(F.col("n_days") >= 2).select(
        "event_type",
        "n_days",
        F.aggregate(
            F.slice("_s", 2, F.size("_s") - 1), init, merge
        ).alias("_st"),
    )
    return folded.select(
        "event_type",
        "n_days",
        F.round(F.col("_st")["l"], 6).alias("level"),
        F.round(F.col("_st")["b"], 6).alias("trend"),
        F.round(F.col("_st")["l"] + F.col("_st")["b"], 6).alias(
            "forecast_next"
        ),
    ).orderBy("event_type")


EVENTS_HOLT_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2
),
ser AS (
  SELECT event_type,
         list(x ORDER BY d) AS s,
         CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1
),
folded AS (
  SELECT event_type, n_days,
         list_reduce(
           list_prepend([s[1], s[2] - s[1]],
             list_transform(s[2:], x -> [x, 0.0::DOUBLE])),
           (acc, e) -> [
             0.5::DOUBLE * e[1] + 0.5::DOUBLE * (acc[1] + acc[2]),
             0.25::DOUBLE * ((0.5::DOUBLE * e[1]
                              + 0.5::DOUBLE * (acc[1] + acc[2]))
                             - acc[1])
               + 0.75::DOUBLE * acc[2]
           ]
         ) AS st
  FROM ser WHERE n_days >= 2
)
SELECT event_type, n_days,
       round(st[1], 6) AS level,
       round(st[2], 6) AS trend,
       round(st[1] + st[2], 6) AS forecast_next
FROM folded
ORDER BY event_type
"""


QUERIES: dict[str, Q] = {
    "events_max_concurrency": Q(
        events_max_concurrency, EVENTS_CONCURRENCY_SQL
    ),
    "events_cusum_changepoint": Q(events_cusum_changepoint, EVENTS_CUSUM_SQL),
    "text_js_divergence": Q(text_js_divergence, TEXT_JSD_SQL),
    "stats_bootstrap_ci": Q(stats_bootstrap_ci, STATS_BOOTSTRAP_SQL),
    "events_autocorrelation": Q(events_autocorrelation, EVENTS_ACF_SQL),
    "customer_gini_revenue": Q(customer_gini_revenue, CUSTOMER_GINI_SQL),
    "stats_welch_t": Q(stats_welch_t, STATS_WELCH_SQL),
    "events_activity_streaks": Q(
        events_activity_streaks, EVENTS_STREAKS_SQL
    ),
    "events_holt_forecast": Q(events_holt_forecast, EVENTS_HOLT_SQL),
}
