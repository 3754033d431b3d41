"""Extended operator coverage: language ID, rolling-hash fingerprints,
regex/null/conditional scalars, pivot, join-on-expression, embedding
cosine near-dup, array functions.

Same parity discipline as the rest of the catalog: md5/lexicon/integer
arithmetic where possible, round(…, 6..9) where genuinely float.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.functions.vectors import (
    cosine_col,
    cosine_sql,
    dot_sql,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import (
    APPROX_PCTL_ACCURACY,
    Q,
    approx_pctl,
    dec,
    dsum,
    t,
)

# Frozen marker-word → language assignment (md5('lang:'+word) % 5 over the
# corpus vocabulary), mirroring the emotion lexicon design: a deterministic,
# SQL-expressible n-gram/stopword language-ID heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["a", "agg", "big", "data", "filter", "group", "merge", "query", "row"],
    "en": ["customer", "hash", "join", "table", "value"],
    "es": ["dup", "line", "slow", "the"],
    "fr": ["order", "part", "scan", "sort", "spark", "window"],
    "zh": ["batch", "column", "fast", "key", "small", "stream", "vector"],
}
LANGS = sorted(LANG_MARKERS)


# --------------------------------------------------------------------------
def _lang_votes(text_col):
    """Sorted per-language marker-vote structs (neg hit count, code) —
    the SINGLE source of the vote computation for language-ID and its
    confidence variant; element [i] is the i-th best language."""
    toks = F.split(text_col, " ")
    return F.sort_array(
        F.array(
            *[
                F.struct(
                    (-F.size(
                        F.filter(toks, lambda x: x.isin(LANG_MARKERS[lg]))  # noqa: B023
                    )).alias("neg"),
                    F.lit(lg).alias("lg"),
                )
                for lg in LANGS
            ]
        )
    )


def text_language_id(spark, sf_dir):
    """Marker-word-vote language ID: argmax of per-language marker hits,
    ties broken by language code asc; compared against the labeled lang."""
    d = t(spark, sf_dir, "documents")
    votes = _lang_votes(F.col("text"))
    guess = votes[0]["lg"]
    return d.select(
        "doc_id",
        "lang",
        guess.alias("lang_guess"),
        (guess == F.col("lang")).cast("int").alias("agrees"),
    )


_LANG_UNPIVOT = " UNION ALL ".join(
    "SELECT doc_id, '{lg}' AS lg, len(list_filter(string_split(text, ' '), "
    "t -> t IN ({ws}))) AS hits FROM documents".format(
        lg=lg, ws=", ".join(f"'{w}'" for w in LANG_MARKERS[lg])
    )
    for lg in LANGS
)
# Shared unpivot + rank CTE chain — single source of the vote/tiebreak
# SQL for language-ID and its confidence variant.
_LANG_RANKED_CTE = f"""unp AS ({_LANG_UNPIVOT}),
ranked AS (
  SELECT doc_id, lg, hits,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lg ASC) AS rn
  FROM unp
)"""

TEXT_LANGID_SQL = f"""
WITH {_LANG_RANKED_CTE},
guesses AS (SELECT doc_id, lg AS lang_guess FROM ranked WHERE rn = 1)
SELECT d.doc_id, d.lang, g.lang_guess,
       CASE WHEN g.lang_guess = d.lang THEN 1 ELSE 0 END AS agrees
FROM documents d JOIN guesses g ON d.doc_id = g.doc_id
"""


# --------------------------------------------------------------------------
def text_language_confidence(spark, sf_dir):
    """Language-ID with a CONFIDENCE margin: the vote gap between the
    best and runner-up language.  Low-margin docs are the ones a
    pipeline routes to a heavier classifier — the margin is the
    triage signal.

    Scale: same single-scan narrow vote computation as
    text_language_id; no extra pass for the runner-up (both come from
    one sorted-struct array).
    """
    d = t(spark, sf_dir, "documents")
    votes = _lang_votes(F.col("text"))
    margin = (-votes[0]["neg"]) - (-votes[1]["neg"])
    return d.select(
        "doc_id",
        votes[0]["lg"].alias("lang_guess"),
        (-votes[0]["neg"]).cast("long").alias("top_hits"),
        margin.cast("long").alias("margin"),
        (margin >= 2).cast("int").alias("is_confident"),
    )


TEXT_LANG_CONF_SQL = f"""
WITH {_LANG_RANKED_CTE}
SELECT doc_id,
       MAX(CASE WHEN rn = 1 THEN lg END) AS lang_guess,
       CAST(MAX(CASE WHEN rn = 1 THEN hits END) AS BIGINT) AS top_hits,
       CAST(MAX(CASE WHEN rn = 1 THEN hits END)
            - MAX(CASE WHEN rn = 2 THEN hits END) AS BIGINT) AS margin,
       CASE WHEN MAX(CASE WHEN rn = 1 THEN hits END)
                 - MAX(CASE WHEN rn = 2 THEN hits END) >= 2
            THEN 1 ELSE 0 END AS is_confident
FROM ranked
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
def text_rolling_fingerprint(spark, sf_dir):
    """Polynomial rolling hash (h = h*31 + codepoint mod 2^31-1) over the
    normalized text — the classic streaming document fingerprint, as a
    single JVM-side left fold."""
    d = t(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), "\\s+", " "))
    h = F.aggregate(
        F.split(norm, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % 2147483647,
    )
    return d.select("doc_id", h.alias("rolling_hash"))


TEXT_ROLLING_SQL = """
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ''),
                          c -> ascii(c)::BIGINT)),
         (acc, c) -> (acc * 31 + c) % 2147483647) AS rolling_hash
FROM documents
"""


# --------------------------------------------------------------------------
def scalar_regex_functions(spark, sf_dir):
    """regexp_extract / regexp_replace / rlike over part type strings."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", "^(\\w+)", 1).alias("type_first_word"),
        F.regexp_extract("p_name", "(\\d+)", 1).alias("name_digits"),
        F.regexp_replace("p_type", "[aeiou]", "_").alias("devoweled"),
        F.col("p_type").rlike("ED$").cast("int").alias("ends_ed"),
    )


SCALAR_REGEX_SQL = """
SELECT p_partkey,
       regexp_extract(p_type, '^(\\w+)', 1) AS type_first_word,
       regexp_extract(p_name, '(\\d+)', 1) AS name_digits,
       regexp_replace(p_type, '[aeiou]', '_', 'g') AS devoweled,
       CASE WHEN regexp_matches(p_type, 'ED$') THEN 1 ELSE 0 END AS ends_ed
FROM part
"""


# --------------------------------------------------------------------------
def scalar_null_conditional(spark, sf_dir):
    """NULL handling + CASE: nullif/coalesce/isnull over order priorities."""
    o = t(spark, sf_dir, "orders")
    urgent = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    return o.select(
        "o_orderkey",
        F.coalesce(urgent, F.lit("URGENT!")).alias("priority_display"),
        urgent.isNull().cast("int").alias("is_urgent"),
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 100000, "medium")
        .otherwise("small")
        .alias("size_class"),
    )


SCALAR_NULL_SQL = """
SELECT o_orderkey,
       COALESCE(NULLIF(o_orderpriority, '1-URGENT'), 'URGENT!') AS priority_display,
       CASE WHEN NULLIF(o_orderpriority, '1-URGENT') IS NULL THEN 1 ELSE 0 END AS is_urgent,
       CASE WHEN o_totalprice > 200000 THEN 'big'
            WHEN o_totalprice > 100000 THEN 'medium'
            ELSE 'small' END AS size_class
FROM orders
"""


# --------------------------------------------------------------------------
_BIN_WIDTH = 25


def events_value_histogram(spark, sf_dir):
    """Fixed-width value histogram per event type: bin = ⌊value/25⌋·25,
    with count and exact decimal sum per (type, bin).  The
    distribution-inspection op every monitoring dashboard needs.

    Scale: pure map-side binning expression + one combinable agg on
    (type, bin) — output rows bounded by types × value-range/width,
    independent of event count.
    """
    e = t(spark, sf_dir, "events")
    bin_col = (
        F.floor(F.col("value") / _BIN_WIDTH) * _BIN_WIDTH
    ).cast("double")
    return e.groupBy(
        "event_type", bin_col.alias("bin_lo")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value", 18, 6)).cast("double").alias("sum_value"),
    )


HISTOGRAM_SQL = f"""
SELECT event_type,
       CAST(floor(value / {_BIN_WIDTH}) * {_BIN_WIDTH} AS DOUBLE) AS bin_lo,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
def events_key_skew_report(spark, sf_dir):
    """Shuffle-key skew diagnostic: the top-10 heaviest user_id keys
    with their share of all rows and skew factor (key rows / mean rows
    per key).  The report you run BEFORE deciding whether a join needs
    salting (operators/skew.py) or AQE skew splitting.

    Scale: one combinable count per key, two scalar aggregates
    broadcast back, heap top-k — nothing proportional to row count
    crosses the wire after the first agg.
    """
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    per_key = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    tot = per_key.agg(
        F.sum("n_rows").cast("double").alias("_tot"),
        F.count(F.lit(1)).cast("double").alias("_nkeys"),
    )
    w = Window.orderBy(F.desc("n_rows"), F.asc("user_id"))
    return (
        per_key.crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "rank",
            "user_id",
            "n_rows",
            F.round(F.col("n_rows") / F.col("_tot"), 9).alias("row_share"),
            F.round(
                F.col("n_rows") / (F.col("_tot") / F.col("_nkeys")), 6
            ).alias("skew_factor"),
        )
    )


SKEW_REPORT_SQL = """
WITH per_key AS (
  SELECT user_id, count(*) AS n_rows FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_rows) AS DOUBLE) AS tot,
         CAST(count(*) AS DOUBLE) AS nkeys
  FROM per_key
),
ranked AS (
  SELECT p.user_id, p.n_rows, t.tot, t.nkeys,
         ROW_NUMBER() OVER (ORDER BY p.n_rows DESC, p.user_id ASC) AS rank
  FROM per_key p CROSS JOIN tot t
)
SELECT rank, user_id, n_rows,
       round(n_rows / tot, 9) AS row_share,
       round(n_rows / (tot / nkeys), 6) AS skew_factor
FROM ranked WHERE rank <= 10
"""


# --------------------------------------------------------------------------
def orders_monthly_growth(spark, sf_dir):
    """Month-over-month revenue growth: per-month exact decimal revenue
    with lag-based percentage change (try_divide: the first month's
    growth is NULL in both engines).

    Scale: the month agg collapses the fact table to |months| rows;
    the lag window over that tiny relation is a single cheap task BY
    CONSTRUCTION (the global window runs on the aggregate, never the
    fact table).
    """
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias(
            "month"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "n_orders",
        "revenue",
        F.round(
            F.try_divide(F.col("revenue") - prev, prev) * 100, 6
        ).alias("growth_pct"),
    )


MONTHLY_GROWTH_SQL = """
WITH monthly AS (
  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
         count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, n_orders, revenue,
       round((revenue - lag(revenue) OVER (ORDER BY month))
             / lag(revenue) OVER (ORDER BY month) * 100, 6) AS growth_pct
FROM monthly
"""


# --------------------------------------------------------------------------
def _hourly_percentiles(spark, sf_dir, pctl):
    e = t(spark, sf_dir, "events")
    v = dec("value", 18, 2).cast("double")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # round interpolated doubles to 6 before hashing (family
            # convention) — unrounded parity would hinge on both engines
            # interpolating bit-identically across versions
            F.round(pctl(v, 0.5), 6).alias("p50_value"),
            F.round(pctl(v, 0.95), 6).alias("p95_value"),
        )
    )


def events_hourly_percentiles(spark, sf_dir):
    """Time-bucketed latency-style monitoring: exact p50/p95 of value
    per (hour, event_type).  Values are quantized to 2 decimals before
    the percentile (they carry 2 decimals already) so the interpolated
    result is bitwise-identical in both engines (agg_percentiles
    pattern).

    Scale: one shuffle on the (hour, type) key; at 100 TB use the
    :func:`events_hourly_percentiles_approx` twin and the per-group
    state becomes a fixed-size sketch.
    """
    return _hourly_percentiles(spark, sf_dir, F.percentile)


def events_hourly_percentiles_approx(spark, sf_dir):
    """The 100 TB form of :func:`events_hourly_percentiles`:
    ``percentile_approx`` (KLL-style quantile sketch, accuracy 10000)
    replaces the exact sort-based percentile, bounding per-group
    aggregation state by the sketch size instead of the group size.
    Sketch internals are engine-specific → rows-only catalog entry;
    tests/test_approx.py bounds its drift against the exact twin."""
    return _hourly_percentiles(spark, sf_dir, approx_pctl)


HOURLY_PCTL_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       event_type,
       count(*) AS n_events,
       round(quantile_cont(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE), 0.5), 6) AS p50_value,
       round(quantile_cont(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE), 0.95), 6) AS p95_value
FROM events
GROUP BY 1, 2
"""


def events_hourly_percentiles_approx_audit(spark, sf_dir):
    """Driver-checkable contract of the rows-only
    :func:`events_hourly_percentiles_approx` (the r6 audit-twin
    pattern, ``agg_approx_distinct_audit``'s rank check generalized to
    grouped p50/p95): per (hour, event_type), the exact row count
    (DuckDB hash-verified) plus Spark-computed booleans the oracle
    pins TRUE — ``p50_rank_ok`` / ``p95_rank_ok``, each certifying
    that the value ``percentile_approx(accuracy=10000)`` returned
    occupies a rank interval overlapping the target rank ± the
    documented n/accuracy rank-error window (counted with ≤/< sums —
    the guarantee the accuracy parameter actually makes, not a
    value-distance heuristic).  A sketch regression (wrong quantile
    plumbing, broken interpolation, accuracy drift) turns the driver
    row red instead of hiding in a rows-only count.

    Scale: the first aggregate is the production sketch plan; the rank
    check joins the per-group approx values back to one more fact scan
    via broadcast (group cardinality = |hours|×|types|, tiny) — one
    bounded audit-only pass.
    """
    e = t(spark, sf_dir, "events")
    g = e.select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias(
            "hour"
        ),
        "event_type",
        dec("value", 18, 2).cast("double").alias("_v"),
    )
    agg = g.groupBy("hour", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        approx_pctl(F.col("_v"), 0.5).alias("_ap50"),
        approx_pctl(F.col("_v"), 0.95).alias("_ap95"),
    )
    ranks = (
        g.join(F.broadcast(agg), ["hour", "event_type"])
        .groupBy("hour", "event_type")
        .agg(
            F.sum((F.col("_v") <= F.col("_ap50")).cast("long")).alias("_le50"),
            F.sum((F.col("_v") < F.col("_ap50")).cast("long")).alias("_lt50"),
            F.sum((F.col("_v") <= F.col("_ap95")).cast("long")).alias("_le95"),
            F.sum((F.col("_v") < F.col("_ap95")).cast("long")).alias("_lt95"),
        )
    )
    n = F.col("n_events")
    tol = n / F.lit(float(APPROX_PCTL_ACCURACY)) + F.lit(1.0)

    def rank_ok(q: float, le: str, lt: str):
        target = n * F.lit(q)
        return (F.col(le) >= F.floor(target) - tol) & (
            F.col(lt) <= F.ceil(target) + tol
        )

    return agg.join(ranks, ["hour", "event_type"]).select(
        "hour",
        "event_type",
        "n_events",
        rank_ok(0.5, "_le50", "_lt50").alias("p50_rank_ok"),
        rank_ok(0.95, "_le95", "_lt95").alias("p95_rank_ok"),
    )


HOURLY_PCTL_AUDIT_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       event_type,
       count(*) AS n_events,
       TRUE AS p50_rank_ok,
       TRUE AS p95_rank_ok
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
def events_rolling_dau(spark, sf_dir):
    """Trailing-7-day active users per day — the retention dashboard's
    staple.  Set-oriented rewrite of the naive per-day re-scan: each
    DISTINCT (user, day) pair contributes itself to the 7 window-end
    days it is visible from, so one explode + one distinct-agg replaces
    7 overlapping scans.

    Scale: the exploded relation is 7 × |distinct (user, day)| — small
    multiples of the already-aggregated pair set, never 7 × raw events;
    the count-distinct shuffles on the day key.
    """
    e = t(spark, sf_dir, "events")
    pairs = e.select(
        "user_id", F.col("ts").cast("date").alias("_day")
    ).distinct()
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("_min_day"),
        F.max(F.col("ts").cast("date")).alias("_max_day"),
    )
    counted = (
        pairs.select(
            "user_id",
            F.explode(
                F.sequence(F.col("_day"), F.date_add(F.col("_day"), 6))
            ).alias("win_day"),
        )
        .groupBy("win_day")
        .agg(F.count_distinct("user_id").alias("_n"))
    )
    # dense day spine so quiet windows report 0, not a missing row
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("_min_day"), F.col("_max_day"))
        ).alias("win_day")
    )
    return (
        spine.join(counted, "win_day", "left")
        .select(
            F.date_format("win_day", "yyyy-MM-dd").alias("win_day"),
            F.coalesce("_n", F.lit(0)).alias("n_active_7d"),
        )
    )


ROLLING_DAU_SQL = """
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
       COALESCE(c.n, 0) AS n_active_7d
FROM spine s LEFT JOIN counted c USING (win_day)
"""


# --------------------------------------------------------------------------
def events_funnel_summary(spark, sf_dir):
    """One-row funnel conversion report on top of events_funnel_steps:
    users reaching each stage and step-to-step conversion ratios
    (exact integer counts → bitwise-stable double ratios).

    Scale: the per-user funnel table is one row per user; this is a
    single global aggregate over it — combinable counts, constant
    output.
    """
    steps = events_funnel_steps(spark, sf_dir)
    # try_divide: a zero denominator (no views at all / no converting
    # clicks) must yield NULL like the oracle, not raise under the
    # driver session's ANSI defaults
    return steps.agg(
        F.count(F.lit(1)).alias("n_view"),
        F.count("t_click_us").alias("n_click"),
        F.count("t_purchase_us").alias("n_purchase"),
        F.try_divide(
            F.count("t_click_us"), F.count(F.lit(1)).cast("double")
        ).alias("view_to_click"),
        F.try_divide(
            F.count("t_purchase_us"), F.count("t_click_us").cast("double")
        ).alias("click_to_purchase"),
    )


# FUNNEL_SUMMARY_SQL is defined after FUNNEL_STEPS_SQL (it wraps that
# statement as a CTE) — see below.


# --------------------------------------------------------------------------
def events_sliding_uniques(spark, sf_dir):
    """Sliding-window DISTINCT users per window: 1-hour windows every
    30 minutes, exact distinct user count per (window, event_type).

    Scale: same narrow two-window assignment as events_sliding_rollup;
    the exact distinct adds one expand — at 100 TB swap
    approx_count_distinct in for a fixed-size HLL per group.
    """
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"),
            "event_type",
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "event_type",
            "n_users",
        )
    )


SLIDING_UNIQ_SQL = """
WITH assigned AS (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws,
         event_type, user_id
  FROM events
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       COUNT(DISTINCT user_id) AS n_users
FROM assigned
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
_SAMPLE_K = 20


def sample_weighted_topk(spark, sf_dir, k: int = _SAMPLE_K):
    """Deterministic weighted sampling WITHOUT replacement (A-ES /
    Efraimidis–Spirakis): per language, keep the k documents with the
    highest priority u^(1/w), where u is an md5-derived uniform and
    w = n_chars — longer documents proportionally likelier, yet the
    sample is exactly replayable on any engine or cluster layout.

    Priorities are rounded to 9 decimals BEFORE ranking (doc_id
    tiebreak) so the rank order — not just the values — matches the
    oracle bit-for-bit.

    Scale: priority is a narrow expression; per-group top-k is one
    combinable-window shuffle on the (high-count) group key — swap in
    operators/topk.grouped_topk_salted when groups are few.
    """
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    # md5 hex → uniform in (0,1]: take 13 hex chars (52 bits, exact in
    # a double), add 1 so u is never 0
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("wrs:"), F.col("doc_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / F.lit(float(16**13))
    # zero-weight guard: n_chars = 0 would divide by zero (ANSI raises
    # where DuckDB NULLs) — NULL priority ranks last in both engines
    prio = F.when(
        F.col("n_chars") > 0,
        F.round(
            F.pow(u, F.lit(1.0) / F.col("n_chars").cast("double")), 9
        ),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("_prio"), F.asc("doc_id")
    )
    return (
        d.select("doc_id", "lang", "n_chars", prio.alias("_prio"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id", "lang", "n_chars",
            F.col("_prio").alias("priority"), "rank",
        )
    )


WEIGHTED_SAMPLE_SQL = f"""
WITH prio AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN n_chars > 0 THEN
           round(pow((CAST(CAST('0x' || substr(md5('wrs:' || CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS DOUBLE) + 1.0)
                     / {float(16 ** 13)!r},
                     1.0 / CAST(n_chars AS DOUBLE)), 9)
         END AS priority
  FROM documents
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY priority DESC, doc_id ASC) AS rank
  FROM prio
)
SELECT doc_id, lang, n_chars, priority, rank FROM ranked WHERE rank <= {_SAMPLE_K}
"""


# --------------------------------------------------------------------------
def scalar_try_functions(spark, sf_dir):
    """Fault-tolerant scalar surface: try_cast / try_divide /
    try_to_number return NULL instead of raising under ANSI mode —
    the idiom a pipeline needs for dirty inputs (the driver session
    runs ANSI defaults, where plain cast('x' AS INT) would error the
    whole job).  Inputs are deliberately malformed for some rows.
    """
    d = t(spark, sf_dir, "documents")
    # success path: a string that is ALWAYS a valid integer (n_chars
    # round-tripped through string); failure path: lang ('en', 'de', …)
    # is never numeric.  Deliberately no data-dependent maybe-numeric
    # input: Spark ANSI try_cast('3.5' AS INT) returns NULL while
    # DuckDB TRY_CAST rounds to 4, so parity on such input is
    # definition-dependent — this query pins only the paths where the
    # two engines agree by definition.
    return d.select(
        "doc_id",
        F.col("n_chars")
        .cast("string")
        .try_cast("int")
        .alias("roundtrip_int"),
        F.col("lang").try_cast("double").alias("lang_as_double"),
        F.try_divide(
            F.col("n_chars").cast("double"),
            (F.col("doc_id") % 7).cast("double"),
        ).alias("chars_per_mod"),
        F.try_divide(F.lit(1.0), F.lit(0.0)).alias("one_over_zero"),
    )


SCALAR_TRY_SQL = """
SELECT doc_id,
       TRY_CAST(CAST(n_chars AS VARCHAR) AS INT) AS roundtrip_int,
       TRY_CAST(lang AS DOUBLE) AS lang_as_double,
       CASE WHEN (doc_id % 7) = 0 THEN NULL
            ELSE CAST(n_chars AS DOUBLE) / CAST(doc_id % 7 AS DOUBLE)
       END AS chars_per_mod,
       CAST(NULL AS DOUBLE) AS one_over_zero
FROM documents
"""


# --------------------------------------------------------------------------
def pivot_event_type_by_day(spark, sf_dir):
    """groupBy().pivot(): event counts per day × event type."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


PIVOT_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COALESCE(COUNT(CASE WHEN event_type = 'click' THEN 1 END), 0) AS click,
       COALESCE(COUNT(CASE WHEN event_type = 'view' THEN 1 END), 0) AS view,
       COALESCE(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS purchase,
       COALESCE(COUNT(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS signup,
       COALESCE(COUNT(CASE WHEN event_type = 'error' THEN 1 END), 0) AS error
FROM events
GROUP BY 1
"""


# --------------------------------------------------------------------------
def join_on_expression(spark, sf_dir):
    """JOIN-5 shape (Scraper.py:405): equi-join on a *computed* key
    (case-normalized name), an inner join dropping non-matches."""
    n = t(spark, sf_dir, "nation").select(
        "n_nationkey", F.lower("n_name").alias("nation_lc")
    )
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "nation_lc"
    )
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "nation_lc"
    )
    return (
        cn.join(sn, "nation_lc")
        .groupBy("nation_lc")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


JOIN_EXPR_SQL = """
WITH cn AS (
  SELECT c_custkey, lower(n_name) AS nation_lc
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
sn AS (
  SELECT s_suppkey, lower(n_name) AS nation_lc
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
)
SELECT cn.nation_lc AS nation_lc, COUNT(*) AS n_pairs
FROM cn JOIN sn ON cn.nation_lc = sn.nation_lc
GROUP BY 1
"""


# --------------------------------------------------------------------------
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: same-label blocking, then
    pairwise cosine ≥ threshold.  At scale the blocking key is an LSH
    bucket (see operators/similarity.knn_lsh); label blocking keeps the
    oracle exact."""
    from rick_and_morty_data_pipeline_project_spark.functions.vectors import (
        dot_col,
        norm2_col,
    )

    # Pre-normalize each vector ONCE (staged projections so the norm
    # isn't re-inlined), so the per-pair cost is one dot product, not
    # dot + two norms — 3× less arithmetic in the quadratic stage.
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").alias("v")
    )
    normed = e.select("vec_id", "label", norm2_col(F.col("v")).alias("_n"), "v")
    nv = normed.select(
        "vec_id",
        F.transform("v", lambda x: x.cast("double") / F.col("_n")).alias("nv"),
    )
    # r15 (guide §8: decide with small rows, attach the payload last):
    # the label self-join used to carry BOTH 64-float vectors through a
    # hashpartitioning(label) exchange, collapsing the quadratic dot
    # stage onto |labels| tasks (the guide's low-cardinality blocking
    # pitfall).  Enumerate the pair IDs narrow, rebalance them across
    # all cores, then attach each side's unit vector by equi-join and
    # evaluate the identical fold dot in parallel — row-exact vs the old
    # plan (same dot, same round, same filter).  No broadcast hint: the
    # vector relations grow with the corpus, so the auto-broadcast
    # threshold and AQE pick the join strategy from their size.
    ids = e.select("vec_id", "label")
    a = ids.select(F.col("vec_id").alias("id_a"), "label")
    b = ids.select(F.col("vec_id").alias("id_b"), "label")
    pairs = (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    nva = nv.select(F.col("vec_id").alias("id_a"), F.col("nv").alias("_nva"))
    nvb = nv.select(F.col("vec_id").alias("id_b"), F.col("nv").alias("_nvb"))
    cos = F.round(dot_col(F.col("_nva"), F.col("_nvb")), 6)
    return (
        pairs.join(nva, "id_a")
        .join(nvb, "id_b")
        .select("label", "id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.2)
    )


# normalize-then-dot, same element order and float ops as the Spark side
_DOT_SELF = dot_sql("embedding", "embedding")
DEDUP_COSINE_SQL = f"""
WITH normed AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> x::DOUBLE / sqrt({_DOT_SELF})) AS nv
  FROM embeddings
)
SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
       round({dot_sql("a.nv", "b.nv")}, 6) AS cosine
FROM normed a
JOIN normed b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({dot_sql("a.nv", "b.nv")}, 6) >= 0.2
"""


# --------------------------------------------------------------------------
def dedup_source_matrix(spark, sf_dir):
    """Cross-source duplication matrix: LSH near-dup candidate pairs
    counted per (source_a, source_b) — which corpus sources duplicate
    each other and how much (the report that decides which overlapping
    source to drop before training).

    Scale: the pair relation is the already-sub-quadratic LSH output;
    two id-keyed joins tag each side's source; the matrix agg output is
    |sources|².  Source pair is canonicalized (least/greatest) so
    (A,B) and (B,A) collapse.
    """
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    d = t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=8, band_size=4, shingle_k=3
    )
    src = d.select("doc_id", "source")
    tagged = (
        pairs.join(
            src.select(F.col("doc_id").alias("id_a"),
                       F.col("source").alias("_sa")),
            "id_a",
        )
        .join(
            src.select(F.col("doc_id").alias("id_b"),
                       F.col("source").alias("_sb")),
            "id_b",
        )
    )
    return (
        tagged.groupBy(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# the banding CTE chain is shared with every LSH oracle (single source
# of the banding constants — see textq._BANDED_CTE_SQL)
from rick_and_morty_data_pipeline_project_spark.queries.textq import (  # noqa: E402
    _BANDED_CTE_SQL,
)

SOURCE_MATRIX_SQL = f"""
WITH {_BANDED_CTE_SQL},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
),
tagged AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM pairs p
  JOIN documents da ON da.doc_id = p.id_a
  JOIN documents db ON db.doc_id = p.id_b
)
SELECT source_a, source_b, count(*) AS n_pairs
FROM tagged GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
def knn_degree_stats(spark, sf_dir):
    """Similarity-graph degree distribution: per neighbor-count bucket,
    how many vectors have that many cosine-similar (≥ 0.2, same-label
    block) neighbors.  The shape check before density-based pruning —
    a heavy-tailed degree histogram means a few hub vectors dominate
    the near-dup graph.

    Scale: reuses the blocked cosine pair relation; degree agg keys on
    vec_id (high cardinality), the histogram agg on the small degree
    domain.  Vectors with NO neighbor appear as degree 0 via the
    anti-join complement.
    """
    pairs = dedup_embedding_cosine(spark, sf_dir)
    e = t(spark, sf_dir, "embeddings").select("vec_id")
    # explode both endpoints from ONE evaluation of the pair relation —
    # a unionAll of two selects puts the quadratic cosine join in two
    # plan branches and executes it twice (no exchange reuse)
    deg = (
        pairs.select(
            F.explode(F.array("id_a", "id_b")).alias("vec_id")
        )
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    all_deg = e.join(deg, "vec_id", "left").select(
        "vec_id", F.coalesce("degree", F.lit(0)).alias("degree")
    )
    return all_deg.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )


DEGREE_STATS_SQL = f"""
WITH normed AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> x::DOUBLE / sqrt({_DOT_SELF})) AS nv
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM normed a
  JOIN normed b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round({dot_sql("a.nv", "b.nv")}, 6) >= 0.2
),
deg AS (
  SELECT vec_id, count(*) AS degree FROM (
    SELECT id_a AS vec_id FROM pairs
    UNION ALL
    SELECT id_b AS vec_id FROM pairs
  ) GROUP BY 1
)
SELECT COALESCE(d.degree, 0) AS degree, count(*) AS n_vectors
FROM embeddings e LEFT JOIN deg d USING (vec_id)
GROUP BY 1
"""


# --------------------------------------------------------------------------
def events_gap_fill(spark, sf_dir):
    """Dense hourly time spine per user (gap filling): sequence() +
    explode builds each user's [first, last] hour range, left-joins the
    actual hourly counts, zero-fills the gaps.  The spine explode is
    narrow and its size is (users × span-hours) — independent of event
    count, so at 100 TB the spine is orders of magnitude smaller than
    the fact table; both joins shuffle on user_id+hour."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = e.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("h"),
    )
    return spine.join(hourly, ["user_id", "h"], "left").select(
        "user_id",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
    )


GAP_FILL_SQL = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS n
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT user_id, date_trunc('hour', min(ts)) AS h0,
         date_trunc('hour', max(ts)) AS h1
  FROM events GROUP BY 1
),
spine AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
  FROM bounds
)
SELECT s.user_id, strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour,
       coalesce(n.n, 0) AS n_events
FROM spine s LEFT JOIN hourly n ON s.user_id = n.user_id AND s.h = n.h
"""


# --------------------------------------------------------------------------
def dedup_semantic_clusters(spark, sf_dir):
    """Semantic near-dup CLUSTERS: the embedding-cosine candidate pairs
    fed through min-label connected components — the same pairs→keeper
    step as `dedup_minhash_clusters`, over the semantic (embedding)
    signal instead of the lexical (MinHash) one."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        connected_components,
    )

    pairs = dedup_embedding_cosine(spark, sf_dir)
    return connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("vec_id"), "cluster_id"
    )


SEMANTIC_CLUSTERS_SQL = f"""
WITH RECURSIVE normed AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> x::DOUBLE / sqrt({_DOT_SELF})) AS nv
  FROM embeddings
),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM normed a
  JOIN normed b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round({dot_sql("a.nv", "b.nv")}, 6) >= 0.2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION
  SELECT id_b AS src, id_a AS dst FROM cand
),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS vec_id, min(label) AS cluster_id FROM reach GROUP BY 1
"""


# --------------------------------------------------------------------------
def array_functions(spark, sf_dir):
    """Array surface: split/slice/sort/distinct/contains/join/size."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.array_join(F.slice(toks, 1, 5), "-").alias("first5"),
        F.array_join(F.sort_array(F.array_distinct(toks)), ",").alias(
            "sorted_vocab"
        ),
        F.array_contains(toks, "spark").cast("int").alias("mentions_spark"),
        F.element_at(toks, -1).alias("last_tok"),
    )


ARRAY_FN_SQL = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_toks,
       array_to_string(string_split(text, ' ')[1:5], '-') AS first5,
       array_to_string(list_sort(list_distinct(string_split(text, ' '))), ',') AS sorted_vocab,
       CASE WHEN list_contains(string_split(text, ' '), 'spark') THEN 1 ELSE 0 END AS mentions_spark,
       string_split(text, ' ')[-1] AS last_tok
FROM documents
"""


# --------------------------------------------------------------------------
def agg_macro_avg_rounded(spark, sf_dir):
    """Macro-average of a float column (AGG-1's literal shape): avg of
    per-doc happy ratios per lang, rounded to absorb summation-order
    float noise between engines."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    happy = F.size(F.filter(toks, lambda x: x.isin(["customer", "line"]))) / F.size(
        toks
    )
    return (
        d.select("lang", happy.alias("h"))
        .groupBy("lang")
        .agg(F.round(F.avg("h"), 9).alias("happy_macro_avg"))
    )


AGG_MACRO_SQL = """
SELECT lang,
       round(AVG(len(list_filter(string_split(text, ' '), t -> t IN ('customer', 'line')))
                 / len(string_split(text, ' '))), 9) AS happy_macro_avg
FROM documents
GROUP BY lang
"""


# --------------------------------------------------------------------------
# As-of join: for each error event, the same user's most recent click at
# or before it.  Implemented with the union + carry-forward pattern (ONE
# shuffle on user_id, no inequality join): tag both sides, sort by
# (ts, click-first), and last(ignorenulls) carries the click forward.
# Oracle: DuckDB's native ASOF LEFT JOIN.
def join_asof_click_error(spark, sf_dir):
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("_is_click"),
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("long").alias("event_id"),
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.lit(0).alias("_is_click"),
        F.lit(None).cast("long").alias("click_id"),
        "event_id",
    )
    # click_id desc as the third key makes the carried click
    # deterministic when a user has two clicks at the identical ts
    # (ADVICE r1); the oracle mirrors the same tiebreak via LATERAL.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.desc("_is_click"), F.desc("click_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = (
        clicks.unionByName(errors)
        .withColumn("last_click_id", F.last("click_id", ignorenulls=True).over(w))
        .withColumn(
            "last_click_ts",
            F.last(
                F.when(F.col("_is_click") == 1, F.col("ts")), ignorenulls=True
            ).over(w),
        )
    )
    return carried.filter(F.col("_is_click") == 0).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "last_click_id",
        F.unix_micros("last_click_ts").alias("last_click_ts_us"),
    )


JOIN_ASOF_SQL = """
WITH clicks AS (SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'),
errors AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error')
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
       c.click_id AS last_click_id, epoch_us(c.ts) AS last_click_ts_us
FROM errors e
LEFT JOIN LATERAL (
  SELECT click_id, ts FROM clicks c
  WHERE c.user_id = e.user_id AND c.ts <= e.ts
  ORDER BY c.ts DESC, c.click_id DESC
  LIMIT 1
) c ON TRUE
"""


# --------------------------------------------------------------------------
# Batch sessionization (gaps-and-islands): a session breaks after 30 min
# of inactivity.  One shuffle on user_id; both window passes reuse the
# same partitioning.
SESSION_GAP_US = 30 * 60 * 1_000_000


def sessionize_events(spark, sf_dir):
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    s = e.withColumn(
        "_new",
        F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0),
    ).withColumn(
        "session_seq",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return s.groupBy("user_id", "session_seq").agg(
        F.unix_micros(F.min("ts")).alias("session_start_us"),
        F.unix_micros(F.max("ts")).alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value", 18, 6)).cast("double").alias("sum_value"),
    )


SESSIONIZE_SQL = f"""
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM g
)
SELECT user_id, session_seq,
       epoch_us(MIN(ts)) AS session_start_us,
       epoch_us(MAX(ts)) AS session_end_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM s
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Subquery surface: correlated scalar subquery (Catalyst decorrelates to
# an aggregate + join) and EXISTS (planned as a semi join).  Same ANSI
# text runs on both engines.
# (exact decimal sums ÷ count, not AVG(double): partial-agg order
# differs between engines, the decimal sum does not — Q1's pattern)
_NATION_AVG = (
    "CAST(SUM(CAST({a}.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)"
)
SUBQUERY_SQL = f"""
SELECT c.c_custkey,
       CAST(c.c_acctbal AS DOUBLE) AS acctbal,
       round((SELECT {_NATION_AVG.format(a="c2")} FROM customer c2
              WHERE c2.c_nationkey = c.c_nationkey), 6) AS nation_avg_acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
  AND c.c_acctbal > (SELECT {_NATION_AVG.format(a="c3")} FROM customer c3
                     WHERE c3.c_nationkey = c.c_nationkey)
"""


def subquery_scalar_exists(spark, sf_dir):
    from rick_and_morty_data_pipeline_project_spark.sources.corpus import (
        register_views,
    )

    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(SUBQUERY_SQL)


def join_salted_user_events(spark, sf_dir):
    """Skew-safe equi-join exemplar: ``salted_join`` splits each hot key
    across ``n_salts`` sub-partitions (replicating the build side) so a
    single hot user cannot serialize one reducer.  The salt is an
    engine-side detail — the result equals the plain join, so the
    oracle is the plain SQL join.  Aggregates are count/min/max only
    (order-independent under any salting/parallelism)."""
    from rick_and_morty_data_pipeline_project_spark.operators.skew import (
        salted_join,
    )

    e = t(spark, sf_dir, "events").select("user_id", "event_id")
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    return (
        salted_join(e, c, "user_id", n_salts=8, how="inner")
        .groupBy("user_id", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
        )
    )


JOIN_SALTED_SQL = """
SELECT e.user_id, c.c_name,
       count(*) AS n_events,
       min(e.event_id) AS first_event_id,
       max(e.event_id) AS last_event_id
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def events_sliding_rollup(spark, sf_dir):
    """Overlapping (sliding) time-window aggregation: 1-hour windows
    sliding every 30 minutes, so each event lands in exactly two
    windows.  ``F.window(ts, w, s)`` is the §2.8 batch twin of the
    streaming windowed rollup — the assignment is a narrow generate
    (each row expands to w/s window rows), the aggregation one
    map-combinable shuffle keyed (window, event_type).  The oracle
    reproduces Spark's epoch-aligned window starts with
    ``time_bucket`` (any :00/:30-aligned origin is equivalent for a
    30-minute slide)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value", 18, 6)).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


EVENTS_SLIDING_SQL = """
WITH assigned AS (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws,
         event_type, value
  FROM events
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM assigned
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
def events_mad_outliers(spark, sf_dir):
    """Robust per-user anomaly detection: flag events whose value sits
    more than 3 MADs from the user's MEDIAN (median absolute
    deviation) — the heavy-tail-safe twin of events_zscore_outliers
    (mean/stddev blow up under exactly the outliers you're hunting;
    median/MAD don't).

    Float parity: Spark's interpolating ``percentile`` and DuckDB's
    ``quantile_cont`` share the (lower + frac·(upper−lower)) formula
    over identical doubles; the robust score is rounded at 6.  Scale:
    two aggregations and the flag join all shuffle on the same
    high-cardinality user key — one partitioning reused end-to-end,
    nothing corpus-global.
    """
    e = t(spark, sf_dir, "events").select("user_id", "event_id", "value")
    med = e.groupBy("user_id").agg(
        F.percentile("value", 0.5).alias("med")
    )
    mad = (
        e.join(med, "user_id")
        .groupBy("user_id")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias(
                "mad"
            ),
            F.first("med").alias("med"),
        )
    )
    return (
        e.join(mad, "user_id")
        .filter(
            (F.col("mad") > 0)
            & (F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"))
        )
        .select(
            "user_id",
            "event_id",
            "value",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            F.round(
                F.abs(F.col("value") - F.col("med")) / F.col("mad"), 6
            ).alias("robust_score"),
        )
    )


EVENTS_MAD_SQL = """
WITH med AS (
  SELECT user_id, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY user_id
),
mad AS (
  SELECT e.user_id, quantile_cont(abs(e.value - m.med), 0.5) AS mad,
         any_value(m.med) AS med
  FROM events e JOIN med m USING (user_id)
  GROUP BY e.user_id
)
SELECT e.user_id, e.event_id, e.value,
       round(m.med, 6) AS med, round(m.mad, 6) AS mad,
       round(abs(e.value - m.med) / m.mad, 6) AS robust_score
FROM events e JOIN mad m USING (user_id)
WHERE m.mad > 0 AND abs(e.value - m.med) > 3 * m.mad
"""


def customer_abc_pareto(spark, sf_dir):
    """Pareto / ABC classification of customers by revenue share: rank
    customers by total order value, take the running share of the
    grand total, and class A (first 80% of revenue), B (to 95%), C
    (tail) — the classic 80/20 segmentation every BI stack ships.

    Scale: the window runs over the per-customer AGGREGATE (one row
    per customer), never the order fact table; the grand total is a
    scalar broadcast.  Decimal sums keep the shares exactly
    reproducible; the cumulative share is rounded at 9 before
    classification so both engines bucket identically.
    """
    o = t(spark, sf_dir, "orders")
    # decimal accumulators end-to-end: group sums, the running sum, and
    # the grand total are all EXACT, so the share is a division of
    # identical doubles in both engines under any parallelism
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice", 18, 2)).alias("rev_dec")
    )
    from pyspark.sql.window import Window as W

    total = per_cust.agg(F.sum("rev_dec").alias("t_dec"))
    w = W.orderBy(F.desc("rev_dec"), F.asc("o_custkey")).rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = per_cust.crossJoin(F.broadcast(total)).select(
        F.col("o_custkey").alias("custkey"),
        F.col("rev_dec").cast("double").alias("revenue"),
        F.round(
            F.sum("rev_dec").over(w).cast("double")
            / F.col("t_dec").cast("double"),
            9,
        ).alias("cum_share"),
    )
    abc = (
        F.when(F.col("cum_share") <= 0.80, F.lit("A"))
        .when(F.col("cum_share") <= 0.95, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return cum.select("custkey", "revenue", "cum_share", abc.alias("abc"))


CUSTOMER_ABC_SQL = """
WITH per_cust AS (
  SELECT o_custkey AS custkey,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
  FROM orders GROUP BY o_custkey
),
cum AS (
  SELECT custkey, CAST(rev_dec AS DOUBLE) AS revenue,
         round(CAST(SUM(rev_dec) OVER (ORDER BY rev_dec DESC, custkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / CAST(SUM(rev_dec) OVER () AS DOUBLE), 9) AS cum_share
  FROM per_cust
)
SELECT custkey, revenue, cum_share,
       CASE WHEN cum_share <= 0.80 THEN 'A'
            WHEN cum_share <= 0.95 THEN 'B'
            ELSE 'C' END AS abc
FROM cum
"""


def events_zscore_outliers(spark, sf_dir):
    """Rolling per-user anomaly detection: flag an event whose value
    deviates > 2 sample standard deviations from that user's preceding
    20 events.  The classic streaming-monitoring shape expressed as a
    bounded ROWS window.

    Float parity: the window sums run in DECIMAL (value has 2 decimals,
    so sums and sums-of-squares are exact); mean/var/z are then computed
    from those exact sums with an identical double expression tree in
    both engines, and sqrt is IEEE-correctly-rounded everywhere.  The
    frame is bounded (20 rows) so the decimal accumulators cannot
    overflow at any corpus size.

    Scale: one shuffle on user_id (high cardinality), bounded per-row
    state — this is the plan a 1000-executor cluster wants; nothing is
    corpus-global.
    """
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    v = dec("value", 18, 6)
    n = F.count(F.lit(1)).over(w).cast("double")
    s = F.sum(v).over(w).cast("double")
    s2 = F.sum(v * v).over(w).cast("double")
    mean = s / n
    var = (s2 - (s * s) / n) / (n - 1)
    z = (F.col("value") - mean) / F.sqrt(var)
    scored = e.select(
        "event_id",
        "user_id",
        "value",
        n.cast("long").alias("n_prev"),
        F.round(mean, 6).alias("prev_mean"),
        var.alias("_var"),
        z.alias("_z"),
    )
    return (
        scored.filter(
            (F.col("n_prev") >= 10) & (F.col("_var") > 0) & (F.abs("_z") > 2)
        )
        .select(
            "event_id",
            "user_id",
            "value",
            "n_prev",
            "prev_mean",
            F.round("_z", 6).alias("zscore"),
        )
    )


ZSCORE_SQL = """
WITH scored AS (
  SELECT event_id, user_id, value,
         CAST(count(*) OVER w AS DOUBLE) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s,
         CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
              OVER w AS DOUBLE) AS s2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
),
zs AS (
  SELECT event_id, user_id, value, CAST(n AS BIGINT) AS n_prev,
         round(s / n, 6) AS prev_mean,
         (s2 - (s * s) / n) / (n - 1) AS var,
         (value - s / n) / sqrt((s2 - (s * s) / n) / (n - 1)) AS z
  FROM scored
)
SELECT event_id, user_id, value, n_prev, prev_mean, round(z, 6) AS zscore
FROM zs
WHERE n_prev >= 10 AND var > 0 AND abs(z) > 2
"""


# --------------------------------------------------------------------------
def scalar_bit_interleave(spark, sf_dir):
    """Morton (Z-order) key computation — the scalar heart of the
    multi-column clustering layout (operators/zorder.py; pruning
    demonstrated in tests/test_sinks_catalog.py): interleave the low 16
    bits of (c_custkey, c_nationkey) with plain shift/mask/multiply —
    codegen-friendly, engine-portable, exactly reproduced by the DuckDB
    oracle.  Narrow (no shuffle); at 100 TB this is the map expression
    feeding a range-repartitioned clustered write."""
    from rick_and_morty_data_pipeline_project_spark.operators.zorder import (
        morton_col,
    )

    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        "c_nationkey",
        morton_col(F.col("c_custkey"), F.col("c_nationkey"), 16).alias(
            "zorder_key"
        ),
    )


def _morton_terms_sql(a: str, b: str, bits: int = 16) -> str:
    from rick_and_morty_data_pipeline_project_spark.operators.zorder import (
        morton_sql,
    )

    return morton_sql(a, b, bits)


BIT_INTERLEAVE_SQL = f"""
SELECT c_custkey, c_nationkey,
       CAST({_morton_terms_sql("c_custkey", "c_nationkey", 16)} AS BIGINT)
         AS zorder_key
FROM customer
"""


# --------------------------------------------------------------------------
def view_click_attribution(spark, sf_dir):
    """Windowed view→click attribution: every (view, click) pair by the
    same user with the click 0–10 minutes after the view — the ALL-pairs
    complement of ``join_asof_click_error``'s nearest-match semantics,
    and the batch twin of the watermarked stream-stream join
    (``streaming/joins.view_click_attribution_stream``; equivalence
    tested in tests/test_streaming.py).

    Scale: equi-key (user_id) join with a range residual — one shuffle
    per side on the high-cardinality user key; per-key work is bounded
    by views×clicks within a user's window, never a cross product.

    ONE definition serves both modes: this delegates to the streaming
    builder (``withWatermark`` is a no-op on a batch DataFrame), so the
    join condition / latency arithmetic can never drift between the
    batch twin and the stream.
    """
    from rick_and_morty_data_pipeline_project_spark.streaming.joins import (
        view_click_attribution_stream,
    )

    return view_click_attribution_stream(t(spark, sf_dir, "events"))


VIEW_CLICK_SQL = """
SELECT v.user_id,
       v.event_id AS view_id,
       c.event_id AS click_id,
       round(CAST(epoch_us(c.ts) - epoch_us(v.ts) AS DOUBLE) / 1000000, 6)
         AS latency_s
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL 10 MINUTE
WHERE v.event_type = 'view' AND c.event_type = 'click'
"""


# --------------------------------------------------------------------------
def _rfm_segments(spark, sf_dir, pctl):
    o = t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("_last"),
        F.count(F.lit(1)).cast("double").alias("frequency"),
        F.sum(dec("o_totalprice")).cast("double").alias("monetary"),
    )
    glob = per_cust.agg(F.max("_last").alias("_gmax"))
    rfm = per_cust.crossJoin(F.broadcast(glob)).select(
        "o_custkey",
        F.datediff("_gmax", "_last").cast("double").alias("recency_days"),
        "frequency",
        "monetary",
    )
    th = rfm.agg(
        *[
            pctl(F.col(c), q).alias(f"_{c}_{int(q * 100)}")
            for c in ("recency_days", "frequency", "monetary")
            for q in (0.25, 0.5, 0.75)
        ]
    )

    def bucket(c: str):
        return (
            F.lit(1)
            + (F.col(c) > F.col(f"_{c}_25")).cast("int")
            + (F.col(c) > F.col(f"_{c}_50")).cast("int")
            + (F.col(c) > F.col(f"_{c}_75")).cast("int")
        )

    return rfm.crossJoin(F.broadcast(th)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        bucket("recency_days").alias("r_bucket"),
        bucket("frequency").alias("f_bucket"),
        bucket("monetary").alias("m_bucket"),
    )


def customer_rfm_segments(spark, sf_dir):
    """RFM (recency / frequency / monetary) customer segmentation with
    quartile scores — WITHOUT a global ntile window.  A naive RFM ranks
    all customers in one unpartitioned window (single-task sort of the
    whole customer base); instead the quartile thresholds come from one
    exact-percentile aggregate (9 scalars), broadcast back, and each
    customer is scored by a narrow CASE — the corpus is shuffled once
    (per-customer agg) and never globally sorted.

    Buckets are by value ascending (recency_bucket 4 = longest ago);
    interpretation is the caller's.
    """
    return _rfm_segments(spark, sf_dir, F.percentile)


def customer_rfm_segments_approx(spark, sf_dir):
    """The 100 TB form of :func:`customer_rfm_segments`: the nine
    quartile thresholds come from one ``percentile_approx`` sketch
    aggregate (accuracy 10000) — fixed-size state per partition however
    large the customer base.  Bucket edges can shift by at most the
    sketch rank error; tests/test_approx.py bounds the fraction of
    customers whose bucket assignment differs from the exact twin.
    Rows-only (sketch internals are engine-specific)."""
    return _rfm_segments(spark, sf_dir, approx_pctl)


RFM_SQL = """
WITH per_cust AS (
  SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_order,
         CAST(count(*) AS DOUBLE) AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY 1
),
gmx AS (SELECT max(last_order) AS gmax FROM per_cust),
rfm AS (
  SELECT o_custkey,
         CAST(datediff('day', last_order, gmax) AS DOUBLE) AS recency_days,
         frequency, monetary
  FROM per_cust CROSS JOIN gmx
),
th AS (
  SELECT quantile_cont(recency_days, 0.25) AS r25, quantile_cont(recency_days, 0.5) AS r50, quantile_cont(recency_days, 0.75) AS r75,
         quantile_cont(frequency, 0.25) AS f25, quantile_cont(frequency, 0.5) AS f50, quantile_cont(frequency, 0.75) AS f75,
         quantile_cont(monetary, 0.25) AS m25, quantile_cont(monetary, 0.5) AS m50, quantile_cont(monetary, 0.75) AS m75
  FROM rfm
)
SELECT o_custkey, recency_days, frequency, monetary,
       1 + CAST(recency_days > r25 AS INT) + CAST(recency_days > r50 AS INT) + CAST(recency_days > r75 AS INT) AS r_bucket,
       1 + CAST(frequency > f25 AS INT) + CAST(frequency > f50 AS INT) + CAST(frequency > f75 AS INT) AS f_bucket,
       1 + CAST(monetary > m25 AS INT) + CAST(monetary > m50 AS INT) + CAST(monetary > m75 AS INT) AS m_bucket
FROM rfm CROSS JOIN th
"""


def customer_rfm_segments_approx_audit(spark, sf_dir):
    """Driver-checkable contract of the rows-only
    :func:`customer_rfm_segments_approx`: one row per (metric,
    quantile) — all nine sketch thresholds the approx RFM uses — with
    the exact customer count (DuckDB hash-verified) and a
    Spark-computed ``rank_ok`` boolean the oracle pins TRUE: the value
    ``percentile_approx(accuracy=10000)`` returned for that quantile
    occupies a rank interval overlapping the target rank ± the
    documented n/accuracy window over the per-customer RFM relation.
    Any broken threshold (wrong column, wrong quantile, sketch
    regression) flips its own labelled row red in the driver compare.

    Scale: the per-customer aggregate and the one 9-scalar sketch
    aggregate are the production plan; the audit adds one broadcast of
    those 9 scalars back onto the per-customer relation and one 18-sum
    aggregate — bounded by |customers|, audit-only.
    """
    o = t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("_last"),
        F.count(F.lit(1)).cast("double").alias("frequency"),
        F.sum(dec("o_totalprice")).cast("double").alias("monetary"),
    )
    glob = per_cust.agg(F.max("_last").alias("_gmax"))
    rfm = per_cust.crossJoin(F.broadcast(glob)).select(
        F.datediff("_gmax", "_last").cast("double").alias("recency_days"),
        "frequency",
        "monetary",
    )
    metrics = ("recency_days", "frequency", "monetary")
    quantiles = (0.25, 0.5, 0.75)
    th = rfm.agg(
        *[
            approx_pctl(F.col(c), q).alias(f"_{c}_{int(q * 100)}")
            for c in metrics
            for q in quantiles
        ]
    )
    counts = rfm.crossJoin(F.broadcast(th)).agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(
                (F.col(c) <= F.col(f"_{c}_{int(q * 100)}")).cast("long")
            ).alias(f"_le_{c}_{int(q * 100)}")
            for c in metrics
            for q in quantiles
        ],
        *[
            F.sum(
                (F.col(c) < F.col(f"_{c}_{int(q * 100)}")).cast("long")
            ).alias(f"_lt_{c}_{int(q * 100)}")
            for c in metrics
            for q in quantiles
        ],
    )
    n = F.col("_n")
    tol = n / F.lit(float(APPROX_PCTL_ACCURACY)) + F.lit(1.0)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("metric"),
                F.lit(q).alias("q"),
                n.alias("n_customers"),
                (
                    (
                        F.col(f"_le_{c}_{int(q * 100)}")
                        >= F.floor(n * F.lit(q)) - tol
                    )
                    & (
                        F.col(f"_lt_{c}_{int(q * 100)}")
                        <= F.ceil(n * F.lit(q)) + tol
                    )
                ).alias("rank_ok"),
            )
            for c in metrics
            for q in quantiles
        ]
    )
    return counts.select(F.explode(rows).alias("_r")).select("_r.*")


RFM_AUDIT_SQL = """
WITH n AS (
  SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
  FROM orders
)
SELECT m.metric, m.q, n.n_customers, TRUE AS rank_ok
FROM n CROSS JOIN (
  VALUES ('recency_days', 0.25), ('recency_days', 0.5), ('recency_days', 0.75),
         ('frequency', 0.25), ('frequency', 0.5), ('frequency', 0.75),
         ('monetary', 0.25), ('monetary', 0.5), ('monetary', 0.75)
) AS m(metric, q)
"""


# --------------------------------------------------------------------------
def events_funnel_steps(spark, sf_dir):
    """Ordered conversion funnel view → click → purchase per user: each
    later step must occur at-or-after the user's first completion of
    the previous step.  The product-analytics staple.

    Scale: each stage aggregates a TYPE-FILTERED substream (the filter
    pushes to the scan) keyed on user_id, then joins the previous
    stage's one-row-per-user table — three shuffles of per-user scalars,
    no window over the full event stream, no self-join of raw events.
    """
    e = t(spark, sf_dir, "events")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .join(views, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        views.join(clicks, "user_id", "left")
        .join(purchases, "user_id", "left")
        .select(
            "user_id",
            F.unix_micros("t_view").alias("t_view_us"),
            F.unix_micros("t_click").alias("t_click_us"),
            F.unix_micros("t_purchase").alias("t_purchase_us"),
        )
    )


# --------------------------------------------------------------------------
def events_retention_cohorts(spark, sf_dir):
    """Weekly cohort retention matrix: users grouped by their signup
    week, counted distinct in each subsequent activity week.  Both
    week keys are Monday-truncated, so weeks-since is an exact
    multiple-of-7 day difference.

    Scale: one agg keyed on user_id builds the cohort table, one join
    back on user_id tags each event with its cohort, one distinct-agg
    on (cohort, weeks_since, user) — all high-cardinality shuffle keys;
    the matrix itself is tiny (weeks²).
    """
    e = t(spark, sf_dir, "events")
    signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).cast("date").alias("_cw"))
    )
    act = e.join(signup, "user_id").select(
        "user_id",
        "_cw",
        F.date_trunc("week", F.col("ts")).cast("date").alias("_aw"),
    )
    return (
        act.filter(F.col("_aw") >= F.col("_cw"))
        .select(
            "user_id",
            "_cw",
            (F.datediff("_aw", "_cw") / 7).cast("int").alias("weeks_since"),
        )
        .groupBy("_cw", "weeks_since")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(
            F.date_format("_cw", "yyyy-MM-dd").alias("cohort_week"),
            "weeks_since",
            "n_users",
        )
    )


RETENTION_SQL = """
WITH signup AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cw
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
act AS (
  SELECT e.user_id, s.cw, CAST(date_trunc('week', e.ts) AS DATE) AS aw
  FROM events e JOIN signup s ON e.user_id = s.user_id
)
SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
       CAST(datediff('day', cw, aw) / 7 AS INT) AS weeks_since,
       count(DISTINCT user_id) AS n_users
FROM act
WHERE aw >= cw
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
def basket_part_affinity(spark, sf_dir):
    """Market-basket pair affinity over order line items: for every
    pair of parts co-occurring in ≥ 3 orders, the co-occurrence count
    and lift = P(a,b) / (P(a)·P(b)).

    Scale: the pair space is generated by a self-join on l_orderkey —
    cost Σ_orders |order|², bounded by the per-order line cap (7 in
    TPC-H), never |parts|²; counts are map-side-combinable; the
    per-part marginals and the scalar order count broadcast back onto
    the pair aggregate.  Lift is a ratio of exact integer products —
    bitwise-stable with no rounding.
    """
    li = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pair_n = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("pair_orders"))
        .filter(F.col("pair_orders") >= 3)
    )
    part_n = li.groupBy(F.col("l_partkey")).agg(
        F.count(F.lit(1)).alias("_pn")
    )
    n_orders = li.agg(
        F.count_distinct("l_orderkey").cast("double").alias("_n")
    )
    return (
        pair_n.join(
            F.broadcast(part_n.withColumnRenamed("l_partkey", "part_a")
                        .withColumnRenamed("_pn", "_na")),
            "part_a",
        )
        .join(
            F.broadcast(part_n.withColumnRenamed("l_partkey", "part_b")
                        .withColumnRenamed("_pn", "_nb")),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "pair_orders",
            (
                (F.col("pair_orders") * F.col("_n"))
                / (F.col("_na") * F.col("_nb"))
            ).alias("lift"),
        )
    )


BASKET_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pair_n AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         count(*) AS pair_orders
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 3
),
part_n AS (SELECT l_partkey, count(*) AS pn FROM li GROUP BY 1),
n_orders AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n FROM li)
SELECT p.part_a, p.part_b, p.pair_orders,
       (p.pair_orders * o.n) / (na.pn * nb.pn) AS lift
FROM pair_n p
JOIN part_n na ON na.l_partkey = p.part_a
JOIN part_n nb ON nb.l_partkey = p.part_b
CROSS JOIN n_orders o
"""


# --------------------------------------------------------------------------
def _trade_edges(spark, sf_dir):
    """Undirected customer↔supplier trade graph: one edge per distinct
    (customer, supplier) trading pair, materialized in both directions
    so every node both emits and receives rank."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("cn"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("sn"),
        )
        .distinct()
    )
    return pairs.select(
        F.col("cn").alias("src"), F.col("sn").alias("dst")
    ).unionByName(
        pairs.select(F.col("sn").alias("src"), F.col("cn").alias("dst"))
    )


def graph_pagerank3(spark, sf_dir):
    """Three unrolled PageRank iterations (damping 0.85) over the
    customer↔supplier trade graph — the iterative-algorithm exemplar
    expressed as chained joins, no driver-side loop state.

    Scale: each iteration is one edges⋈ranks shuffle join on the
    high-cardinality node key plus a map-side-combinable sum — the
    textbook distributed PageRank step.  Unrolling keeps the whole
    3-step computation a single Catalyst plan; an open-ended variant
    would loop with ``materialize`` lineage truncation like
    dedup_minhash_clusters.  Ranks are rounded to 6 only at the output
    (group-sum order differs between engines at ~1e-15 relative).
    """
    edges = _trade_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = deg.select("src", F.lit(1.0).alias("r"))
    for _ in range(3):
        contrib = (
            edges.join(ranks, "src")
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("deg")).alias("_in"))
        )
        ranks = contrib.select(
            F.col("dst").alias("src"),
            (F.lit(0.15) + F.lit(0.85) * F.col("_in")).alias("r"),
        )
    return ranks.select(
        F.col("src").alias("node"), F.round("r", 6).alias("rank3")
    )


PAGERANK_SQL = """
WITH pairs AS (
  SELECT DISTINCT 'c' || o_custkey AS cn, 's' || l_suppkey AS sn
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT cn AS src, sn AS dst FROM pairs
  UNION ALL
  SELECT sn AS src, cn AS dst FROM pairs
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
r0 AS (SELECT src, 1.0::DOUBLE AS r FROM deg),
r1 AS (
  SELECT e.dst AS src, 0.15 + 0.85 * sum(r.r / d.deg) AS r
  FROM edges e JOIN r0 r ON e.src = r.src JOIN deg d ON e.src = d.src
  GROUP BY 1
),
r2 AS (
  SELECT e.dst AS src, 0.15 + 0.85 * sum(r.r / d.deg) AS r
  FROM edges e JOIN r1 r ON e.src = r.src JOIN deg d ON e.src = d.src
  GROUP BY 1
),
r3 AS (
  SELECT e.dst AS src, 0.15 + 0.85 * sum(r.r / d.deg) AS r
  FROM edges e JOIN r2 r ON e.src = r.src JOIN deg d ON e.src = d.src
  GROUP BY 1
)
SELECT src AS node, round(r, 6) AS rank3 FROM r3
"""


# --------------------------------------------------------------------------
def profile_table_files(spark, sf_dir):
    """Per-FILE health audit of a parquet table: row count and key
    bounds for every underlying file, keyed on the file's basename
    (``input_file_name()``).  The table-ops primitive behind
    compaction/backfill decisions at 100 TB — a skewed or truncated
    file shows up here before it shows up as a straggler task.  One
    scan, one shuffle on the (small) file-name key; the multi-file
    behavior is pinned in tests/test_sinks_catalog.py over a sharded
    write, and the driver row certifies the input_file_name ↔ DuckDB
    ``filename=true`` parity on the corpus table."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.regexp_extract(
                F.input_file_name(), "([^/]+)$", 1
            ).alias("file")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_orderkey").alias("min_orderkey"),
            F.max("l_orderkey").alias("max_orderkey"),
        )
    )


# The oracle must see FILENAMES, which the harness's pre-registered
# views hide — DuckDB's read_parquet(filename=true) is the only way.
# The path is therefore parameterized on SPARK_GRAFT_ORACLE_SF_DIR
# (captured at import, like the other literal oracles), defaulting to
# the driver's pinned sf0.01 tree; sweep tools running the catalog at
# another SF export the matching dir before importing the entry point
# (tools/driver_sim_sweep.py does).  Deliberately NOT the bench's
# SPARK_GRAFT_SF_DIR: the bench defaults that to sf0.1, and inheriting
# it would point the oracle at the wrong tree during a driver run.
_ORACLE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)
PROFILE_FILES_SQL = f"""
SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
       COUNT(*) AS n_rows,
       MIN(l_orderkey) AS min_orderkey,
       MAX(l_orderkey) AS max_orderkey
FROM read_parquet('{_ORACLE_SF_DIR}/lineitem.parquet', filename=true)
GROUP BY 1
"""


# --------------------------------------------------------------------------
def profile_table_files_fast(spark, sf_dir):
    """`profile_table_files` from FOOTERS ONLY
    (operators/tablestats.parquet_footer_stats): identical per-file
    report — row counts from file metadata, key bounds from row-group
    statistics — without scanning a single data page.  Same DuckDB
    oracle as the scanning audit (the stats must agree with the data,
    which is exactly what the driver row certifies); at 100 TB this is
    ~KB of I/O per file vs the full table."""
    from rick_and_morty_data_pipeline_project_spark.operators.tablestats import (
        parquet_footer_stats,
    )

    return (
        parquet_footer_stats(
            spark, f"{sf_dir}/lineitem.parquet", "l_orderkey"
        )
        # gate-identical semantics: a scanning audit (and its oracle)
        # cannot see zero-row files, so exclude them here; use the
        # operator directly when you WANT empty files surfaced
        .filter(F.col("n_rows") > 0)
        .select(
            "file",
            "n_rows",
            F.col("min_key").alias("min_orderkey"),
            F.col("max_key").alias("max_orderkey"),
        )
    )


# --------------------------------------------------------------------------
def profile_orders_quality(spark, sf_dir):
    """One-pass data-quality profile of the orders table: row count,
    per-column null counts, exact distinct cardinalities, value bounds.
    The "know your table before you pipeline it" audit, computed in a
    single scan / single aggregate (Spark plans the multi-distinct agg
    via expand — still one pass over the data; at 100 TB swap the
    exact distincts for approx_count_distinct and the expand
    disappears)."""
    o = t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("null_custkey"),
        F.sum(F.col("o_orderstatus").isNull().cast("long")).alias(
            "null_status"
        ),
        F.count_distinct("o_custkey").alias("d_custkey"),
        F.count_distinct("o_orderstatus").alias("d_status"),
        F.count_distinct("o_orderpriority").alias("d_priority"),
        F.min(dec("o_totalprice")).cast("double").alias("min_price"),
        F.max(dec("o_totalprice")).cast("double").alias("max_price"),
        F.date_format(
            F.min(F.col("o_orderdate").cast("date")), "yyyy-MM-dd"
        ).alias("min_date"),
        F.date_format(
            F.max(F.col("o_orderdate").cast("date")), "yyyy-MM-dd"
        ).alias("max_date"),
    )


# --------------------------------------------------------------------------
def audit_benford_prices(spark, sf_dir):
    """Benford first-digit audit over order prices — the
    forensic-accounting screen for fabricated or truncated numeric
    columns: naturally-occurring multiplicative amounts follow
    P(d) = log10(1 + 1/d); a synthetic or clipped column deviates.
    Per digit: observed count, Benford-expected count, and the
    chi-square contribution (o−e)²/e — the total is one SUM away, and
    TPC-H-style uniform prices SHOULD fail the test, which is exactly
    what the audit demonstrates (detection, not decoration).

    First digit extraction is arithmetic, not string formatting
    (``floor(p / 10^floor(log10(p)))``) — engines format doubles
    differently but compute identical IEEE log10/floor.

    Scale: one pruned scan, one 9-group aggregate; expected counts are
    per-group closed-form doubles.
    """
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    from pyspark.sql.window import Window

    per = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    n_tot = F.sum("n_obs").over(Window.partitionBy())
    e = n_tot.cast("double") * F.log10(
        F.lit(1.0) + F.lit(1.0) / F.col("digit")
    )
    return per.select(
        "digit",
        "n_obs",
        F.round(e, 6).alias("n_expected"),
        F.round((F.col("n_obs") - e) * (F.col("n_obs") - e) / e, 6).alias(
            "chi2_contrib"
        ),
    )


AUDIT_BENFORD_SQL = """
WITH per AS (
  SELECT CAST(FLOOR(o_totalprice
              / POWER(10.0, FLOOR(LOG10(o_totalprice)))) AS INTEGER)
           AS digit,
         COUNT(*) AS n_obs
  FROM orders WHERE o_totalprice >= 1
  GROUP BY 1
),
tot AS (SELECT per.*, SUM(n_obs) OVER () AS n_tot FROM per)
SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
       ROUND(CAST(n_tot AS DOUBLE) * LOG10(1.0 + 1.0 / digit), 6)
         AS n_expected,
       ROUND((n_obs - CAST(n_tot AS DOUBLE) * LOG10(1.0 + 1.0 / digit))
             * (n_obs - CAST(n_tot AS DOUBLE) * LOG10(1.0 + 1.0 / digit))
             / (CAST(n_tot AS DOUBLE) * LOG10(1.0 + 1.0 / digit)), 6)
         AS chi2_contrib
FROM tot
"""


# --------------------------------------------------------------------------
_KEYGAP_BUCKET = 10000


def audit_table_checksum(spark, sf_dir):
    """Order-insensitive cross-engine TABLE CHECKSUM — the
    migration-validation primitive ("did every row survive the copy?")
    run between any two engines without sorting or shipping rows:
    per-row md5 over a canonical key string, folded with an exact
    order-independent SUM of the first 60 hash bits (decimal(38,0) —
    overflow-free to ~10^18 rows), one row per audited table.

    Canonicalization uses integer keys and enum strings only —
    columns whose text form is identical in every engine by
    construction.  Doubles/timestamps are EXCLUDED deliberately:
    engines disagree on float/temporal print formats, and a checksum
    over ambiguous canon forms silently compares formats, not data
    (the float columns are covered by the decimal-sum parity the rest
    of the catalog enforces).

    Scale: one pruned scan per table, a narrow md5 projection, one
    map-side-combinable global sum each — three scans total, outputs
    three rows; never a sort, never a shuffle wider than the partial
    sums.
    """
    def arm(name, df, cols):
        # NULL canon must match the oracle exactly: concat_ws SKIPS
        # NULL args while DuckDB's '||' chain nulls the whole string
        # (dropping the row from the sum) — coalesce every column to
        # an explicit sentinel on BOTH arms so a NULL in an audited
        # column diverges neither engine silently.
        fp = F.md5(
            F.concat_ws(
                "|",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("<NULL>"))
                    for c in cols
                ],
            )
        )
        v = F.conv(F.substring(fp, 1, 15), 16, 10).cast("decimal(38,0)")
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            # string form: DECIMAL(38) floats through some pandas
            # bridges — canonical digit strings hash identically
            F.sum(v).cast("decimal(38,0)").cast("string").alias(
                "key_checksum"
            ),
        )

    li = arm(
        "lineitem",
        t(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
         "l_returnflag", "l_linestatus"],
    )
    o = arm(
        "orders",
        t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )
    c = arm(
        "customer",
        t(spark, sf_dir, "customer"),
        ["c_custkey", "c_nationkey", "c_mktsegment"],
    )
    return li.unionByName(o).unionByName(c)


AUDIT_CHECKSUM_SQL = """
SELECT 'lineitem' AS table_name, count(*) AS n_rows,
       CAST(sum(CAST(CAST('0x' || substring(
         md5(COALESCE(CAST(l_orderkey AS VARCHAR), '<NULL>')
             || '|' || COALESCE(CAST(l_linenumber AS VARCHAR), '<NULL>')
             || '|' || COALESCE(CAST(l_partkey AS VARCHAR), '<NULL>')
             || '|' || COALESCE(CAST(l_suppkey AS VARCHAR), '<NULL>')
             || '|' || COALESCE(l_returnflag, '<NULL>')
             || '|' || COALESCE(l_linestatus, '<NULL>')), 1, 15) AS BIGINT)
         AS DECIMAL(38,0))) AS VARCHAR) AS key_checksum
FROM lineitem
UNION ALL
SELECT 'orders', count(*),
       CAST(sum(CAST(CAST('0x' || substring(
         md5(COALESCE(CAST(o_orderkey AS VARCHAR), '<NULL>')
             || '|' || COALESCE(CAST(o_custkey AS VARCHAR), '<NULL>')
             || '|' || COALESCE(o_orderstatus, '<NULL>')
             || '|' || COALESCE(o_orderpriority, '<NULL>')), 1, 15) AS BIGINT)
         AS DECIMAL(38,0))) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'customer', count(*),
       CAST(sum(CAST(CAST('0x' || substring(
         md5(COALESCE(CAST(c_custkey AS VARCHAR), '<NULL>')
             || '|' || COALESCE(CAST(c_nationkey AS VARCHAR), '<NULL>')
             || '|' || COALESCE(c_mktsegment, '<NULL>')), 1, 15) AS BIGINT)
         AS DECIMAL(38,0))) AS VARCHAR)
FROM customer
"""


def audit_key_gaps(spark, sf_dir):
    """Key-space completeness audit over orders — "did we lose a
    batch": per 10k-key bucket, the key bounds, row count, the number
    of keys MISSING inside the bucket's own [min, max] span, and the
    gap to the previous non-empty bucket.  A lost ingest batch shows
    up as either a large ``missing_within`` or a positive
    ``gap_before`` long before a full-table sort would find it.

    Scale: the classic gaps-and-islands window (key − row_number) needs
    a GLOBAL sort — a single-partition window over the whole fact
    table.  This form gets the same evidence from one bucket-keyed
    aggregate (narrow ``DIV`` bucketing, map-side combinable) plus a
    lag window over the BUCKET relation, which has |keyspace|/10k rows
    at any table size.  Distinct counts are exact within buckets
    (bounded domain).
    """
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders").select("o_orderkey")
    per = (
        o.groupBy(
            F.expr(f"o_orderkey DIV {_KEYGAP_BUCKET}").alias("bucket")
        )
        .agg(
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            F.count_distinct("o_orderkey").alias("n_keys"),
        )
        .select(
            "bucket",
            "min_key",
            "max_key",
            "n_keys",
            (
                F.col("max_key") - F.col("min_key") + 1 - F.col("n_keys")
            ).alias("missing_within"),
        )
    )
    w = Window.orderBy("bucket")
    return per.select(
        "bucket",
        "min_key",
        "max_key",
        "n_keys",
        "missing_within",
        F.coalesce(
            F.col("min_key") - F.lag("max_key").over(w) - 1, F.lit(0)
        ).alias("gap_before"),
    )


AUDIT_KEY_GAPS_SQL = f"""
WITH per AS (
  SELECT o_orderkey // {_KEYGAP_BUCKET} AS bucket,
         MIN(o_orderkey) AS min_key,
         MAX(o_orderkey) AS max_key,
         COUNT(DISTINCT o_orderkey) AS n_keys
  FROM orders GROUP BY 1
)
SELECT bucket, min_key, max_key, n_keys,
       max_key - min_key + 1 - n_keys AS missing_within,
       COALESCE(min_key - LAG(max_key) OVER (ORDER BY bucket) - 1, 0)
         AS gap_before
FROM per
"""


# --------------------------------------------------------------------------
def events_ab_proportion_z(spark, sf_dir):
    """Two-sample proportion z-test — the canonical A/B experiment
    readout: users split into arms by the deterministic assignment
    hash (``user_id % 2``), success = the user logged more purchases
    than errors (the raw "ever purchased" rate saturates at 1.0 in
    this corpus — a success metric needs variance); report
    per-arm (n, conversions, rate) plus the pooled-variance z
    statistic.  |z| > 1.96 rejects equal conversion at α = 0.05 —
    here the split is a hash of a uniform corpus, so z ≈ 0 is itself
    the A/A-test sanity check an experimentation pipeline runs before
    trusting its assignment plumbing.

    Scale: one type-pruned scan, one user-keyed aggregate (the
    per-user success bit), then a 2-row arm aggregate and closed-form
    doubles — the statistic costs one shuffle at any corpus size.

    Float parity: n and x are exact counts; rates, the pooled
    variance, and z divide/sqrt the identical exact doubles in both
    engines; round 6 on the emitted floats.
    """
    ev = t(spark, sf_dir, "events").select("user_id", "event_type")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            (
                F.count(F.when(F.col("event_type") == "purchase", 1))
                > F.count(F.when(F.col("event_type") == "error", 1))
            )
            .cast("int")
            .alias("_conv")
        )
        .select((F.col("user_id") % 2).alias("arm"), "_conv")
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("_conv").alias("n_conversions"),
    )
    from pyspark.sql.window import Window

    w_all = Window.partitionBy()
    wide = arms.select(
        "arm",
        "n_users",
        "n_conversions",
        F.round(
            F.col("n_conversions").cast("double") / F.col("n_users"), 6
        ).alias("rate"),
        F.sum("n_users").over(w_all).alias("_n_tot"),
        F.sum("n_conversions").over(w_all).alias("_x_tot"),
        (F.sum("n_users").over(w_all) - F.col("n_users")).alias("_n_o"),
        (F.sum("n_conversions").over(w_all) - F.col("n_conversions")).alias(
            "_x_o"
        ),
    )
    p_pool = F.col("_x_tot").cast("double") / F.col("_n_tot")
    diff = (
        F.col("n_conversions").cast("double") / F.col("n_users")
        - F.col("_x_o").cast("double") / F.col("_n_o")
    )
    se = F.sqrt(
        p_pool
        * (F.lit(1.0) - p_pool)
        * (
            F.lit(1.0) / F.col("n_users")
            + F.lit(1.0) / F.col("_n_o")
        )
    )
    return wide.select(
        "arm",
        "n_users",
        "n_conversions",
        "rate",
        # se = 0 iff the pooled rate is 0 or 1 (degenerate metric) —
        # NULL then, in both engines (ANSI Spark would raise on /0)
        F.when(se > 0, F.round(diff / se, 6)).alias("z_vs_other"),
    )


EVENTS_AB_Z_SQL = """
WITH per_user AS (
  SELECT user_id % 2 AS arm,
         CASE WHEN COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                 > COUNT(CASE WHEN event_type = 'error' THEN 1 END)
              THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
),
arms AS (
  SELECT arm, COUNT(*) AS n_users, SUM(conv) AS n_conversions
  FROM per_user GROUP BY arm
),
wide AS (
  SELECT arm, n_users, n_conversions,
         SUM(n_users) OVER () AS n_tot,
         SUM(n_conversions) OVER () AS x_tot,
         SUM(n_users) OVER () - n_users AS n_o,
         SUM(n_conversions) OVER () - n_conversions AS x_o
  FROM arms
)
SELECT arm,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(n_conversions AS BIGINT) AS n_conversions,
       ROUND(CAST(n_conversions AS DOUBLE) / n_users, 6) AS rate,
       CASE WHEN x_tot > 0 AND x_tot < n_tot THEN
         ROUND(
           (CAST(n_conversions AS DOUBLE) / n_users
            - CAST(x_o AS DOUBLE) / n_o)
           / SQRT((CAST(x_tot AS DOUBLE) / n_tot)
                  * (1.0 - CAST(x_tot AS DOUBLE) / n_tot)
                  * (1.0 / n_users + 1.0 / n_o)), 6) END AS z_vs_other
FROM wide
"""


# --------------------------------------------------------------------------
_KM_CENSOR_DATE = "2024-01-31"  # corpus horizon (events span 2024-01-*)


def events_survival_km(spark, sf_dir):
    """Kaplan-Meier survival curve for time-to-conversion: per user,
    duration in DAYS from first ``signup`` to first subsequent
    ``purchase``; users who never convert are right-CENSORED at the
    corpus horizon — the estimator product-limits over the risk set so
    censored users contribute exactly the days they were observed,
    which a naive "average days to convert over converters" silently
    gets wrong (it drops the slowest cohort entirely).

    Per duration day t: conversions d_t, censorings c_t, risk set
    n_t = total − Σ_{j<t}(d_j + c_j), and the survival estimate
    S(t) = Π_{j≤t} (1 − d_j/n_j), computed as
    ``exp(cumsum(ln(1 − d/n)))`` — both engines evaluate the identical
    IEEE log/exp sequence left-to-right over the day-ordered window,
    and round(…, 6) absorbs nothing more than representation noise.

    Scale: ONE type-pruned pass over events — first-signup time is a
    user-partition window MIN and the first eligible purchase a
    conditional MIN in the user aggregate riding the SAME partitioning
    (the two-relation join form re-scanned events 3×, plan-pinned away
    at 1) — then ALL KM arithmetic runs on the duration-grain table,
    which is bounded by the observation window (≤31 rows here), so the
    single-partition cumulative windows never see event rows.
    """
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w_u = Window.partitionBy("user_id")
    ev2 = ev.filter(
        F.col("event_type").isin("signup", "purchase")
    ).withColumn(
        "_t0",
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).over(w_u),
    )
    base = (
        ev2.filter(F.col("_t0").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("_t0").alias("_t0"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("_t0")),
                    F.col("ts"),
                )
            ).alias("_tp"),
        )
    )
    dur = base.select(
        F.when(
            F.col("_tp").isNotNull(),
            F.datediff(F.to_date("_tp"), F.to_date("_t0")),
        )
        .otherwise(
            F.datediff(
                F.lit(_KM_CENSOR_DATE).cast("date"), F.to_date("_t0")
            )
        )
        .alias("t"),
        F.col("_tp").isNotNull().cast("int").alias("_conv"),
    )
    tab = dur.groupBy("t").agg(
        F.sum("_conv").alias("d"),
        F.sum(F.lit(1) - F.col("_conv")).alias("c"),
    )
    w_all = Window.partitionBy()
    w_prior = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("t")
    km = tab.select(
        "t",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(w_all)
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prior), F.lit(0)
            )
        ).alias("n_risk"),
    )
    # the absorbing row (d == n_risk → survival term 0) must not feed
    # ln(0) — DuckDB raises, Spark ANSI would too; guard the log and
    # pin survival to exactly 0 from that row onward
    term_ln = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(
            F.lit(1.0)
            - F.col("d").cast("double") / F.col("n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    absorbed = (
        F.sum(
            F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
        ).over(w_cum)
        > 0
    )
    surv = F.when(absorbed, F.lit(0.0)).otherwise(
        F.exp(F.sum(term_ln).over(w_cum))
    )
    return km.select(
        F.col("t").alias("day"),
        F.col("d").alias("d_conversions"),
        F.col("c").alias("c_censored"),
        "n_risk",
        F.round(surv, 6).alias("survival"),
    )


EVENTS_SURVIVAL_SQL = f"""
WITH ev2 AS (
  SELECT user_id, event_type, ts,
         MIN(CASE WHEN event_type = 'signup' THEN ts END)
           OVER (PARTITION BY user_id) AS t0
  FROM events WHERE event_type IN ('signup', 'purchase')
),
base AS (
  SELECT user_id, MIN(t0) AS t0,
         MIN(CASE WHEN event_type = 'purchase' AND ts >= t0
                  THEN ts END) AS tp
  FROM ev2 WHERE t0 IS NOT NULL GROUP BY 1
),
dur AS (
  SELECT CASE WHEN tp IS NOT NULL
              THEN date_diff('day', CAST(t0 AS DATE), CAST(tp AS DATE))
              ELSE date_diff('day', CAST(t0 AS DATE),
                             DATE '{_KM_CENSOR_DATE}') END AS t,
         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS converted
  FROM base
),
tab AS (
  SELECT t, SUM(converted) AS d, SUM(1 - converted) AS c
  FROM dur GROUP BY 1
),
km AS (
  SELECT t, d, c,
         SUM(d + c) OVER ()
           - COALESCE(SUM(d + c) OVER (ORDER BY t ROWS BETWEEN
                      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM tab
)
SELECT t AS day,
       CAST(d AS BIGINT) AS d_conversions,
       CAST(c AS BIGINT) AS c_censored,
       CAST(n_risk AS BIGINT) AS n_risk,
       CASE WHEN SUM(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                 OVER (ORDER BY t) > 0
            THEN 0.0
            ELSE ROUND(EXP(SUM(CASE WHEN d < n_risk
                THEN LN(1 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
                ELSE 0.0 END) OVER (ORDER BY t)), 6) END AS survival
FROM km
"""


# --------------------------------------------------------------------------
def events_chi2_type_dow(spark, sf_dir):
    """Pearson chi-square independence test between event_type and
    day-of-week — the categorical-association twin of
    ``lineitem_corr_matrix`` (is traffic mix stable across the week,
    or does some event type cluster on weekends?).

    One shuffle builds the |types|×7 contingency table; marginals and
    N are WINDOW sums over that TINY relation (re-deriving them as
    separate groupBys would make Catalyst re-scan events once per
    marginal — 4 scans; the window form is plan-pinned at 1), so at
    any corpus size the post-aggregate work is bounded by the category
    domain.  Output: chi2 (rounded 6), degrees of freedom, N, and the
    contingency cell count.

    Float parity: o, row, col, N are exact int64 counts (products ≤
    2^53, exact doubles); e and (o−e)²/e run the identical IEEE
    sequence in both engines, and the 35-term sum's order noise
    (~1e-16 relative) dies at round 6.
    """
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    cnt = (
        ev.select(
            "event_type", (F.dayofweek("ts") - F.lit(1)).alias("dow")
        )
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    cell = cnt.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("rn"),
        F.sum("o").over(Window.partitionBy("dow")).alias("cn"),
        F.sum("o").over(Window.partitionBy()).alias("nn"),
    )
    e = (F.col("rn") * F.col("cn")).cast("double") / F.col("nn")
    return cell.agg(
        F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6).alias(
            "chi2"
        ),
        (
            (F.count_distinct("event_type") - 1)
            * (F.count_distinct("dow") - 1)
        ).alias("dof"),
        F.first("nn").alias("n_events"),
        F.count(F.lit(1)).alias("n_cells"),
    )


EVENTS_CHI2_SQL = """
WITH cnt AS (
  SELECT event_type, dayofweek(ts) AS dow, COUNT(*) AS o
  FROM events GROUP BY 1, 2
),
cell AS (
  SELECT event_type, dow, o,
         SUM(o) OVER (PARTITION BY event_type) AS rn,
         SUM(o) OVER (PARTITION BY dow) AS cn,
         SUM(o) OVER () AS nn
  FROM cnt
)
SELECT ROUND(SUM((o - e) * (o - e) / e), 6) AS chi2,
       (COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1) AS dof,
       CAST(MIN(nn) AS BIGINT) AS n_events,
       COUNT(*) AS n_cells
FROM (SELECT event_type, dow, o,
             CAST(rn * cn AS DOUBLE) / nn AS e, nn
      FROM cell)
"""


# --------------------------------------------------------------------------
_ROW_RULES = [
    # (rule name, Spark violation predicate builder, SQL violation predicate)
    ("qty_positive", lambda: F.col("l_quantity") <= 0, "l_quantity <= 0"),
    (
        "discount_unit_range",
        lambda: ~F.col("l_discount").between(0.0, 1.0),
        "l_discount NOT BETWEEN 0.0 AND 1.0",
    ),
    (
        "tax_unit_range",
        lambda: ~F.col("l_tax").between(0.0, 1.0),
        "l_tax NOT BETWEEN 0.0 AND 1.0",
    ),
    (
        "price_positive",
        lambda: F.col("l_extendedprice") <= 0,
        "l_extendedprice <= 0",
    ),
    (
        "returnflag_domain",
        lambda: ~F.col("l_returnflag").isin("A", "N", "R"),
        "l_returnflag NOT IN ('A', 'N', 'R')",
    ),
    (
        "linestatus_domain",
        lambda: ~F.col("l_linestatus").isin("O", "F"),
        "l_linestatus NOT IN ('O', 'F')",
    ),
    (
        "linenumber_positive",
        lambda: F.col("l_linenumber") < 1,
        "l_linenumber < 1",
    ),
]


def audit_row_constraints(spark, sf_dir):
    """Deequ-style CHECK-constraint suite over lineitem: every named
    row rule (domain membership, unit ranges, positivity) evaluated as
    a conditional count in ONE aggregate over ONE scan, then unpivoted
    to a (rule, n_checked, n_violations, violation_rate) report row per
    rule — the constraint half of the data-quality family
    (``profile_orders_quality`` profiles, ``profile_drift_orders``
    detects drift, ``audit_referential_integrity`` checks FK edges,
    this checks row invariants).

    A rule with zero violations still reports (the audit proves the
    PASS, not just failures); a release gate thresholds
    ``violation_rate``.  Scale: adding a rule adds one conditional sum
    to the same map-combinable aggregate — the scan count stays 1
    however long the suite grows, vs one pass per rule naive.
    """
    li = t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.count(F.when(pred(), 1)).alias(f"_v_{name}")
            for name, pred, _ in _ROW_RULES
        ],
    )
    stack_args = ", ".join(
        f"'{name}', _v_{name}" for name, _, _ in _ROW_RULES
    )
    return agg.select(
        F.expr(
            f"stack({len(_ROW_RULES)}, {stack_args}) AS (rule, n_violations)"
        ),
        F.col("_n").alias("n_checked"),
    ).select(
        "rule",
        "n_checked",
        "n_violations",
        F.round(F.col("n_violations") / F.col("n_checked"), 6).alias(
            "violation_rate"
        ),
    )


AUDIT_ROW_CONSTRAINTS_SQL = (
    "WITH m AS (\n  SELECT COUNT(*) AS n,\n"
    + ",\n".join(
        f"    COUNT(*) FILTER (WHERE {sql_pred}) AS v_{name}"
        for name, _, sql_pred in _ROW_RULES
    )
    + "\n  FROM lineitem\n)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{name}' AS rule, n AS n_checked, v_{name} AS n_violations,"
        f" ROUND(v_{name} / n, 6) AS violation_rate FROM m"
        for name, _, _ in _ROW_RULES
    )
)


# --------------------------------------------------------------------------
def privacy_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity audit of the customer table — the
    privacy gate a training-data release runs before shipping records
    keyed by quasi-identifiers.  QI = (c_nationkey, c_mktsegment);
    sensitive attribute = the $1000 account-balance bucket.

    Per equivalence class (one row per observed QI combination):
    ``class_size`` (k-anonymity: the table is k-anonymous at the MIN
    of this column), ``l_distinct`` (distinct sensitive values in the
    class — l-diversity; a class where everyone shares one balance
    bucket leaks the sensitive value even at high k),
    ``reident_risk`` = 1/class_size (prosecutor-model re-id risk), and
    ``suppress_lt5`` — the rows this class would lose under a
    suppress-below-k=5 release policy.

    Scale: one pruned scan, one QI-keyed aggregate (count + exact
    count-distinct over a bounded bucket domain) — the class relation
    is |QI domain| rows regardless of table size, so the audit is a
    single shuffle whose output is tiny.  Risk ratios divide exact
    integers; identical doubles both engines.
    """
    c = t(spark, sf_dir, "customer")
    bal_bucket = F.floor(F.col("c_acctbal") / F.lit(1000.0))
    return (
        c.select("c_nationkey", "c_mktsegment", bal_bucket.alias("_sb"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.count_distinct("_sb").alias("l_distinct"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "class_size",
            "l_distinct",
            F.round(F.lit(1.0) / F.col("class_size"), 6).alias(
                "reident_risk"
            ),
            F.when(F.col("class_size") < 5, F.col("class_size"))
            .otherwise(F.lit(0))
            .alias("suppress_lt5"),
        )
    )


PRIVACY_K_ANON_SQL = """
SELECT c_nationkey, c_mktsegment,
       COUNT(*) AS class_size,
       COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT))
         AS l_distinct,
       ROUND(1.0 / COUNT(*), 6) AS reident_risk,
       CASE WHEN COUNT(*) < 5 THEN COUNT(*) ELSE 0 END AS suppress_lt5
FROM customer
GROUP BY c_nationkey, c_mktsegment
"""


# --------------------------------------------------------------------------
_DRIFT_CUT = "1998-01-01"  # snapshot split: mid-corpus date, SF-invariant


def profile_drift_orders(spark, sf_dir):
    """Deequ-style profile DRIFT between two snapshots of orders (the
    pre/post-``_DRIFT_CUT`` halves of the table), computed in ONE scan:
    every per-snapshot metric is a conditional aggregate (filtered
    count / count-distinct-of-CASE / filtered decimal sum), so the two
    profiles and their deltas cost a single map-combinable global
    aggregate — never two passes, never a self-join of profile rows.

    This is the "did yesterday's load change the shape of the data"
    check a 100 TB ingest runs before promoting a snapshot: row-count
    drift, categorical-cardinality drift, and mean-price drift in one
    row.  At scale the exact count-distincts swap for
    approx_count_distinct and the plan loses its expand, same as
    ``profile_orders_quality``.

    Float parity: prices aggregate as DECIMAL(12,2) (exact sums ≤ 2^53
    cents), the mean divides that exact double by an exact count, and
    both engines round the identical float to 6 digits.
    """
    o = t(spark, sf_dir, "orders")
    cond_a = F.col("o_orderdate") < F.lit(_DRIFT_CUT).cast("timestamp")

    def side(cond, tag):
        n = F.count(F.when(cond, 1))
        return [
            n.alias(f"n_rows_{tag}"),
            F.count_distinct(F.when(cond, F.col("o_orderstatus"))).alias(
                f"d_status_{tag}"
            ),
            F.count_distinct(F.when(cond, F.col("o_orderpriority"))).alias(
                f"d_priority_{tag}"
            ),
            F.round(
                F.sum(F.when(cond, dec("o_totalprice"))).cast("double") / n, 6
            ).alias(f"avg_price_{tag}"),
            F.min(F.when(cond, dec("o_totalprice")))
            .cast("double")
            .alias(f"min_price_{tag}"),
            F.max(F.when(cond, dec("o_totalprice")))
            .cast("double")
            .alias(f"max_price_{tag}"),
        ]

    return o.agg(*side(cond_a, "a"), *side(~cond_a, "b")).select(
        "*",
        (F.col("n_rows_b") - F.col("n_rows_a")).alias("drift_rows"),
        (F.col("d_status_b") - F.col("d_status_a")).alias("drift_status_card"),
        F.round(F.col("avg_price_b") - F.col("avg_price_a"), 6).alias(
            "drift_avg_price"
        ),
    )


PROFILE_DRIFT_SQL = f"""
WITH m AS (
  SELECT
    COUNT(*) FILTER (WHERE o_orderdate <  TIMESTAMP '{_DRIFT_CUT}') AS n_rows_a,
    COUNT(*) FILTER (WHERE o_orderdate >= TIMESTAMP '{_DRIFT_CUT}') AS n_rows_b,
    COUNT(DISTINCT CASE WHEN o_orderdate < TIMESTAMP '{_DRIFT_CUT}'
                        THEN o_orderstatus END) AS d_status_a,
    COUNT(DISTINCT CASE WHEN o_orderdate >= TIMESTAMP '{_DRIFT_CUT}'
                        THEN o_orderstatus END) AS d_status_b,
    COUNT(DISTINCT CASE WHEN o_orderdate < TIMESTAMP '{_DRIFT_CUT}'
                        THEN o_orderpriority END) AS d_priority_a,
    COUNT(DISTINCT CASE WHEN o_orderdate >= TIMESTAMP '{_DRIFT_CUT}'
                        THEN o_orderpriority END) AS d_priority_b,
    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
               FILTER (WHERE o_orderdate < TIMESTAMP '{_DRIFT_CUT}') AS DOUBLE)
          / COUNT(*) FILTER (WHERE o_orderdate < TIMESTAMP '{_DRIFT_CUT}'), 6)
      AS avg_price_a,
    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
               FILTER (WHERE o_orderdate >= TIMESTAMP '{_DRIFT_CUT}') AS DOUBLE)
          / COUNT(*) FILTER (WHERE o_orderdate >= TIMESTAMP '{_DRIFT_CUT}'), 6)
      AS avg_price_b,
    CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2)))
         FILTER (WHERE o_orderdate < TIMESTAMP '{_DRIFT_CUT}') AS DOUBLE)
      AS min_price_a,
    CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2)))
         FILTER (WHERE o_orderdate >= TIMESTAMP '{_DRIFT_CUT}') AS DOUBLE)
      AS min_price_b,
    CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2)))
         FILTER (WHERE o_orderdate < TIMESTAMP '{_DRIFT_CUT}') AS DOUBLE)
      AS max_price_a,
    CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2)))
         FILTER (WHERE o_orderdate >= TIMESTAMP '{_DRIFT_CUT}') AS DOUBLE)
      AS max_price_b
  FROM orders
)
SELECT n_rows_a, d_status_a, d_priority_a, avg_price_a, min_price_a,
       max_price_a,
       n_rows_b, d_status_b, d_priority_b, avg_price_b, min_price_b,
       max_price_b,
       n_rows_b - n_rows_a AS drift_rows,
       d_status_b - d_status_a AS drift_status_card,
       ROUND(avg_price_b - avg_price_a, 6) AS drift_avg_price
FROM m
"""


# --------------------------------------------------------------------------
_COMPACTION_TARGET_ROWS = 5000


def profile_compaction_plan(spark, sf_dir):
    """Small-partition compaction planner: bin consecutive daily event
    partitions into merge groups of ~``_COMPACTION_TARGET_ROWS`` rows
    via running-sum bucketing — the table-ops decision behind "these
    200 tiny date partitions should be 9 files" at 100 TB.

    A partition joins the group where its FIRST row lands
    (group = ⌊(cumsum − n_rows) / target⌋), so groups are contiguous
    in partition order and every group except possibly the last
    reaches the target once its final partition is added — the greedy
    first-fit plan, expressed as two window functions instead of a
    sequential loop.

    Scale shape: the heavy work is the distributed per-day count; the
    windows run over the partition LIST (one row per day — bounded by
    the table's partition count, ~10⁴–10⁵ at 100 TB, kilobytes), so
    the single-partition ordered window is over a relation that is
    small BY CONSTRUCTION, never over the fact table."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    parts = e.groupBy(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    planned = parts.withColumn(
        "grp",
        F.floor(
            (F.sum("n_rows").over(w_cum) - F.col("n_rows"))
            / F.lit(float(_COMPACTION_TARGET_ROWS))
        ).cast("int"),
    )
    return planned.select(
        "day",
        "n_rows",
        "grp",
        F.sum("n_rows").over(Window.partitionBy("grp")).alias("group_rows"),
        F.count(F.lit(1))
        .over(Window.partitionBy("grp"))
        .alias("group_parts"),
    )


COMPACTION_PLAN_SQL = f"""
WITH parts AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_rows
  FROM events GROUP BY 1
),
planned AS (
  SELECT day, n_rows,
         CAST(floor(
           (sum(n_rows) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            - n_rows) / {float(_COMPACTION_TARGET_ROWS)}
         ) AS INT) AS grp
  FROM parts
)
SELECT day, n_rows, grp,
       CAST(sum(n_rows) OVER (PARTITION BY grp) AS BIGINT) AS group_rows,
       count(*) OVER (PARTITION BY grp) AS group_parts
FROM planned
"""


PROFILE_SQL = """
SELECT count(*) AS n_rows,
       CAST(sum(CAST(o_custkey IS NULL AS BIGINT)) AS BIGINT) AS null_custkey,
       CAST(sum(CAST(o_orderstatus IS NULL AS BIGINT)) AS BIGINT) AS null_status,
       count(DISTINCT o_custkey) AS d_custkey,
       count(DISTINCT o_orderstatus) AS d_status,
       count(DISTINCT o_orderpriority) AS d_priority,
       CAST(min(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS min_price,
       CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price,
       strftime(min(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS min_date,
       strftime(max(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS max_date
FROM orders
"""


FUNNEL_STEPS_SQL = """
WITH views AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY 1
),
clicks AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN views v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts >= v.t_view
  GROUP BY 1
),
purchases AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN clicks c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
  GROUP BY 1
)
SELECT v.user_id,
       epoch_us(t_view) AS t_view_us,
       epoch_us(t_click) AS t_click_us,
       epoch_us(t_purchase) AS t_purchase_us
FROM views v
LEFT JOIN clicks USING (user_id)
LEFT JOIN purchases USING (user_id)
"""


FUNNEL_SUMMARY_SQL = f"""
WITH steps AS ({FUNNEL_STEPS_SQL})
SELECT count(*) AS n_view,
       count(t_click_us) AS n_click,
       count(t_purchase_us) AS n_purchase,
       count(t_click_us) / CAST(count(*) AS DOUBLE) AS view_to_click,
       count(t_purchase_us) / CAST(count(t_click_us) AS DOUBLE)
         AS click_to_purchase
FROM steps
"""


def events_type_bigrams(spark, sf_dir):
    """Sequential-pattern mining lite: the top-20 most frequent
    consecutive event-type transitions per user stream (lag over the
    per-user time order) — the behavioral-analytics staple behind
    "what do users do next" dashboards and Markov-chain funnels.

    Scale: one lag window per user_id (high-cardinality partition,
    O(1) state), map-combinable pair counts, two-stage
    TakeOrderedAndProject for the global top-20 — no global sort.
    Deterministic ties: (ts, event_id) orders the stream, (count desc,
    pair asc) orders the output.
    """
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    pairs = (
        e.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    return pairs.orderBy(
        F.desc("n_transitions"), "prev_type", "next_type"
    ).limit(20)


TYPE_BIGRAMS_SQL = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
)
SELECT prev_type, next_type, count(*) AS n_transitions
FROM pairs WHERE prev_type IS NOT NULL
GROUP BY 1, 2
ORDER BY n_transitions DESC, prev_type, next_type
LIMIT 20
"""


_TREND_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 UTC — centers x


def events_user_trend(spark, sf_dir):
    """Per-user OLS trend + Pearson correlation of event value over
    time — the grouped-regression operator (trend detection, drift
    monitoring).  Closed-form least squares from SIX map-combinable
    exact decimal sums (n, Σx, Σy, Σxy, Σx², Σy²) — one shuffle on
    user_id, no window, no iteration; x is exact µs since a fixed
    epoch (integer, so every sum is exact decimal and the double
    formulas are bit-identical in both engines).  Slope is scaled to
    value-units/day before rounding (per-µs slopes vanish at 6 dp).
    """
    e = t(spark, sf_dir, "events")
    b = e.select(
        "user_id",
        # integer SECONDS since the fixed epoch: exact and small
        # enough that x*x stays inside both engines' int64
        # decimal-multiply fast path (ms-resolution x overflowed
        # DuckDB's DECIMAL(18) multiply).  decimal(8,0) bounds the
        # supported domain to ±~3.17 years around the epoch — outside
        # it BOTH engines fail loudly (ANSI cast error / DuckDB cast
        # error), never silently: re-center _TREND_EPOCH_US for other
        # corpora
        F.expr(f"div(unix_micros(ts) - {_TREND_EPOCH_US}, 1000000)")
        .cast("decimal(8,0)")
        .alias("_x"),
        dec("value", 8, 2).alias("_y"),
    )
    s = b.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    n = F.col("n_events").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    cov_n = n * sxy - sx * sy
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    slope_s = cov_n / F.nullif(varx_n, F.lit(0.0))
    return s.select(
        "user_id",
        "n_events",
        F.round(slope_s * F.lit(86_400.0), 6).alias(
            "slope_per_day"
        ),
        F.round(
            (sy - slope_s * sx) / n, 6
        ).alias("intercept"),
        F.round(
            cov_n
            / F.nullif(F.sqrt(varx_n * vary_n), F.lit(0.0)),
            6,
        ).alias("pearson_r"),
    )


USER_TREND_SQL = f"""
WITH b AS (
  SELECT user_id,
         CAST((epoch_us(ts) - {_TREND_EPOCH_US}) // 1000000 AS DECIMAL(8,0)) AS x,
         CAST(value AS DECIMAL(8,2)) AS y
  FROM events
),
s AS (
  SELECT user_id, count(*) AS n_events,
         sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
         sum(x*x) AS sxx, sum(y*y) AS syy
  FROM b GROUP BY 1
)
SELECT user_id, n_events,
       round((CAST(n_events AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / NULLIF(CAST(n_events AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)
             * 86400.0, 6) AS slope_per_day,
       round((CAST(sy AS DOUBLE)
              - (CAST(n_events AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / NULLIF(CAST(n_events AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)
                * CAST(sx AS DOUBLE))
             / CAST(n_events AS DOUBLE), 6) AS intercept,
       round((CAST(n_events AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / NULLIF(sqrt((CAST(n_events AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * (CAST(n_events AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0),
             6) AS pearson_r
FROM s
"""


def join_fuzzy_customer_names(spark, sf_dir):
    """Fuzzy (edit-distance ≤ 1) self-join via FastSS
    deletion-neighborhood blocking — exact over the whole corpus, no
    ad-hoc prefix blocking; see operators/fuzzy.py for the
    completeness argument, the randomized property test, and the
    hot-block lesson (a prefix-blocked variant measured 10× slower at
    sf0.1).  The oracle states the naive n² semantics — parity PROVES
    the neighborhood join is lossless on this corpus.
    """
    from rick_and_morty_data_pipeline_project_spark.operators.fuzzy import (
        fuzzy_pairs_lev1,
    )

    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return fuzzy_pairs_lev1(c, "c_custkey", "c_name")


# the SEMANTIC definition — naive all-pairs; the Spark side's
# deletion-neighborhood join must reproduce it exactly
FUZZY_JOIN_SQL = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_distance
FROM customer a
JOIN customer b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


def scd2_customer_segments(spark, sf_dir):
    """SCD Type-2 dimension maintenance over the customer segment: a
    deterministic daily batch (every 5th key re-segmented, every
    5k+1th a no-op update, sparse brand-new keys) applied to an
    all-open current state — changed keys close at the effective date
    and reopen, no-ops pass through, new keys insert open.

    Scale: one broadcastable equi-join on the dimension key + unions —
    see operators/scd.py for the plan shape and the as-of-join
    motivation.
    """
    from rick_and_morty_data_pipeline_project_spark.operators.scd import (
        OPEN_END,
        scd2_apply,
    )

    c = t(spark, sf_dir, "customer")
    current = c.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1995-01-01").alias("valid_from"),
        F.lit(OPEN_END).alias("valid_to"),
        F.lit(1).alias("is_current"),
    )
    updates = (
        c.filter(F.col("c_custkey") % 5 <= 1)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 5 == 0, F.lit("UPGRADED"))
            .otherwise(F.col("c_mktsegment"))
            .alias("c_mktsegment"),
            F.lit("1998-01-01").alias("effective_date"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
                F.lit("NEWKEY").alias("c_mktsegment"),
                F.lit("1998-01-01").alias("effective_date"),
            )
        )
    )
    return scd2_apply(
        current,
        updates,
        key="c_custkey",
        tracked=["c_mktsegment"],
    )


SCD2_SQL = """
WITH current_state AS (
  SELECT c_custkey, c_mktsegment,
         '1995-01-01' AS valid_from, '9999-12-31' AS valid_to,
         1 AS is_current
  FROM customer
),
upd AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN 'UPGRADED' ELSE c_mktsegment END
           AS seg,
         '1998-01-01' AS eff
  FROM customer WHERE c_custkey % 5 <= 1
  UNION ALL
  SELECT c_custkey + 1000000, 'NEWKEY', '1998-01-01'
  FROM customer WHERE c_custkey % 97 = 0
),
j AS (
  SELECT cs.*, u.seg, u.eff
  FROM current_state cs LEFT JOIN upd u USING (c_custkey)
),
changed AS (SELECT * FROM j WHERE eff IS NOT NULL AND seg IS DISTINCT FROM c_mktsegment)
SELECT c_custkey, c_mktsegment, valid_from, valid_to, is_current
FROM j WHERE eff IS NULL OR seg IS NOT DISTINCT FROM c_mktsegment
UNION ALL
SELECT c_custkey, c_mktsegment, valid_from, eff, 0 FROM changed
UNION ALL
SELECT c_custkey, seg, eff, '9999-12-31', 1 FROM changed
UNION ALL
SELECT u.c_custkey, u.seg, u.eff, '9999-12-31', 1
FROM upd u LEFT JOIN current_state cs USING (c_custkey)
WHERE cs.c_custkey IS NULL
"""


def join_pit_segment_revenue(spark, sf_dir):
    """POINT-IN-TIME join — the feature-store primitive: each order
    joins the customer-segment VERSION that was valid on its order
    date (SCD2 dimension from :func:`scd2_customer_segments`, reused
    verbatim so the two queries can never disagree about the
    dimension), then revenue rolls up by as-of-order-time segment.
    Training-data pipelines need exactly this shape to avoid feature
    leakage: joining the CURRENT segment would leak post-order
    information into historical examples.

    Join shape: equi on the dimension key (c_custkey — hash join;
    broadcast here, shuffle-hash at scale) with the temporal interval
    as a RESIDUAL predicate over half-open [valid_from, valid_to)
    string dates — ISO yyyy-MM-dd compares lexicographically, so the
    residual is engine-neutral string comparison, no date-type parity
    risk.  Orders predating the dimension's history land in an
    explicit PRE-HISTORY bucket (left join + coalesce) instead of
    silently dropping.

    Float parity: revenue is an exact decimal sum cast to double
    (2 decimal places, exact); counts are longs.
    """
    dim = scd2_customer_segments(spark, sf_dir).select(
        "c_custkey",
        "c_mktsegment",
        "valid_from",
        "valid_to",
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey"),
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
            "_d"
        ),
        dec("o_totalprice").alias("_price"),
    )
    j = o.join(
        dim,
        (o["o_custkey"] == dim["c_custkey"])
        & (F.col("_d") >= F.col("valid_from"))
        & (F.col("_d") < F.col("valid_to")),
        "left",
    )
    return (
        j.groupBy(
            F.coalesce("c_mktsegment", F.lit("PRE-HISTORY")).alias(
                "segment_at_order"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("_price").cast("double"), 2).alias("revenue"),
        )
    )


JOIN_PIT_SQL = f"""
WITH dim AS (
{SCD2_SQL}
)
SELECT COALESCE(d.c_mktsegment, 'PRE-HISTORY') AS segment_at_order,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
         AS revenue
FROM orders o
LEFT JOIN dim d
  ON o.o_custkey = d.c_custkey
 AND strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') >= d.valid_from
 AND strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') <  d.valid_to
GROUP BY 1
"""


# --------------------------------------------------------------------------
_EWMA_ALPHA = 0.3
_EWMA_ONE_MINUS = 0.7


def events_ewma(spark, sf_dir):
    """Per-user exponentially-weighted moving average of event values —
    a genuinely RECURSIVE per-key operator (y₁ = x₁;
    yₜ = α·xₜ + (1−α)·yₜ₋₁) expressed WITHOUT Python: the user's
    time-ordered value list is collected once and the recursion is a
    JVM left fold (``F.aggregate``) seeded with the first element,
    mirroring DuckDB's ``list_reduce`` (which uses the head as init)
    op-for-op, so the smoothed value is bit-identical before rounding.

    Scale: one user-keyed shuffle; per-row state is the user's event
    list — bounded by per-key cardinality, the same envelope as
    sessionization (a key too hot for this shape is too hot for ANY
    per-key sequential semantics and needs windowed chunking first).
    The fold itself is codegen-adjacent JVM work, no Arrow transfer."""
    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    ordered = e.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("_evs")
    )
    vals = ordered.select(
        "user_id",
        F.transform("_evs", lambda s: s["value"]).alias("_vs"),
    )
    a, b = F.lit(_EWMA_ALPHA), F.lit(_EWMA_ONE_MINUS)
    ewma = F.aggregate(
        F.slice(F.col("_vs"), 2, F.size("_vs") - 1),
        F.element_at(F.col("_vs"), 1),
        lambda acc, x: a * x + b * acc,
    )
    return vals.select(
        "user_id",
        F.size("_vs").alias("n_events"),
        F.round(ewma, 6).alias("ewma"),
    )


EVENTS_EWMA_SQL = f"""
WITH ordered AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vs
  FROM events GROUP BY user_id
)
SELECT user_id, len(vs) AS n_events,
       round(list_reduce(vs, (acc, x) -> {_EWMA_ALPHA} * x + {_EWMA_ONE_MINUS} * acc), 6)
         AS ewma
FROM ordered
"""


def part_skyline_pareto(spark, sf_dir):
    """Skyline (Pareto-frontier) operator: parts not dominated on
    (minimize price, maximize size) — q dominates p iff q is no worse
    on both axes and strictly better on one.

    The distributed shape exploits the BOUNDED axis: dominance
    decomposes exactly into
    ``(∃ size > s with min-price ≤ p) ∨ (∃ size ≥ s with min-price < p)``,
    so the whole frontier test reduces to a running min of per-size
    minimum prices down the size axis — a staircase relation with ONE
    ROW PER DISTINCT SIZE (50 here; bounded by the attribute domain at
    any corpus size, the compaction-planner argument).  The heavy
    lifting is the map-combinable per-size min aggregate; the ordered
    window never sees the fact table, and the staircase broadcasts
    back onto the scan for the final per-row filter."""
    from pyspark.sql.window import Window as W

    p = t(spark, sf_dir, "part").select("p_partkey", "p_size", "p_retailprice")
    per_size = p.groupBy("p_size").agg(
        F.min("p_retailprice").alias("minp")
    )
    w_desc = W.orderBy(F.desc("p_size")).rowsBetween(W.unboundedPreceding, 0)
    stair = per_size.select(
        "p_size",
        F.min("minp").over(w_desc).alias("runmin_ge"),
    ).select(
        "p_size",
        "runmin_ge",
        F.lag("runmin_ge", 1).over(W.orderBy(F.desc("p_size"))).alias(
            "runmin_gt"
        ),
    )
    dominated = (
        (F.col("runmin_gt").isNotNull() & (F.col("runmin_gt") <= F.col("p_retailprice")))
        | (F.col("runmin_ge") < F.col("p_retailprice"))
    )
    return (
        p.join(F.broadcast(stair), "p_size")
        .filter(~dominated)
        .select("p_partkey", "p_size", "p_retailprice")
    )


PART_SKYLINE_SQL = """
WITH per_size AS (
  SELECT p_size, min(p_retailprice) AS minp FROM part GROUP BY p_size
),
run AS (
  SELECT p_size,
         min(minp) OVER (ORDER BY p_size DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin_ge
  FROM per_size
),
stair AS (
  SELECT p_size, runmin_ge,
         lag(runmin_ge, 1) OVER (ORDER BY p_size DESC) AS runmin_gt
  FROM run
)
SELECT p.p_partkey, p.p_size, p.p_retailprice
FROM part p JOIN stair s USING (p_size)
WHERE NOT ((s.runmin_gt IS NOT NULL AND s.runmin_gt <= p.p_retailprice)
           OR (s.runmin_ge < p.p_retailprice))
"""


def audit_referential_integrity(spark, sf_dir):
    """Star-schema referential-integrity audit: for every FK edge, the
    child row count and the orphan count (child rows whose FK has no
    parent) — the batch data-quality gate run before any pipeline
    promotes a snapshot.

    Shape: ONE scan per child table, however many FK edges it carries —
    all of a child's parents left-join in (PK side is unique, so no
    fan-out) and every edge's orphan condition is a conditional count
    in the SAME aggregate; lineitem's three edges cost one pass, not
    six scans (the naive per-arm anti-join form planned 21 scans — see
    PERFORMANCE.md).  Dimension parents broadcast; the lineitem⋈orders
    arm shuffles like any fact-fact join.  The per-child one-row aggs
    then unpivot into the 7-row audit.  A non-zero orphan count is the
    signal — the synthetic snapshot audits clean, which the oracle
    pins."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    p = t(spark, sf_dir, "part")

    def nulls(pk):
        return F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0))

    li_agg = (
        li.select("l_orderkey", "l_partkey", "l_suppkey")
        .join(o.select("o_orderkey"), li["l_orderkey"] == o["o_orderkey"], "left")
        .join(F.broadcast(p.select("p_partkey")), li["l_partkey"] == p["p_partkey"], "left")
        .join(F.broadcast(s.select("s_suppkey")), li["l_suppkey"] == s["s_suppkey"], "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            nulls("o_orderkey").alias("orph_orders"),
            nulls("p_partkey").alias("orph_part"),
            nulls("s_suppkey").alias("orph_supp"),
        )
    )
    o_agg = (
        o.select("o_custkey")
        .join(F.broadcast(c.select("c_custkey")), o["o_custkey"] == c["c_custkey"], "left")
        .agg(F.count(F.lit(1)).alias("n"), nulls("c_custkey").alias("orph"))
    )
    c_agg = (
        c.select("c_nationkey")
        .join(F.broadcast(n.select("n_nationkey")), c["c_nationkey"] == n["n_nationkey"], "left")
        .agg(F.count(F.lit(1)).alias("n"), nulls("n_nationkey").alias("orph"))
    )
    s_agg = (
        s.select("s_nationkey")
        .join(F.broadcast(n.select("n_nationkey")), s["s_nationkey"] == n["n_nationkey"], "left")
        .agg(F.count(F.lit(1)).alias("n"), nulls("n_nationkey").alias("orph"))
    )
    n_agg = (
        n.select("n_regionkey")
        .join(F.broadcast(r.select("r_regionkey")), n["n_regionkey"] == r["r_regionkey"], "left")
        .agg(F.count(F.lit(1)).alias("n"), nulls("r_regionkey").alias("orph"))
    )

    li_rows = li_agg.selectExpr(
        "stack(3, "
        "'lineitem.l_orderkey->orders', n, orph_orders, "
        "'lineitem.l_partkey->part', n, orph_part, "
        "'lineitem.l_suppkey->supplier', n, orph_supp"
        ") AS (fk_edge, child_rows, orphan_rows)"
    )

    def one(agg, label):
        return agg.select(
            F.lit(label).alias("fk_edge"),
            F.col("n").alias("child_rows"),
            F.col("orph").alias("orphan_rows"),
        )

    return (
        li_rows
        .unionByName(one(o_agg, "orders.o_custkey->customer"))
        .unionByName(one(c_agg, "customer.c_nationkey->nation"))
        .unionByName(one(s_agg, "supplier.s_nationkey->nation"))
        .unionByName(one(n_agg, "nation.n_regionkey->region"))
    )


AUDIT_RI_SQL = """
WITH li_agg AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orph_orders,
         CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orph_part,
         CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orph_supp
  FROM lineitem li
  LEFT JOIN orders o ON li.l_orderkey = o.o_orderkey
  LEFT JOIN part p ON li.l_partkey = p.p_partkey
  LEFT JOIN supplier s ON li.l_suppkey = s.s_suppkey
),
o_agg AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orph
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
),
c_agg AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN n2.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orph
  FROM customer c LEFT JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
),
s_agg AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN n2.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orph
  FROM supplier s LEFT JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
),
n_agg AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orph
  FROM nation n2 LEFT JOIN region r ON n2.n_regionkey = r.r_regionkey
)
SELECT 'lineitem.l_orderkey->orders' AS fk_edge, n AS child_rows,
       orph_orders AS orphan_rows FROM li_agg
UNION ALL
SELECT 'lineitem.l_partkey->part', n, orph_part FROM li_agg
UNION ALL
SELECT 'lineitem.l_suppkey->supplier', n, orph_supp FROM li_agg
UNION ALL
SELECT 'orders.o_custkey->customer', n, orph FROM o_agg
UNION ALL
SELECT 'customer.c_nationkey->nation', n, orph FROM c_agg
UNION ALL
SELECT 'supplier.s_nationkey->nation', n, orph FROM s_agg
UNION ALL
SELECT 'nation.n_regionkey->region', n, orph FROM n_agg
"""


# --------------------------------------------------------------------------
_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_CORR_PAIRS = tuple(
    (_CORR_COLS[i], _CORR_COLS[j])
    for i in range(len(_CORR_COLS))
    for j in range(i + 1, len(_CORR_COLS))
)


def lineitem_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix of the lineitem numeric
    columns — the multi-column statistical profile every data-quality
    stack computes before training (collinearity, drift baselines).

    ONE map-combinable global aggregate carries all 15 exact decimal
    sums (n, 4 Σx, 4 Σx², 6 Σxy) — a single reduce of ~15 numbers
    whatever the corpus size; every pairwise r is then closed-form
    double arithmetic on that one row (the grouped-OLS trick of
    events_user_trend, globalized), and the 6-pair matrix unpivots via
    ``stack``.  All inputs are ≤2-dp values bounded well inside the
    decimal-multiply fast path of both engines (see the
    events_user_trend precision note)."""
    li = t(spark, sf_dir, "lineitem")
    # stage the 4 decimal casts once per row; the 14 sum expressions
    # then reference the staged columns instead of re-casting inside
    # every product
    staged = li.select(*[dec(c, 8, 2).alias(f"_d_{c}") for c in _CORR_COLS])
    cols = {c: F.col(f"_d_{c}") for c in _CORR_COLS}
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(cols[c]).alias(f"s_{c}"))
        aggs.append(F.sum(cols[c] * cols[c]).alias(f"ss_{c}"))
    for a, b2 in _CORR_PAIRS:
        aggs.append(F.sum(cols[a] * cols[b2]).alias(f"sp_{a}_{b2}"))
    s = staged.agg(*aggs)

    def r_expr(a, b2):
        n = F.col("n").cast("double")
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b2}").cast("double")
        saa = F.col(f"ss_{a}").cast("double")
        sbb = F.col(f"ss_{b2}").cast("double")
        sab = F.col(f"sp_{a}_{b2}").cast("double")
        return F.round(
            (n * sab - sa * sb)
            / F.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)),
            6,
        )

    pairs = s.select(
        "n",
        *[r_expr(a, b2).alias(f"r_{a}_{b2}") for a, b2 in _CORR_PAIRS],
    )
    stack_args = ", ".join(
        f"'{a}', '{b2}', r_{a}_{b2}" for a, b2 in _CORR_PAIRS
    )
    return pairs.selectExpr(
        f"stack({len(_CORR_PAIRS)}, {stack_args}) AS (col_a, col_b, pearson_r)",
        "n",
    ).select("col_a", "col_b", "n", "pearson_r")


_CORR_SUMS_SQL = ",\n         ".join(
    [
        "count(*) AS n",
        *[
            f"sum(CAST({c} AS DECIMAL(8,2))) AS s_{c}"
            for c in _CORR_COLS
        ],
        *[
            f"sum(CAST({c} AS DECIMAL(8,2)) * CAST({c} AS DECIMAL(8,2))) AS ss_{c}"
            for c in _CORR_COLS
        ],
        *[
            f"sum(CAST({a} AS DECIMAL(8,2)) * CAST({b} AS DECIMAL(8,2))) AS sp_{a}_{b}"
            for a, b in _CORR_PAIRS
        ],
    ]
)

_CORR_ARMS_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{a}' AS col_a, '{b}' AS col_b, n,
       round((CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)
              - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)
                     - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)
                       - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))), 6)
         AS pearson_r
FROM s"""
    for a, b in _CORR_PAIRS
)

LINEITEM_CORR_SQL = f"""
WITH s AS (
  SELECT {_CORR_SUMS_SQL}
  FROM lineitem
)
{_CORR_ARMS_SQL}
"""


# --------------------------------------------------------------------------
def snapshot_diff_orders(spark, sf_dir):
    """Snapshot diff — the dataset-versioning primitive: classify every
    key of two table versions as inserted / deleted / updated /
    unchanged and count each class (plus, for updates, which column
    changed).  Version B is derived in-query by a deterministic
    "next-day load" rule (delete keys ≡0 mod 101, bump o_totalprice on
    keys ≡0 mod 97, insert offset copies of keys ≡0 mod 89) so the
    expected classes are non-trivial at every SF.

    Shape: ONE full-outer join co-partitioned on the key — both sides
    shuffle once, change detection is a null-safe column comparison
    inside the join's projection, and the class counts are a
    map-combinable aggregate of the join output.  At 100 TB this is
    the minimal-movement diff: no row leaves its key partition, no
    second pass, and the per-class result is 4 rows whatever the
    table size."""
    o = t(spark, sf_dir, "orders")
    b = (
        o.filter(F.col("o_orderkey") % 101 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 97 == 0,
                F.col("o_totalprice") + F.lit(10.0),
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 89 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(100000000)
            )
        )
    )
    a2 = o.select(
        F.col("o_orderkey").alias("key"),
        F.struct(*[c for c in o.columns if c != "o_orderkey"]).alias("_a"),
    )
    b2 = b.select(
        F.col("o_orderkey").alias("key"),
        F.struct(*[c for c in b.columns if c != "o_orderkey"]).alias("_b"),
    )
    j = a2.join(b2, "key", "full_outer")
    change = (
        F.when(F.col("_a").isNull(), F.lit("inserted"))
        .when(F.col("_b").isNull(), F.lit("deleted"))
        .when(~F.col("_a").eqNullSafe(F.col("_b")), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(change.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


SNAPSHOT_DIFF_SQL = """
WITH b AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 101 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 89 = 0
),
j AS (
  SELECT CASE
           WHEN a.o_orderkey IS NULL THEN 'inserted'
           WHEN b.o_orderkey IS NULL THEN 'deleted'
           WHEN NOT (a.o_custkey IS NOT DISTINCT FROM b.o_custkey
                     AND a.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus
                     AND a.o_totalprice IS NOT DISTINCT FROM b.o_totalprice
                     AND a.o_orderdate IS NOT DISTINCT FROM b.o_orderdate
                     AND a.o_orderpriority IS NOT DISTINCT FROM b.o_orderpriority)
             THEN 'updated'
           ELSE 'unchanged'
         END AS change_type
  FROM orders a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
)
SELECT change_type, count(*) AS n_rows FROM j GROUP BY change_type
"""



# --------------------------------------------------------------------------
_SEQ_PATTERNS = [
    # event-type initials: c=click, e=error, p=purchase, s=signup, v=view
    ("funnel_vcp", "v.*c.*p"),
    ("funnel_vcp_clean", "v[^e]*c[^e]*p"),
    ("signup_to_purchase", "s.*p"),
]


def events_sequence_match(spark, sf_dir):
    """CEP-lite SEQUENCE PATTERN MATCHING over per-user event streams —
    the complex-event-processing primitive SQL engines expose as
    MATCH_RECOGNIZE (absent from both Spark and DuckDB): each user's
    events, ordered by (ts, event_id), collapse to a type-initial
    string and regular expressions match ORDERED patterns with
    arbitrary gaps — including the negative condition ("no error
    between the funnel steps", ``v[^e]*c[^e]*p``) that min-timestamp
    funnel queries (events_funnel_steps) cannot express.

    Scale: one groupBy on the high-cardinality user key (map-side
    combinable collect), per-user state bounded by that user's
    activity, regexes evaluated once per USER (not per event) by
    codegen'd JVM expressions.  This is the standard distributed CEP
    shape: sessionless per-key sequence fold + finite-pattern scan.

    Determinism: (ts, event_id) ordering is tie-free (event_id unique);
    both engines sort the same struct order and concatenate the same
    initials.
    """
    e = t(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("ts"),
                            F.col("event_id"),
                            F.substring("event_type", 1, 1).alias("ch"),
                        )
                    )
                ),
                lambda s: s["ch"],
            ),
        ).alias("seq")
    )
    aggs = [F.count(F.lit(1)).alias("n_users")]
    for name, pat in _SEQ_PATTERNS:
        aggs.append(
            F.sum(F.col("seq").rlike(pat).cast("long")).alias(name)
        )
    return seq.agg(*aggs)


EVENTS_SEQUENCE_SQL = """
WITH seq AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
  FROM events GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN regexp_matches(s, 'v.*c.*p')
                     THEN 1 ELSE 0 END) AS BIGINT) AS funnel_vcp,
       CAST(sum(CASE WHEN regexp_matches(s, 'v[^e]*c[^e]*p')
                     THEN 1 ELSE 0 END) AS BIGINT) AS funnel_vcp_clean,
       CAST(sum(CASE WHEN regexp_matches(s, 's.*p')
                     THEN 1 ELSE 0 END) AS BIGINT) AS signup_to_purchase
FROM seq
"""


def orders_cdc_apply(spark, sf_dir):
    """CHANGE-DATA-CAPTURE APPLY — materialize the current snapshot
    from a base table plus an ordered change log (the lakehouse
    ingestion primitive behind Delta/Hudi/Iceberg merge-on-read):
    last-writer-wins per key by sequence number, deletes drop the key.
    The log is derived deterministically in-query from orders so both
    engines replay the identical stream: seq 0 = the base insert for
    every order, seq 1 = an UPDATE (status 'X', price+10) for keys
    divisible by 5, seq 2 = a DELETE for keys divisible by 11.

    Scale: one union of three narrow projections of the same scan, one
    rank window partitioned by the HIGH-cardinality order key (no
    parallelism collapse), aggregate output |status| rows.  At 100 TB
    this is exactly the CDC-compaction plan: shuffle by key once,
    resolve versions in-partition, never a global sort.  Money sums in
    exact DECIMAL (order-insensitive), surfaced as double.
    """
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(0).alias("_seq"),
        F.lit("I").alias("_op"),
    )
    upd = o.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
        F.lit(1).alias("_seq"),
        F.lit("U").alias("_op"),
    )
    dele = o.filter(F.col("o_orderkey") % 11 == 0).select(
        "o_orderkey",
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(2).alias("_seq"),
        F.lit("D").alias("_op"),
    )
    log = base.unionByName(upd).unionByName(dele)
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("_seq"))
    snap = (
        log.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("_op") != "D"))
    )
    return snap.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )


ORDERS_CDC_SQL = """
WITH log AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS seq, 'I' AS op
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'X', o_totalprice + 10.0, 1, 'U'
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, NULL, NULL, 2, 'D'
  FROM orders WHERE o_orderkey % 11 = 0
),
snap AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey
                               ORDER BY seq DESC) AS rn
  FROM log
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         AS total_price
FROM snap WHERE rn = 1 AND op <> 'D'
GROUP BY 1
"""


def orders_skyline_price_date(spark, sf_dir):
    """2-D SKYLINE (Pareto frontier): orders not dominated in
    (earlier-or-equal date, cheaper-or-equal price, strictly better in
    at least one) — the multi-criteria "best offers" operator.  A row
    survives iff no strictly earlier date reached a ≤ price (prefix
    minimum) and no same-date row is strictly cheaper.

    Scale — the dimension-reduction plan, NOT a quadratic NOT EXISTS
    and NOT a global row window: per-date minima first (a map-side
    combinable aggregate with |dates| output rows), a lag/prefix-min
    window over THAT tiny date relation only, then one broadcast join
    back to the corpus.  The full fact table is scanned twice, never
    globally sorted, never self-joined.  Duplicated (date, price)
    points are all kept (neither dominates: no strict coordinate).
    """
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("_d"),
        "o_totalprice",
    )
    per_date = o.groupBy("_d").agg(F.min("o_totalprice").alias("_dmin"))
    w = Window.orderBy("_d").rowsBetween(
        Window.unboundedPreceding, -1
    )
    spine = per_date.select(
        "_d",
        "_dmin",
        F.min("_dmin").over(w).alias("_before_min"),
    )
    sky = (
        o.join(F.broadcast(spine), "_d")
        .filter(
            (
                F.col("_before_min").isNull()
                | (F.col("o_totalprice") < F.col("_before_min"))
            )
            & (F.col("o_totalprice") <= F.col("_dmin"))
        )
    )
    return sky.select(
        F.date_format("_d", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderkey",
        F.col("o_totalprice").alias("total_price"),
    ).orderBy("o_orderdate", "o_orderkey")


ORDERS_SKYLINE_SQL = """
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d, o_totalprice
  FROM orders
),
per_date AS (
  SELECT d, min(o_totalprice) AS dmin FROM o GROUP BY 1
),
spine AS (
  SELECT d, dmin,
         min(dmin) OVER (ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS before_min
  FROM per_date
)
SELECT strftime(o.d, '%Y-%m-%d') AS o_orderdate,
       o.o_orderkey,
       o.o_totalprice AS total_price
FROM o JOIN spine USING (d)
WHERE (spine.before_min IS NULL OR o.o_totalprice < spine.before_min)
  AND o.o_totalprice <= spine.dmin
ORDER BY 1, 2
"""


_FD_CANDIDATES = [
    # (name, table, determinant cols, dependent col)
    ("orderkey_to_custkey", "orders", ["o_orderkey"], "o_custkey"),
    ("custkey_to_mktsegment", "customer", ["c_custkey"], "c_mktsegment"),
    ("orderkey_to_orderstatus_li", "lineitem", ["l_orderkey"], "l_linestatus"),
    ("suppkey_to_nationkey", "supplier", ["s_suppkey"], "s_nationkey"),
    ("partkey_to_brand", "part", ["p_partkey"], "p_brand"),
]


def audit_functional_dependencies(spark, sf_dir):
    """FUNCTIONAL-DEPENDENCY AUDIT — data-quality profiling's "does
    A determine B" check over a candidate list: for each FD A → B,
    the number of A-groups, how many of them violate the dependency
    (more than one distinct B), and the holds verdict.  Catches
    denormalization drift (one order key carrying two statuses after a
    bad merge) that row-level CHECK constraints cannot see.

    Scale: each candidate is one map-side combinable aggregate over a
    two-column projection (count_distinct partials), output one row —
    never a self-join, never a sort.  The candidate list is static, so
    the whole audit is a union of independent narrow plans.
    """
    arms = []
    for name, table, det, dep in _FD_CANDIDATES:
        g = (
            t(spark, sf_dir, table)
            .groupBy(*det)
            .agg(F.count_distinct(dep).alias("_ndep"))
        )
        arms.append(
            g.agg(
                F.lit(name).alias("fd"),
                F.count(F.lit(1)).alias("n_groups"),
                F.sum((F.col("_ndep") > 1).cast("long")).alias(
                    "n_violating"
                ),
                (F.sum((F.col("_ndep") > 1).cast("long")) == 0).alias(
                    "holds"
                ),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


AUDIT_FD_SQL = """
SELECT 'orderkey_to_custkey' AS fd,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS nd
      FROM orders GROUP BY 1)
UNION ALL
SELECT 'custkey_to_mktsegment', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
FROM (SELECT c_custkey, count(DISTINCT c_mktsegment) AS nd
      FROM customer GROUP BY 1)
UNION ALL
SELECT 'orderkey_to_orderstatus_li', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
FROM (SELECT l_orderkey, count(DISTINCT l_linestatus) AS nd
      FROM lineitem GROUP BY 1)
UNION ALL
SELECT 'suppkey_to_nationkey', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
FROM (SELECT s_suppkey, count(DISTINCT s_nationkey) AS nd
      FROM supplier GROUP BY 1)
UNION ALL
SELECT 'partkey_to_brand', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
FROM (SELECT p_partkey, count(DISTINCT p_brand) AS nd
      FROM part GROUP BY 1)
"""



def events_transition_matrix(spark, sf_dir):
    """Markov TRANSITION MATRIX over per-user event streams — "what do
    users do next": for every ordered (from_type → to_type) step, the
    transition count and the conditional probability
    P(to | from) = n / Σ_from n.  The standard product-analytics path
    model; composes with ``events_sequence_match`` (this is the
    1st-order summary, that is the arbitrary-pattern matcher).

    Scale: one lead() window partitioned by the HIGH-cardinality user
    key (no parallelism collapse), one map-combinable pair count, and
    the probability normalizer is a window over the ≤ |types|² count
    relation — constant-size at any corpus.  Probability is one
    long/long double division, bit-identical across engines.
    """
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("_next", F.lead("event_type").over(w))
        .filter(F.col("_next").isNotNull())
    )
    counts = pairs.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("_next").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    tot = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(tot).cast("double")
        ).alias("p_transition"),
    )


EVENTS_TRANSITION_SQL = """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / CAST(sum(n_transitions) OVER (PARTITION BY from_type)
                AS DOUBLE) AS p_transition
FROM counts
"""


def events_user_trend_slope(spark, sf_dir):
    """Per-user OLS TREND SLOPE of event value over time — the
    feature-engineering primitive behind "is this user's engagement
    rising or falling".  Exactness discipline: x is floor-second epoch
    CENTERED per user (x − min(x), conditioning the normal equations —
    raw epoch seconds ~1.7e9 would make n·Σxy − Σx·Σy catastrophic
    cancellation), all five sufficient statistics are EXACT (integer
    sums for x, DECIMAL(12,2) sums for the 2-decimal value column, an
    exact decimal Σxy), and the closed form runs in double only at the
    very end — bit-identical across engines, no estimator internals.

    Scale: one min-window + one aggregate, both partitioned by the
    high-cardinality user key; map-side combinable sums; output one
    row per user.  Centered x ≤ the per-user activity span in seconds,
    so Σx² stays far inside int64 for any realistic retention window
    (2.6 M s span × millions of events/user before overflow).  The
    Σxy product casts the centered x to decimal(10,0) — spans to
    10^10 s (~317 years), so the cast can never truncate a real
    timestamp span (the r08 advisory's decimal(8,0) capped it at
    ~3.2 years); decimal(12,2)·decimal(10,0) sums stay far inside
    Spark's 38-digit ceiling.
    """
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    base = e.select(
        "user_id",
        F.unix_timestamp("ts").alias("_x"),
        dec("value", 12, 2).alias("_y"),
    )
    centered = base.withColumn(
        "_xc", F.col("_x") - F.min("_x").over(w)
    )
    agg = centered.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("_xc").alias("_sx"),
        F.sum(F.col("_xc") * F.col("_xc")).alias("_sxx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_y") * F.col("_xc").cast("decimal(10,0)")).alias(
            "_sxy"
        ),
    )
    n = F.col("n_events").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    den = n * sxx - sx * sx
    return (
        agg.filter(den > 0)
        .select(
            "user_id",
            "n_events",
            F.round((n * sxy - sx * sy) / den, 9).alias("slope"),
        )
    )


EVENTS_TREND_SQL = """
WITH base AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS x,
         CAST(value AS DECIMAL(12,2)) AS y
  FROM events
),
centered AS (
  SELECT user_id, x - min(x) OVER (PARTITION BY user_id) AS xc, y
  FROM base
),
agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(xc) AS BIGINT) AS sx,
         CAST(sum(xc * xc) AS BIGINT) AS sxx,
         sum(y) AS sy,
         sum(y * CAST(xc AS DECIMAL(10,0))) AS sxy
  FROM centered GROUP BY 1
)
SELECT user_id, n_events,
       round((CAST(n_events AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n_events AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9) AS slope
FROM agg
WHERE CAST(n_events AS DOUBLE) * CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
"""



_WPCT_PS = [("0.25", 1, 4), ("0.50", 1, 2), ("0.75", 3, 4)]
_WPCT_BUCKETS = 256


def lineitem_weighted_percentiles(spark, sf_dir):
    """EXACT weighted percentiles (quantity-weighted price quartiles)
    by two-pass COUNTING SELECTION — the scale-correct way to get an
    exact order statistic out of a distributed table without ever
    sorting it: pass 1 buckets the integer-cents value domain into 256
    ranges and aggregates each bucket's total weight (map-combinable;
    the bucket relation is a bounded driver collect, the same
    gate-probe shape as the tfidf/CMS probes); the driver prefix-sums
    256 rows and finds each percentile's target bucket; pass 2
    re-scans ONLY those ≤3 buckets — the bucket bounds translate to
    BETWEEN predicates on the raw price column, so the filter pushes
    into the parquet scan — and ranks the few surviving distinct
    values.  Exactness is all-integer: cents = decimal(12,2)·100,
    whole-unit weights, and the percentile condition
    ``b·cumW ≥ a·W`` (for p = a/b) never touches a float; the answer
    is bit-identical to the oracle's full cumulative-window scan.

    Scale: no global sort, no global window over data rows; the only
    windows run over one bucket's distinct values (|domain|/256).  A
    skewed bucket can be recursed with the same two passes — noted,
    not needed at any tested SF.
    """
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem")
    v = li.select(
        (dec("l_extendedprice", 12, 2) * 100).cast("long").alias("_c"),
        F.col("l_quantity").cast("long").alias("_w"),
    )
    lo, hi = v.agg(F.min("_c"), F.max("_c")).collect()[0]
    width = max(1, (int(hi) - int(lo) + _WPCT_BUCKETS) // _WPCT_BUCKETS)
    bucketed = v.groupBy(
        ((F.col("_c") - F.lit(int(lo))) / F.lit(width))
        .cast("long")
        .alias("_b")
    ).agg(F.sum("_w").alias("_bw"))
    rows = sorted(
        (int(r["_b"]), int(r["_bw"])) for r in bucketed.collect()
    )
    total = sum(bw for _, bw in rows)
    targets = {}  # bucket -> list of (label, a, b, prior_cum)
    for label, a, b in _WPCT_PS:
        cum = 0
        for bkt, bw in rows:
            if (cum + bw) * b >= total * a:
                targets.setdefault(bkt, []).append((label, a, b, cum))
                break
            cum += bw
    cond = None
    for bkt in targets:
        c_lo = int(lo) + bkt * width
        c_hi = c_lo + width - 1
        rng = F.col("_c").between(c_lo, c_hi)
        cond = rng if cond is None else (cond | rng)
    per_value = (
        v.filter(cond)
        .groupBy("_c")
        .agg(F.sum("_w").alias("_vw"))
        .withColumn(
            "_b",
            ((F.col("_c") - F.lit(int(lo))) / F.lit(width)).cast("long"),
        )
    )
    w = Window.partitionBy("_b").orderBy("_c")
    ranked = per_value.withColumn("_cum", F.sum("_vw").over(w))
    arms = []
    for bkt, specs in targets.items():
        for label, a, b, prior in specs:
            hit = (
                ranked.filter(F.col("_b") == bkt)
                .filter((F.col("_cum") + F.lit(prior)) * b >= total * a)
                .agg(
                    F.lit(label).alias("p"),
                    (F.min("_c").cast("double") / 100.0).alias("value"),
                    F.lit(total).cast("long").alias("total_weight"),
                )
            )
            arms.append(hit)
    out = arms[0]
    for a_ in arms[1:]:
        out = out.unionByName(a_)
    return out.orderBy("p")


WEIGHTED_PCT_SQL = """
WITH v AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
           AS cents,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
),
pv AS (SELECT cents, sum(w) AS w FROM v GROUP BY 1),
c AS (
  SELECT cents,
         sum(w) OVER (ORDER BY cents) AS cw,
         (SELECT sum(w) FROM pv) AS tw
  FROM pv
)
SELECT '0.25' AS p, CAST(min(cents) AS DOUBLE) / 100.0 AS value,
       CAST(any_value(tw) AS BIGINT) AS total_weight
FROM c WHERE cw * 4 >= tw
UNION ALL
SELECT '0.50', CAST(min(cents) AS DOUBLE) / 100.0,
       CAST(any_value(tw) AS BIGINT)
FROM c WHERE cw * 2 >= tw
UNION ALL
SELECT '0.75', CAST(min(cents) AS DOUBLE) / 100.0,
       CAST(any_value(tw) AS BIGINT)
FROM c WHERE cw * 4 >= tw * 3
ORDER BY p
"""


QUERIES: dict[str, Q] = {
    "events_sequence_match": Q(events_sequence_match, EVENTS_SEQUENCE_SQL),
    "events_transition_matrix": Q(
        events_transition_matrix, EVENTS_TRANSITION_SQL
    ),
    "events_user_trend_slope": Q(
        events_user_trend_slope, EVENTS_TREND_SQL
    ),
    "orders_cdc_apply": Q(orders_cdc_apply, ORDERS_CDC_SQL),
    "orders_skyline_price_date": Q(
        orders_skyline_price_date, ORDERS_SKYLINE_SQL
    ),
    "audit_functional_dependencies": Q(
        audit_functional_dependencies, AUDIT_FD_SQL
    ),
    "lineitem_weighted_percentiles": Q(
        lineitem_weighted_percentiles, WEIGHTED_PCT_SQL
    ),
    "snapshot_diff_orders": Q(snapshot_diff_orders, SNAPSHOT_DIFF_SQL),
    "lineitem_corr_matrix": Q(lineitem_corr_matrix, LINEITEM_CORR_SQL),
    "events_ewma": Q(events_ewma, EVENTS_EWMA_SQL),
    "part_skyline_pareto": Q(part_skyline_pareto, PART_SKYLINE_SQL),
    "audit_referential_integrity": Q(
        audit_referential_integrity, AUDIT_RI_SQL
    ),
    "scd2_customer_segments": Q(scd2_customer_segments, SCD2_SQL),
    "join_pit_segment_revenue": Q(join_pit_segment_revenue, JOIN_PIT_SQL),
    "join_fuzzy_customer_names": Q(
        join_fuzzy_customer_names, FUZZY_JOIN_SQL
    ),
    "events_user_trend": Q(events_user_trend, USER_TREND_SQL),
    "events_type_bigrams": Q(events_type_bigrams, TYPE_BIGRAMS_SQL),
    "text_language_id": Q(text_language_id, TEXT_LANGID_SQL),
    "events_sliding_rollup": Q(events_sliding_rollup, EVENTS_SLIDING_SQL),
    "join_salted_user_events": Q(join_salted_user_events, JOIN_SALTED_SQL),
    "join_asof_click_error": Q(join_asof_click_error, JOIN_ASOF_SQL),
    "sessionize_events": Q(sessionize_events, SESSIONIZE_SQL),
    "subquery_scalar_exists": Q(subquery_scalar_exists, SUBQUERY_SQL),
    "text_rolling_fingerprint": Q(text_rolling_fingerprint, TEXT_ROLLING_SQL),
    "scalar_regex_functions": Q(scalar_regex_functions, SCALAR_REGEX_SQL),
    "scalar_null_conditional": Q(scalar_null_conditional, SCALAR_NULL_SQL),
    "pivot_event_type_by_day": Q(pivot_event_type_by_day, PIVOT_SQL),
    "join_on_expression": Q(join_on_expression, JOIN_EXPR_SQL),
    "dedup_embedding_cosine": Q(dedup_embedding_cosine, DEDUP_COSINE_SQL),
    "dedup_semantic_clusters": Q(dedup_semantic_clusters, SEMANTIC_CLUSTERS_SQL),
    "events_gap_fill": Q(events_gap_fill, GAP_FILL_SQL),
    "array_functions": Q(array_functions, ARRAY_FN_SQL),
    "agg_macro_avg_rounded": Q(agg_macro_avg_rounded, AGG_MACRO_SQL),
    "events_mad_outliers": Q(events_mad_outliers, EVENTS_MAD_SQL),
    "customer_abc_pareto": Q(customer_abc_pareto, CUSTOMER_ABC_SQL),
    "events_zscore_outliers": Q(events_zscore_outliers, ZSCORE_SQL),
    "view_click_attribution": Q(view_click_attribution, VIEW_CLICK_SQL),
    "scalar_bit_interleave": Q(scalar_bit_interleave, BIT_INTERLEAVE_SQL),
    "customer_rfm_segments": Q(customer_rfm_segments, RFM_SQL),
    "customer_rfm_segments_approx": Q(customer_rfm_segments_approx, None),
    "customer_rfm_segments_approx_audit": Q(
        customer_rfm_segments_approx_audit, RFM_AUDIT_SQL
    ),
    "events_funnel_steps": Q(events_funnel_steps, FUNNEL_STEPS_SQL),
    "events_retention_cohorts": Q(events_retention_cohorts, RETENTION_SQL),
    "basket_part_affinity": Q(basket_part_affinity, BASKET_SQL),
    "graph_pagerank3": Q(graph_pagerank3, PAGERANK_SQL),
    "profile_orders_quality": Q(profile_orders_quality, PROFILE_SQL),
    "profile_drift_orders": Q(profile_drift_orders, PROFILE_DRIFT_SQL),
    "privacy_k_anonymity": Q(privacy_k_anonymity, PRIVACY_K_ANON_SQL),
    "audit_row_constraints": Q(
        audit_row_constraints, AUDIT_ROW_CONSTRAINTS_SQL
    ),
    "events_chi2_type_dow": Q(events_chi2_type_dow, EVENTS_CHI2_SQL),
    "events_survival_km": Q(events_survival_km, EVENTS_SURVIVAL_SQL),
    "events_ab_proportion_z": Q(events_ab_proportion_z, EVENTS_AB_Z_SQL),
    "audit_key_gaps": Q(audit_key_gaps, AUDIT_KEY_GAPS_SQL),
    "audit_table_checksum": Q(audit_table_checksum, AUDIT_CHECKSUM_SQL),
    "audit_benford_prices": Q(audit_benford_prices, AUDIT_BENFORD_SQL),
    "profile_compaction_plan": Q(
        profile_compaction_plan, COMPACTION_PLAN_SQL
    ),
    "profile_table_files": Q(profile_table_files, PROFILE_FILES_SQL),
    "profile_table_files_fast": Q(profile_table_files_fast, PROFILE_FILES_SQL),
    "scalar_try_functions": Q(scalar_try_functions, SCALAR_TRY_SQL),
    "events_value_histogram": Q(events_value_histogram, HISTOGRAM_SQL),
    "events_funnel_summary": Q(events_funnel_summary, FUNNEL_SUMMARY_SQL),
    "events_sliding_uniques": Q(events_sliding_uniques, SLIDING_UNIQ_SQL),
    "sample_weighted_topk": Q(sample_weighted_topk, WEIGHTED_SAMPLE_SQL),
    "text_language_confidence": Q(
        text_language_confidence, TEXT_LANG_CONF_SQL
    ),
    "events_key_skew_report": Q(events_key_skew_report, SKEW_REPORT_SQL),
    "orders_monthly_growth": Q(orders_monthly_growth, MONTHLY_GROWTH_SQL),
    "events_hourly_percentiles": Q(
        events_hourly_percentiles, HOURLY_PCTL_SQL
    ),
    "events_hourly_percentiles_approx": Q(
        events_hourly_percentiles_approx, None
    ),
    "events_hourly_percentiles_approx_audit": Q(
        events_hourly_percentiles_approx_audit, HOURLY_PCTL_AUDIT_SQL
    ),
    "events_rolling_dau": Q(events_rolling_dau, ROLLING_DAU_SQL),
    "dedup_source_matrix": Q(dedup_source_matrix, SOURCE_MATRIX_SQL),
    "knn_degree_stats": Q(knn_degree_stats, DEGREE_STATS_SQL),
}
