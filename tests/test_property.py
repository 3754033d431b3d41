"""Property-based tests (hypothesis): operators whose semantics have a
trivially-correct Python oracle get hammered with randomized inputs —
the cases a hand-written fixture never thinks of (empty strings,
heavy duplication, overlapping runs).

Examples are kept small and few (each runs Spark jobs); the value is
input SHAPE coverage, not volume."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

KEYS = st.integers(min_value=0, max_value=9)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet="ab ",
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_exact_dedup_matches_set_semantics(spark, texts):
    """exact_dedup_stats keeps exactly the lowest id per normalized
    fingerprint, for ANY input — including empty strings, whitespace-only
    strings, and heavy duplication."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        exact_dedup_stats,
    )

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    kept = sorted(
        r["keeper_id"]
        for r in exact_dedup_stats(df, "doc_id", "text").collect()
    )

    def norm(s: str) -> str:
        return " ".join(s.lower().split())

    first_seen: dict[str, int] = {}
    for i, s in rows:
        first_seen.setdefault(norm(s), i)
    assert kept == sorted(first_seen.values())


@st.composite
def bpe_corpus(draw):
    # short words over a 3-letter alphabet → dense pair collisions,
    # overlapping-run edge cases ('aaa'), and merged-symbol re-pairing
    word = st.text(alphabet="abc", min_size=1, max_size=6)
    return draw(
        st.dictionaries(
            word,
            st.integers(min_value=1, max_value=9),
            min_size=1,
            max_size=8,
        )
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(words=bpe_corpus())
def test_bpe_train_matches_python_reference_randomized(spark, words):
    from rick_and_morty_data_pipeline_project_spark.operators.bpe import (
        symbols_col,
        train_bpe,
    )
    from tests.test_bpe import _py_bpe

    df = spark.createDataFrame(list(words.items()), "word string, cnt long")
    got, final = train_bpe(df, 3)
    want, segs = _py_bpe(dict(words), 3)
    assert [(m.left, m.right, m.pair_weight) for m in got] == want
    got_segs = {
        r["word"]: r["s"]
        for r in final.select("word", symbols_col("w").alias("s")).collect()
    }
    assert got_segs == segs


@st.composite
def scd2_scenario(draw):
    attrs = st.sampled_from(["A", "B", "C", None])
    current_keys = draw(st.sets(KEYS, min_size=0, max_size=6))
    current = {k: draw(attrs) for k in current_keys}
    n_batches = draw(st.integers(min_value=1, max_value=3))
    batches = []
    for day in range(n_batches):
        upd_keys = draw(st.sets(KEYS, min_size=0, max_size=6))
        batches.append(
            {k: draw(attrs) for k in upd_keys}
        )
    return current, batches


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(scenario=scd2_scenario())
def test_scd2_sequential_applies_preserve_invariants(spark, scenario):
    """Random update sequences: per key exactly one open row, gapless
    strictly-increasing intervals, and the open attr equals the last
    effective change applied for that key."""
    from collections import defaultdict

    from rick_and_morty_data_pipeline_project_spark.operators.scd import (
        OPEN_END,
        scd2_apply,
    )

    current_map, batches = scenario
    state = spark.createDataFrame(
        [
            (k, v, "2000-01-01", OPEN_END, 1)
            for k, v in current_map.items()
        ],
        "k long, attr string, valid_from string, valid_to string, is_current int",
    )
    expected_attr = dict(current_map)
    for i, batch in enumerate(batches):
        eff = f"200{i + 1}-01-01"
        upd = spark.createDataFrame(
            [(k, v, eff) for k, v in batch.items()],
            "k long, attr string, effective_date string",
        )
        state = scd2_apply(state, upd, key="k", tracked=["attr"])
        expected_attr.update(batch)
    rows = state.collect()
    by_key = defaultdict(list)
    for r in rows:
        by_key[r["k"]].append(r)
    assert set(by_key) == set(expected_attr)
    for k, rs in by_key.items():
        opens = [r for r in rs if r["is_current"] == 1]
        assert len(opens) == 1 and opens[0]["valid_to"] == OPEN_END
        assert opens[0]["attr"] == expected_attr[k]
        for r in rs:
            assert r["valid_from"] < r["valid_to"]
        rs_sorted = sorted(rs, key=lambda r: r["valid_from"])
        for a, b in zip(rs_sorted, rs_sorted[1:]):
            assert a["valid_to"] == b["valid_from"]


def _py_lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    names=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=5),
        min_size=0,
        max_size=10,
    )
)
def test_fastss_fuzzy_join_complete_vs_bruteforce(spark, names):
    """Deletion-neighborhood join must find EXACTLY the brute-force
    all-pairs lev≤1 set — including empty strings, exact duplicates
    (distance 0), and indel pairs — on random short strings."""
    from rick_and_morty_data_pipeline_project_spark.operators.fuzzy import (
        fuzzy_pairs_lev1,
    )

    df = spark.createDataFrame(
        list(enumerate(names)), "id long, name string"
    )
    got = {
        (r["id_a"], r["id_b"], r["edit_distance"])
        for r in fuzzy_pairs_lev1(df, "id", "name").collect()
    }
    want = {
        (i, j, _py_lev(names[i], names[j]))
        for i in range(len(names))
        for j in range(i + 1, len(names))
        if _py_lev(names[i], names[j]) <= 1
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=16),
        min_size=1,
        max_size=10,
    )
)
def test_bm25_scores_match_python_reference(spark, texts):
    """bm25_scores matches a direct Python implementation of Okapi BM25
    (same tokenization, same pre-folded constants, same per-term
    rounding) for ANY corpus — including empty strings, whitespace-only
    docs (split(' ') yields empty-string tokens in BOTH engines), and
    corpora where no document matches.  Scores compare within one
    rounding grain (the engine sums exact decimals; the reference sums
    the same quantized contributions — only the pre-rounding ln/division
    float path may differ by ulps)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from rick_and_morty_data_pipeline_project_spark.queries.retrievalq import (
        bm25_scores,
    )

    terms = ("a", "b")
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(df, "doc_id", "text", terms).collect()
    }

    toks = {i: s.split(" ") for i, s in rows}
    n_docs = len(rows)
    dls = {i: len(tk) for i, tk in toks.items()}
    avgdl = float(sum(dls.values())) / n_docs
    tf: dict = {}
    for i, tk in toks.items():
        for term in tk:
            if term in terms:
                tf[(i, term)] = tf.get((i, term), 0) + 1
    dfreq: dict = {}
    for (_, term) in tf:
        dfreq[term] = dfreq.get(term, 0) + 1
    want: dict = {}
    for (i, term), f in tf.items():
        idf = math.log(1 + (n_docs - dfreq[term] + 0.5) / (dfreq[term] + 0.5))
        tfc = (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * (dls[i] / avgdl)))
        contrib = Decimal(idf * tfc).quantize(
            Decimal("0.000001"), ROUND_HALF_UP
        )
        want[i] = want.get(i, Decimal(0)) + contrib

    assert set(got) == set(want)
    for i, score in want.items():
        assert abs(got[i] - float(score)) <= 2e-6, (i, got[i], score)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),      # user_id
            st.integers(min_value=0, max_value=10_000),  # ts offset (s)
            st.integers(min_value=-500, max_value=500),  # value ×0.01
        ),
        min_size=1,
        max_size=40,
    )
)
def test_events_ewma_matches_python_recursion(spark, tmp_path_factory, rows):
    """The JVM-fold EWMA must equal the straightforward Python
    recursion yₜ = α·xₜ + (1−α)·yₜ₋₁ over the (ts, event_id)-ordered
    stream, for arbitrary per-user event shapes (single event, ties on
    ts broken by event_id, negative values)."""
    import datetime as dt

    import pandas as pd

    from rick_and_morty_data_pipeline_project_spark.queries.extraq import (
        _EWMA_ALPHA,
        _EWMA_ONE_MINUS,
        events_ewma,
    )

    base = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [base + dt.timedelta(seconds=s) for _, s, _ in rows],
            "user_id": [u for u, _, _ in rows],
            "event_type": "view",
            "value": [v / 100.0 for _, _, v in rows],
            "props": "{}",
        }
    )
    d = tmp_path_factory.mktemp("ewma")
    pdf.to_parquet(d / "events.parquet", index=False)

    got = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in events_ewma(spark, str(d)).collect()
    }

    want = {}
    for u in sorted({u for u, _, _ in rows}):
        evs = sorted(
            (
                (pdf.ts[i], pdf.event_id[i], pdf.value[i])
                for i in range(len(rows))
                if pdf.user_id[i] == u
            ),
        )
        y = evs[0][2]
        for _, _, x in evs[1:]:
            y = _EWMA_ALPHA * x + _EWMA_ONE_MINUS * y
        want[u] = (len(evs), y)

    assert set(got) == set(want)
    from decimal import ROUND_HALF_UP, Decimal

    for u in want:
        assert got[u][0] == want[u][0]
        # the query returns round(ewma, 6); Spark's double round goes
        # through BigDecimal.valueOf (shortest repr) with HALF_UP —
        # mirror it exactly instead of comparing the raw fold
        want_rounded = float(
            Decimal(repr(want[u][1])).quantize(
                Decimal("1e-6"), ROUND_HALF_UP
            )
        )
        assert got[u][1] == want_rounded, (u, got[u], want[u])


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),       # p_size
            st.integers(min_value=100, max_value=999),   # price ×0.1
        ),
        min_size=1,
        max_size=30,
    )
)
def test_part_skyline_matches_bruteforce_dominance(
    spark, tmp_path_factory, rows
):
    """The staircase skyline must equal the O(n²) dominance
    definition — q dominates p iff q.price ≤ p.price ∧ q.size ≥ p.size
    with one strict — including duplicate points (mutually
    non-dominating) and same-price/same-size ties."""
    import pandas as pd

    from rick_and_morty_data_pipeline_project_spark.queries.extraq import (
        part_skyline_pareto,
    )

    pts = [(i, sz, pr / 10.0) for i, (sz, pr) in enumerate(rows)]
    pdf = pd.DataFrame(
        {
            "p_partkey": [i for i, _, _ in pts],
            "p_name": "x",
            "p_brand": "b",
            "p_type": "t",
            "p_size": [s for _, s, _ in pts],
            "p_retailprice": [p for _, _, p in pts],
        }
    )
    d = tmp_path_factory.mktemp("skyline")
    pdf.to_parquet(d / "part.parquet", index=False)

    got = {
        r["p_partkey"]
        for r in part_skyline_pareto(spark, str(d)).collect()
    }

    def dominated(p):
        _, psz, ppr = p
        return any(
            (qpr <= ppr and qsz >= psz and (qpr < ppr or qsz > psz))
            for _, qsz, qpr in pts
        )

    want = {i for (i, *_), p in zip(pts, pts) if not dominated(p)}
    assert got == want


@st.composite
def concurrency_scenario(draw):
    """Events across ≤3 users and ≤3 days, timestamps drawn in seconds
    (incl. second-boundary and near-midnight values, the bug class the
    r8 review caught)."""
    n = draw(st.integers(min_value=1, max_value=12))
    rows = []
    for i in range(n):
        user = draw(st.integers(min_value=1, max_value=3))
        day = draw(st.integers(min_value=1, max_value=3))
        sec = draw(
            st.one_of(
                st.integers(min_value=0, max_value=86399),
                st.sampled_from([0, 1, 86398, 86399]),  # boundary bias
            )
        )
        rows.append((i, user, day, sec))
    return rows


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(scenario=concurrency_scenario())
def test_sweep_line_concurrency_matches_python_oracle(
    spark, tmp_path_factory, scenario
):
    """events_max_concurrency ≡ a brute-force Python sweep: per
    (user, day) interval [min_ts, min(max_ts+1s, midnight)), peak =
    max over boundary instants of intervals covering them — day
    attribution by the SESSION's day, the reviewed semantics."""
    import datetime

    from rick_and_morty_data_pipeline_project_spark.queries import statsq

    base = datetime.datetime(2024, 3, 1)
    events = [
        (
            i,
            base
            + datetime.timedelta(days=day - 1, seconds=sec),
            user,
            "click",
            1.0,
            "{}",
        )
        for i, user, day, sec in scenario
    ]
    tmp = tmp_path_factory.mktemp("sweep")
    spark.createDataFrame(
        events,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp / "events.parquet")
    )

    # Python oracle: brute-force interval cover counts per day
    sessions: dict[tuple, list] = {}
    for _i, ts, user, *_ in events:
        key = (user, ts.date())
        lo, hi = sessions.get(key, (ts, ts))
        sessions[key] = (min(lo, ts), max(hi, ts))
    by_day: dict = {}
    for (user, day), (lo, hi) in sessions.items():
        end = min(
            hi + datetime.timedelta(seconds=1),
            datetime.datetime.combine(
                day + datetime.timedelta(days=1), datetime.time()
            ),
        )
        by_day.setdefault(day, []).append((lo, end))
    want = {}
    for day, ivals in by_day.items():
        instants = sorted({b for iv in ivals for b in iv})
        peak = max(
            sum(1 for (lo, end) in ivals if lo <= t_ < end)
            for t_ in instants
        )
        want[day.isoformat()] = (len(instants), peak)

    got = {
        r["day"]: (r["n_instants"], r["max_concurrency"])
        for r in statsq.events_max_concurrency(
            spark, str(tmp)
        ).collect()
    }
    assert got == want, (got, want)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    orders=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),  # custkey
            st.integers(min_value=0, max_value=9999),  # cents
        ),
        min_size=1,
        max_size=12,
    )
)
def test_gini_bucketed_ranking_matches_python_oracle(
    spark, tmp_path_factory, orders
):
    """customer_gini_revenue ≡ a trivially-correct Python reference:
    ranks from a plain sort on (cents, custkey), G from the same IEEE
    double expression — exercises duplicate revenues (forced rank
    ties broken by key), single-customer corpora, and bucket-boundary
    values the 256-range histogram must place consistently."""
    from rick_and_morty_data_pipeline_project_spark.queries import statsq

    tmp = tmp_path_factory.mktemp("gini")
    rows = [
        (i, ck, cents / 100.0)
        for i, (ck, cents) in enumerate(orders)
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp / "orders.parquet")
    )

    rev: dict[int, int] = {}
    for _i, ck, price in rows:
        rev[ck] = rev.get(ck, 0) + round(price * 100)
    ranked = sorted(rev.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(ranked)
    sc = sum(c for _k, c in ranked)
    sic = sum((i + 1) * c for i, (_k, c) in enumerate(ranked))
    if sc == 0:
        return  # all-zero revenue: G is 0/0, filtered domain
    want = 2.0 * float(sic) / (float(n) * float(sc)) - (
        float(n) + 1.0
    ) / float(n)

    got = statsq.customer_gini_revenue(spark, str(tmp)).collect()[0]
    assert got["n_customers"] == n
    assert abs(got["gini"] - want) < 1e-9, (got["gini"], want)
