"""Physical-plan assertions — the properties that matter at 100 TB.

A correct result with the wrong plan fails these tests: filters must
reach the parquet scan, projections must prune the read schema, dims
must broadcast, top-k must be TakeOrderedAndProject (not a global sort).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.plans.explain_utils import (
    formatted_plan,
    has_broadcast_join,
    has_take_ordered,
    partial_group_limits_below_exchange,
    pushed_filters,
    read_schemas,
    subtrees_below,
)
from rick_and_morty_data_pipeline_project_spark.queries.catalog import QUERIES
from tests.conftest import SF_SMALL


def test_filter_pushdown_reaches_parquet(spark):
    df = QUERIES["q2_scan_filter_project"].fn(spark, SF_SMALL)
    pushed = pushed_filters(df)
    assert pushed, "no PushedFilters in plan"
    joined = ";".join(pushed)
    assert "l_shipdate" in joined and "l_discount" in joined, joined


def test_column_pruning(spark):
    df = QUERIES["q2_scan_filter_project"].fn(spark, SF_SMALL)
    schemas = read_schemas(df)
    assert schemas, "no ReadSchema in plan"
    # 11-column lineitem must be read as only the 5 referenced columns
    assert all(s.count(":") <= 6 for s in schemas), schemas
    assert "l_extendedprice" not in schemas[0], schemas


def test_dim_joins_broadcast(spark):
    df = QUERIES["q5_nation_volume"].fn(spark, SF_SMALL)
    assert has_broadcast_join(df)


def test_two_stage_topk_is_heap_topk(spark):
    df = QUERIES["topk_two_stage_parts"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    # neither stage should degenerate into a global Sort + Exchange
    assert plan.count("TakeOrderedAndProject") >= 2, plan


def test_best_match_ranks_only_bounded_prefixes(spark):
    """EP-3 (best match WITH replacement) must never window-partition the
    full candidate relation on the ≤30-key (top, second) pair: all 6
    per-emotion prefixes come from ONE corpus pass whose rank window
    gets a map-side partial limit below its exchange
    (per_emotion_topk_prefixes — not 6 rescans, not a
    pairs-crossJoin-corpus), every window/join downstream sees only the
    ≤6·k1-row prefix union, and no stage runs in a Python worker (the
    pair literal is a LocalRelation, not a Python-RDD LogicalRDD)."""
    df = QUERIES["flagship_best_match_with_replacement"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    partial = partial_group_limits_below_exchange(df)
    assert len(partial) == 1, plan
    assert partial[0].startswith("[_prefix_emotion#"), partial
    assert partial[0].endswith("row_number(), 100, Partial"), partial
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, (node, plan)
    assert "LogicalRDD" not in df._jdf.queryExecution().optimizedPlan().toString()
    # single corpus pass for the prefix side: the candidate relation is
    # scanned once there, plus the two left-side (episodes) subtrees —
    # the 6-rescans-of-the-scorer shape would show ≥8 document scans
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans <= 4, (n_scans, plan)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_sort_limit_is_heap_topk(spark):
    df = QUERIES["sort_limit_top_orders"].fn(spark, SF_SMALL)
    assert has_take_ordered(df)


def test_point_filter_prunes_everything(spark):
    lineitem = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    df = lineitem.filter(F.col("l_orderkey") == 1).select("l_quantity")
    pushed = ";".join(pushed_filters(df))
    assert "l_orderkey" in pushed
    schemas = read_schemas(df)
    assert "l_quantity" in schemas[0]
    assert "l_shipdate" not in schemas[0]


def _scorer_nodes(plan: str) -> list[str]:
    """Header line of every plan node that evaluates the emotion scorer
    (its details hold the ``array_remove`` chain).  Of an executed
    adaptive plan only the final plan's nodes count."""
    tree = plan.split("\n\n")[0].split("== Initial Plan ==")[0]
    final = set(re.findall(r"\((\d+)\)$", tree, re.M))
    return [
        sec.splitlines()[0]
        for sec in plan.split("\n\n")[1:]
        if "array_remove(" in sec
        and re.match(r"\((\d+)\)", sec).group(1) in final
    ]


def _assert_scorer_codegen(plan: str) -> None:
    assert "lambdafunction" not in plan, plan
    nodes = _scorer_nodes(plan)
    assert nodes, plan
    assert all("[codegen id : " in n for n in nodes), nodes


def test_text_scorer_stays_jvm_side(spark):
    """The emotion scorer must not appear as a Python UDF node, nor as
    an interpreted higher-order function: it is lambda-free built-in
    SQL, and the Project that computes it runs inside whole-stage
    codegen."""
    df = QUERIES["text_emotion_scores"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    _assert_scorer_codegen(plan)


def test_flagship_scoring_codegen_without_balancing_shuffle(spark, monkeypatch):
    """Both flagships score the documents in whole-stage codegen with no
    lambda, straight off the scan: no round-robin exchange spreads the
    rows first.  The greedy's plan is the prefix relation it collects
    while it is built; the plans are read after they ran, so an
    adaptive plan shows its codegen stages."""
    from rick_and_morty_data_pipeline_project_spark.operators import matching

    prefixes = []
    per_emotion = matching.per_emotion_topk_prefixes

    def spy(df, emotions, id_col, k):
        prefixes.append(per_emotion(df, emotions, id_col, k))
        return prefixes[-1]

    monkeypatch.setattr(matching, "per_emotion_topk_prefixes", spy)
    QUERIES["flagship_greedy_match"].fn(spark, SF_SMALL)
    [greedy] = prefixes
    ep3 = QUERIES["flagship_best_match_with_replacement"].fn(spark, SF_SMALL)
    ep3.collect()
    for df in (greedy, ep3):
        plan = formatted_plan(df)
        _assert_scorer_codegen(plan)
        assert "RoundRobinPartitioning" not in plan, plan


def test_exists_decorrelates_to_semi_and_anti(spark):
    """q21's EXISTS / NOT EXISTS pair must plan as one LeftSemi and one
    LeftAnti join (no row multiplication), and the final top-k must be a
    heap TakeOrderedAndProject, never a global sort."""
    df = QUERIES["q21_lone_fault_suppliers"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_share_of_total_scans_fact_once(spark):
    """q11's scalar-subquery threshold is a window over the aggregated
    relation — the lineitem fact table must appear in exactly one scan."""
    df = QUERIES["q11_important_stock"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("lineitem.parquet") == 1, plan


def test_not_in_is_anti_join_before_agg(spark):
    """q16's NOT IN must be a broadcast anti join feeding the distinct
    aggregate, not a filter after it."""
    df = QUERIES["q16_supplier_part_counts"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_salted_join_query_is_shuffle_join(spark):
    """The salted exemplar must exercise the salt-spread SHUFFLE path —
    a broadcast of the replicated side would make the salt dead weight."""
    df = QUERIES["join_salted_user_events"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_quantize_error_is_narrow(spark):
    """int8 quantization audit is a pure projection: zero exchanges —
    no self-join back to the corpus."""
    df = QUERIES["embedding_quantize_error"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert not re.findall(r"\(\d+\) Exchange", plan), plan


def test_repetition_signals_single_scan(spark):
    """All three gram statistics must share ONE parquet scan and one
    explode — no join back to the corpus, no second read."""
    df = QUERIES["text_repetition_signals"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 1, plan
    assert "Join" not in plan, plan


def test_grouped_topk_salted_equals_plain_window(spark):
    from rick_and_morty_data_pipeline_project_spark.operators.topk import (
        grouped_topk_salted,
    )
    from pyspark.sql.window import Window

    d = (
        spark.range(5000)
        .withColumn("g", (F.col("id") % 3).cast("string"))
        .withColumn("h", F.md5(F.col("id").cast("string")))
    )
    got = {
        (r["g"], r["id"])
        for r in grouped_topk_salted(d, ["g"], "h", k=25).collect()
    }
    w = Window.partitionBy("g").orderBy("h")
    want = {
        (r["g"], r["id"])
        for r in d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .collect()
    }
    assert got == want and len(got) == 75


def test_stratified_sample_never_windows_full_corpus_per_group(spark):
    """Stage-1 windows must partition on (group, salt), never on the
    bare group over the full scan — the parallelism-collapse guard."""
    df = QUERIES["sample_stratified_topk"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    import re as _re

    # stage-1 window spec must partition on (lang, salt), and Spark must
    # apply the WindowGroupLimit heap pushdown so stage 1 never sorts a
    # full per-group slice
    assert _re.search(r"windowspecdefinition\(lang#\d+, _salt#\d+L", plan), plan
    assert "WindowGroupLimit" in plan, plan


def test_chunk_overlap_is_narrow(spark):
    """Document chunking is a pure narrow transform: one scan of the
    documents table, no Exchange (the fan_out repartition only fires
    when the local scan under-partitions — plan under fan-out may show
    one RoundRobin exchange, but never a key shuffle or join)."""
    df = QUERIES["text_chunk_overlap"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("documents.parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "hashpartitioning" not in plan, plan


def test_tfidf_windows_on_doc_id_only(spark):
    """The TF-IDF rank window must partition on the high-cardinality
    doc_id — never a constant/low-cardinality key (parallelism guard);
    the corpus-size scalar must arrive via broadcast, not a shuffle."""
    df = QUERIES["text_tfidf_topterms"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert re.search(r"windowspecdefinition\(doc_id#\d+", plan), plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_zscore_single_user_shuffle(spark):
    """The rolling z-score plan must contain exactly one exchange —
    the hash partition on user_id feeding the bounded window — and no
    join back to the events table."""
    df = QUERIES["events_zscore_outliers"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert re.search(r"hashpartitioning\(user_id#\d+", plan), plan
    assert "Join" not in plan, plan


def test_rfm_has_no_global_window(spark):
    """RFM bucketing must never plan a window (the naive ntile form
    sorts the whole customer base in one task); thresholds arrive as
    broadcast scalars."""
    df = QUERIES["customer_rfm_segments"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_profile_single_scan(spark):
    """The table profile reads orders exactly once (multi-distinct via
    expand, still one pass)."""
    df = QUERIES["profile_orders_quality"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("orders.parquet") == 1, plan


def test_weighted_sample_uses_window_group_limit(spark):
    """The weighted-sampling rank must get the WindowGroupLimit heap
    pushdown (rank <= k known at plan time) — no full per-group sort."""
    df = QUERIES["sample_weighted_topk"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan, plan


def test_funnel_filters_push_to_scan(spark):
    """Each funnel stage scans a TYPE-FILTERED substream: the
    event_type equality predicates must reach the parquet scans."""
    df = QUERIES["events_funnel_steps"].fn(spark, SF_SMALL)
    pushed = ";".join(pushed_filters(df))
    assert "event_type" in pushed, pushed


def test_simhash64_pairs_banded_join_never_cartesian(spark):
    """The 64-bit simhash pairing must stay a band-keyed equi-join
    (cost ∝ bucket collisions): a cartesian/nested-loop product over
    the corpus would be the n² plan banding exists to avoid, and the
    corpus-sized banded relation must not broadcast."""
    df = QUERIES["dedup_simhash64_pairs"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_incremental_bloom_prefilter_is_literal_probe(spark):
    """The Bloom probe must be a scan-side literal filter (bitmap baked
    into the predicate), not a join against a bitmap relation: the
    definitely-new bypass path has to cost zero shuffles."""
    from pyspark.sql import functions as F  # noqa: F811

    from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
        fingerprint_col,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        incremental_dedup_bloom,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", fingerprint_col(F.col("text")).alias("fp")
    )
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    out = incremental_dedup_bloom(batch, existing, "fp")
    plan = formatted_plan(out)
    # EXACTLY one join node — the exact-resolution anti-join; a second
    # join would mean the bitmap became a relation instead of a literal.
    # (formatted plans print each node twice — tree + details — so
    # count distinct node ids, not raw occurrences)
    join_nodes = {
        m.group(1): m.group(2)
        for m in re.finditer(
            r"\((\d+)\)\s+(SortMergeJoin|BroadcastHashJoin"
            r"|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)",
            plan,
        )
    }
    assert len(join_nodes) == 1, join_nodes
    assert set(join_nodes.values()) & {
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    } == set(), join_nodes


def test_incremental_bloom_relation_probe_constant_plan(spark):
    """The large-m path: the bitmap rides a broadcast one-row relation
    (single-row nested-loop build side + the exact anti-join — exactly
    two joins), and the plan size is CONSTANT in m — doubling the
    bitmap 64× must not grow the plan text, unlike the literal path
    where every word is a plan literal."""
    from pyspark.sql import functions as F  # noqa: F811

    from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
        fingerprint_col,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        incremental_dedup_bloom,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", fingerprint_col(F.col("text")).alias("fp")
    )
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)

    def joins(plan):
        return {
            m.group(1): m.group(2)
            for m in re.finditer(
                r"\((\d+)\)\s+(SortMergeJoin|BroadcastHashJoin"
                r"|ShuffledHashJoin|BroadcastNestedLoopJoin"
                r"|CartesianProduct)",
                plan,
            )
        }

    plan20 = formatted_plan(
        incremental_dedup_bloom(
            batch, existing, "fp", m_log2=20, bitmap_mode="relation"
        )
    )
    j20 = joins(plan20)
    # one single-row bitmap attach per union branch (the broadcast is
    # computed once and reused) + exactly one exact-resolution
    # anti-join — no other equi-joins may appear
    kinds = sorted(j20.values())
    assert kinds.count("BroadcastNestedLoopJoin") == 2, j20
    assert len(kinds) == 3, j20
    plan26 = formatted_plan(
        incremental_dedup_bloom(
            batch, existing, "fp", m_log2=26, bitmap_mode="relation"
        )
    )
    assert abs(len(plan26) - len(plan20)) < 500, (
        len(plan20),
        len(plan26),
    )


def test_pca_projection_is_narrow(spark):
    """PCA scoring is scan + literal-component dot products: zero
    exchanges — the corpus never shuffles for fit OR project (the fit's
    only shuffle carries the fixed d+d(d+1)/2-row aggregate)."""
    df = QUERIES["embedding_pca_project"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert not re.findall(r"\(\d+\) Exchange", plan), plan


def test_hll_rollup_total_reaggregates_sketches(spark):
    """The TOTAL row must come from re-aggregating the REGISTER
    relation (element-wise MAX over the checkpointed per-day register
    rows), never a second pass over raw events: after the
    localCheckpoint both branches read ExistingRDD scans — zero
    parquet scans in the final plan — and no COUNT(DISTINCT) appears
    anywhere (r9: the rollup rides the explicit-register HLL of
    operators/hllreg.py, so the sketch state is replayable SQL, not
    DataSketches binaries)."""
    df = QUERIES["sketch_hll_rollup"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Scan parquet" not in plan, plan  # events read ONCE, upstream
    assert plan.count("Scan ExistingRDD") >= 2, plan  # both branches
    assert "distinct" not in plan.lower(), plan
    assert "hll_sketch_agg" not in plan, plan  # no engine-internal state


def test_zipf_head_is_two_stage_topk(spark):
    """The Zipf fit must fetch its top-N head with
    TakeOrderedAndProject (bounded), never a global Sort of the full
    vocabulary feeding the rank window."""
    df = QUERIES["text_zipf_fit"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_incremental_bloom_sharded_no_dense_bitmap(spark):
    """The sharded layout must contain NO dense bitmap anywhere: no
    array literal scaling with m, no single-row broadcast nested-loop
    attach — the filter is the sparse word relation reached by a plain
    equi-join, and plan size is constant from m=2^20 to the true
    100 TB sizing m=2^43."""
    from pyspark.sql import functions as F  # noqa: F811

    from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
        fingerprint_col,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        incremental_dedup_bloom,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", fingerprint_col(F.col("text")).alias("fp")
    )
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)

    plans = {
        m: formatted_plan(
            incremental_dedup_bloom(
                batch, existing, "fp", m_log2=m, bitmap_mode="sharded"
            )
        )
        for m in (20, 43)
    }
    for m, plan in plans.items():
        assert "BroadcastNestedLoopJoin" not in plan, m
        assert "CartesianProduct" not in plan, m
        assert "_bloom_bm" not in plan, m  # the dense-array column
    assert abs(len(plans[43]) - len(plans[20])) < 500, (
        len(plans[20]),
        len(plans[43]),
    )


def test_jpeg_headers_plan_is_narrow(spark):
    """The JPEG header walk is scan → fan_out balance → synthesize →
    filter → MapInPandas.  The ONLY exchange allowed is fan_out's
    round-robin repartition of the narrow (media_id, md5-hex) relation
    BEFORE the codec stage (r14: the Python encoders ran 1-way on the
    single-file local scan); the binary column itself never crosses a
    shuffle boundary — no hash/range exchange anywhere."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(
        _ALL["multimodal_jpeg_headers"].fn(spark, SF_SMALL)
    )
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    # two tree nodes: synthesize + parse (details section repeats them)
    assert len(re.findall(r"MapInPandas \(\d+\)", plan)) == 2, plan


def test_jpeg_decode_audit_binary_never_shuffles(spark):
    """The pixel-decode audit may join doc text back by id, but the
    binary content column must stay on the scan side of every
    exchange: only the text lookup broadcasts, and no shuffle
    partitioning carries the content column."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(
        _ALL["multimodal_jpeg_decode_audit"].fn(spark, SF_SMALL)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # decode + synthesize stages present
    assert len(re.findall(r"MapInPandas \(\d+\)", plan)) == 2, plan
    # any Exchange in the plan is the broadcast of the (doc_id, text)
    # lookup — never a hash shuffle of the content-bearing side
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            raise AssertionError(f"content side shuffled: {line}")


def test_hll_audit_single_raw_aggregate_per_arm(spark):
    """sketch_hll_accuracy_audit builds sketch + exact distinct in the
    SAME per-day aggregate (no COUNT(DISTINCT) expand rescan per
    check); the TOTAL row's union arms aggregate sketch STATES, and
    every cross-join is one-row ⨯ one-row (broadcast), never a raw
    rescan per check."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(
        _ALL["sketch_hll_accuracy_audit"].fn(spark, SF_SMALL)
    )
    assert "hll_sketch_agg" in plan and "hll_union_agg" in plan
    assert "CartesianProduct" not in plan
    # the one-row total arms meet via BroadcastNestedLoopJoin Cross —
    # acceptable ONLY because every build side is a one-row aggregate
    # (each BNLJ build is a BroadcastExchange over a global aggregate)
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastNestedLoopJoin") == 2, tree
    # raw events scans: per-day arm + exact-total + union + regrouped
    # — 4 bounded arms, none explodes into a per-day rescan
    n_scans = len(re.findall(r"Scan parquet", tree))
    assert n_scans == 4, tree


def test_cms_audit_probe_is_reduced_relation(spark):
    """The CMS audit probes the already-aggregated distinct-item
    relation through ONE ArrowEvalPython (vectorized grid lookup) —
    raw events are never sent through Python, and N arrives as a
    one-row broadcast, not a rescan per item."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(
        _ALL["sketch_cms_accuracy_audit"].fn(spark, SF_SMALL)
    )
    tree = plan.split("\n\n")[0]
    assert tree.count("ArrowEvalPython") == 1, tree
    # the Python probe sits ABOVE the item aggregate (tree text is
    # top-down, so the probe line must appear BEFORE the aggregate
    # that reduces raw events), never directly on the scan
    assert tree.index("ArrowEvalPython") < tree.index("HashAggregate"), tree
    assert "BroadcastNestedLoopJoin Cross" in tree  # the one-row N frame
    assert len(re.findall(r"Scan parquet", tree)) == 2, tree


def test_approx_audit_single_production_aggregate(spark):
    """agg_approx_distinct_audit computes approx-distinct, approx-
    median and exact distinct in ONE grouped aggregate over the fact
    scan; the rank check is a broadcast join-back plus one more scan —
    exactly two fact scans, no cartesian anywhere."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(
        _ALL["agg_approx_distinct_audit"].fn(spark, SF_SMALL)
    )
    tree = plan.split("\n\n")[0]
    # 3 fact scans: production aggregate, the rank-count pass, and the
    # broadcast median side (Catalyst does not share the agg subtree
    # across the join-back) — bounded and audit-only, never per-group
    assert len(re.findall(r"Scan parquet", tree)) == 3, tree
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert tree.count("BroadcastHashJoin") == 2, tree  # agg-back + final


def test_remove_duplicate_spans_never_pairwise(spark):
    """The exact-substring dedup treatment must stay posting-shaped:
    span explode + span-keyed aggregate + join-backs — never a
    cartesian/nested-loop pair space, and a bounded number of corpus
    scans (staging, span side, dup-agg side; Catalyst does not share
    the staged subtree)."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(
        _ALL["dedup_remove_duplicate_spans"].fn(spark, SF_SMALL)
    )
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert len(re.findall(r"Scan parquet", tree)) <= 3, tree
    assert "Generate" in tree  # the span/index explodes


def test_bm25_topk_single_posting_pass_heap_topk(spark):
    """BM25 retrieval must stay posting-shaped at 100 TB: the term
    filter sits BEFORE the first exchange (only query-term postings
    shuffle), df comes from a count window over the SAME postings
    relation (a separate dfreq aggregate re-scans the corpus: 3 scans,
    pinned here at ≤2 — postings + the narrow stats pass), the 1-row
    stats relation broadcasts, and the global top-k is a heap
    TakeOrderedAndProject, never a full Sort."""
    plan = formatted_plan(QUERIES["text_bm25_topk"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree, tree
    assert len(re.findall(r"Scan parquet", tree)) <= 2, tree
    assert "SortMergeJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree
    # the early term filter: an IN-list filter on the exploded term
    # (condition text lives in the details section, not the tree)
    assert re.search(r"term#\d+ IN \(", plan), plan[-2000:]


def test_bm25_multiquery_window_group_limit(spark):
    """Batched BM25 scores all queries in one posting pass and takes
    per-query top-k via WindowGroupLimit (partial per-partition rank
    pruning before the final merge) — never a per-query rescan, never
    a global sort of the scored relation."""
    plan = formatted_plan(QUERIES["text_bm25_multiquery"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "WindowGroupLimit" in tree, tree
    assert len(re.findall(r"Scan parquet", tree)) <= 2, tree
    assert "SortMergeJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree


def test_phrase_search_zero_exchange(spark):
    """Exact phrase search is embarrassingly parallel over documents:
    the token array is staged once, every phrase evaluates against it
    in the same narrow projection, and the wide-to-long stack is a
    Generate. ANY exchange in this plan is a bug."""
    plan = formatted_plan(QUERIES["text_phrase_search"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree, tree
    assert "Generate" in tree, tree
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree


def test_bm25_snippets_broadcasts_topk_back(spark):
    """Snippet extraction must broadcast the 20-row top-k relation back
    onto the corpus scan (BroadcastHashJoin, never SortMergeJoin) and
    do the window-slice work narrowly — three scans total (the two
    retrieval passes + the snippet side), one heap top-k."""
    plan = formatted_plan(QUERIES["text_bm25_snippets"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    assert "TakeOrderedAndProject" in tree, tree
    assert len(re.findall(r"Scan parquet", tree)) <= 3, tree


def test_hybrid_rrf_k_bounded_fusion(spark):
    """RRF fusion must be O(k) after both channels: Catalyst rewrites
    each channel's rank-filter into a TakeOrderedAndProject BELOW its
    rank window (the heap top-k runs on the full scored relation, the
    window only re-ranks the k survivors), and the final fused top-k is
    a third heap.  Four scans total (posting pass + narrow stats +
    query vector + corpus vectors); the corpus is never globally
    sorted."""
    plan = formatted_plan(QUERIES["text_hybrid_rrf"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"TakeOrderedAndProject", tree)) == 3, tree
    assert len(re.findall(r"Scan parquet", tree)) <= 4, tree
    # the only sorts allowed are the two k-row inputs of the full-outer
    # fusion join (k<=20 each) — a Sort directly over a corpus-sized
    # relation would appear with neither a TakeOrdered nor a Join above
    assert "CartesianProduct" not in tree, tree


def test_rerank_two_stage_candidate_pruned_dense_fetch(spark):
    """Stage 2 of the two-stage retriever must prune the embedding
    fetch with the broadcast 50-row candidate list (BroadcastHashJoin)
    so vector math runs on |candidates| rows, and the candidate subplan
    (the whole BM25 posting pass) appears exactly once — its TakeOrdered
    feeds both the join and the bm25 output column."""
    plan = formatted_plan(QUERIES["text_rerank_two_stage"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    # 4 scans: postings + stats (stage 1) and query-vec + corpus
    # embeddings (stage 2); a 5th would mean the candidate subplan was
    # evaluated twice
    assert len(re.findall(r"Scan parquet", tree)) <= 4, tree


def test_prf_expansion_broadcasts_feedback_both_ways(spark):
    """PRF expansion's two small relations must broadcast: the 10-row
    feedback id list back onto the corpus scan (document fetch) and the
    feedback term counts into the vocabulary df aggregate — never a
    shuffle join keyed on the corpus side.  Five scans is the honest
    cost (BM25 posting + stats, feedback fetch, vocab df, count-star),
    pinned so a regression to a 6th (double-evaluated feedback subplan)
    fails loudly."""
    plan = formatted_plan(QUERIES["text_prf_expansion"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"BroadcastHashJoin", tree)) >= 2, tree
    assert "SortMergeJoin" not in tree, tree
    assert len(re.findall(r"Scan parquet", tree)) <= 5, tree


def test_events_ewma_single_pass_jvm_fold(spark):
    """The recursive EWMA must be one user-keyed shuffle over one scan,
    with the recursion as a JVM fold — no Python stage, no join, no
    second pass."""
    plan = formatted_plan(QUERIES["events_ewma"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree
    assert "Join" not in tree, tree
    assert "InPandas" not in tree and "BatchEvalPython" not in tree, tree


def test_part_skyline_staircase_broadcast_back(spark):
    """The skyline's ordered window must run over the per-size
    aggregate (bounded by the attribute domain), never the fact table,
    and the staircase must broadcast back onto the scan."""
    plan = formatted_plan(QUERIES["part_skyline_pareto"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    assert len(re.findall(r"Scan parquet", tree)) <= 2, tree


def test_audit_referential_integrity_one_scan_per_child(spark):
    """Every child table is scanned ONCE however many FK edges it
    carries: all parents left-join into the same pass and each edge is
    a conditional count in one aggregate (the naive per-edge anti-join
    form planned 21 scans).  12 scans = 5 child passes + 7 parent
    sides."""
    plan = formatted_plan(
        QUERIES["audit_referential_integrity"].fn(spark, SF_SMALL)
    )
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) <= 12, tree
    assert len(re.findall(r"BroadcastHashJoin", tree)) >= 6, tree


def test_corr_matrix_single_global_aggregate(spark):
    """The whole correlation matrix must come from ONE map-combinable
    global aggregate over one scan — 15 decimal sums reduced to a
    single row, then closed-form doubles; no join, no window, no
    second pass."""
    plan = formatted_plan(QUERIES["lineitem_corr_matrix"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree
    assert "Join" not in tree, tree
    assert "Window" not in tree, tree


def test_snapshot_diff_copartitioned_full_outer(spark):
    """The diff is one key-partitioned full-outer join (SortMergeJoin
    — full outer cannot broadcast) with change classification in its
    projection and a map-combinable class count: three scans (A + the
    two B branches), no extra pass over the join output."""
    plan = formatted_plan(QUERIES["snapshot_diff_orders"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin FullOuter" in tree.replace("  ", " ") or re.search(
        r"SortMergeJoin.*FullOuter", tree
    ), tree
    assert len(re.findall(r"Scan parquet", tree)) <= 3, tree


def test_mp4_boxes_plan_is_narrow(spark):
    """The MP4 box walk is the same shape as the JPEG one: scan →
    synthesize → MapInPandas parse, ZERO exchanges — container bytes
    never cross a shuffle boundary, only the 8-column audit result
    would (and here it feeds the sink directly)."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["multimodal_mp4_boxes"].fn(spark, SF_SMALL))
    # r14: fan_out's round-robin balance of the narrow (id, md5) source
    # is the one allowed exchange; container bytes still never shuffle
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert len(re.findall(r"MapInPandas \(\d+\)", plan)) == 2, plan


def test_range_partition_plan_no_global_sort_of_table(spark):
    """The range-partition planner must sort only the bounded SAMPLE
    (one Window over the hash-filtered 1/16 subset) and bucket the full
    table with a broadcast of the cut array — the plan the audit
    validates (a global sort) must never appear in the audit itself:
    no rangepartitioning exchange, and the full-table side joins the
    cuts via BroadcastNestedLoopJoin (one-row build side)."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(
        _ALL["table_range_partition_plan"].fn(spark, SF_SMALL)
    )
    tree = plan.split("\n\n")[0]
    assert "rangepartitioning" not in tree.lower(), tree
    assert "BroadcastNestedLoopJoin" in tree, tree
    assert len(re.findall(r"Scan parquet", tree)) == 2, tree


def test_profile_drift_single_scan_conditional_aggregate(spark):
    """Both snapshot profiles AND their drift deltas must come from one
    scan: every per-snapshot metric is a conditional aggregate, so the
    plan is a single global aggregate (expand for the exact distincts)
    — no second pass, no join of profile rows, no window."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["profile_drift_orders"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree
    assert "Join" not in tree, tree
    assert "Window" not in tree, tree


def test_triangle_count_reuses_checkpointed_edges(spark):
    """The triangle census must materialize the LSH candidate edge
    list ONCE (localCheckpoint) and feed the degree pass plus both
    closure joins from it — the final plan reads only the checkpointed
    RDD, never the parquet/LSH pipeline (which a naive 5-way self-join
    would recompute per branch)."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["graph_triangle_count"].fn(spark, SF_SMALL))
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_k_anonymity_single_aggregate(spark):
    """The privacy audit is one pruned scan + one QI-keyed aggregate
    (expand for the exact sensitive-value distinct) — no join, no
    window; the class relation is |QI domain| rows at any table size."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["privacy_k_anonymity"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree
    assert "Join" not in tree, tree
    assert "Window" not in tree, tree


def test_row_constraints_one_scan_for_whole_suite(spark):
    """Every CHECK rule must be a conditional count in the SAME
    aggregate: one scan however long the suite grows, stack unpivot
    after the 1-row agg — no join, no per-rule pass."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["audit_row_constraints"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree
    assert "Join" not in tree, tree


def test_kcore_peel_reuses_checkpointed_edges(spark):
    """All three peel rounds (degree agg + two semi joins each) must
    read the once-checkpointed LSH edge list — zero parquet scans in
    the peeling plan, and the induced-subgraph joins are LeftSemi."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["graph_kcore_peel"].fn(spark, SF_SMALL))
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "LeftSemi" in plan, plan


def test_chi2_single_scan_tiny_relation_joins(spark):
    """The chi-square statistic must build the contingency table from
    ONE scan; marginals and expected counts join over that tiny
    relation (broadcast N) — never a second pass over events."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["events_chi2_type_dow"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree


def test_survival_km_windows_over_duration_grain(spark):
    """KM arithmetic must run on the duration-grain table (bounded by
    the observation window), not events: ONE type-pruned scan (the
    first-signup window and first-eligible-purchase aggregate share
    the user partitioning); the two-relation join form re-scanned
    events 3×."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["events_survival_km"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree
    assert "Join" not in tree, tree


def test_ab_ztest_single_scan(spark):
    """The A/B z-test is one type-pruned scan + user aggregate; arm
    totals and the statistic are windows/arithmetic over the 2-row arm
    relation — no join, no second pass over events."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["events_ab_proportion_z"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree
    assert "Join" not in tree, tree


def test_bpe_encode_stays_jvm_and_type_relation_sized(spark):
    """The encode maps symbols to ids via an inlined literal map over
    the word-TYPE relation — no Python stage anywhere, and the only
    corpus-sized relations are the two document scans (word count +
    positioned re-join), same as the stats query."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["text_bpe_encode"].fn(spark, SF_SMALL))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) <= 2, tree


def test_tfidf_cosine_dense_path_on_bounded_shape(spark):
    """When BOTH probes pass (vocab ≤ 256, docs ≤ 8192 — the test
    corpus) the cosine pairs take the two-stage dense-exact path (r15):
    the gated BroadcastNestedLoopJoin prefilter runs at CONSTRUCT time
    into a localCheckpoint, and the returned plan joins the
    checkpointed survivors back to the dense micros vectors with
    broadcast hash joins — no posting join on term, no pair-keyed
    shuffle, no parquet re-scan."""
    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.queries import textq
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["text_tfidf_cosine_pairs"].fn(spark, SF_SMALL))
    # the pair-quadratic prefilter already ran into the checkpoint:
    # nothing quadratic — and no pair-keyed aggregation shuffle — may
    # survive in the returned verify plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(id_a" not in plan, plan
    # the weight relation is checkpointed: no parquet re-scan anywhere
    assert "Scan parquet" not in plan, plan
    # the construct-time candidate stage is still the gated BNLJ with
    # the unrolled double dot fused in its filter
    w, norms = textq._tfidf_weight_relation(spark, SF_SMALL)
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("norm").alias("_na"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("norm").alias("_nb"))
    terms = [r["term"] for r in w.select("term").distinct().orderBy("term").collect()]
    cand_plan = formatted_plan(
        textq._tfidf_dense_candidates(w, na, nb, terms)
    )
    assert "BroadcastNestedLoopJoin" in cand_plan, cand_plan


def test_tfidf_cosine_prefix_path_never_all_pairs(spark, monkeypatch):
    """Above the dense caps the plan MUST be the prefix-filtered
    posting join: every join keyed (term / doc ids) so candidate count
    tracks prefix collisions — no BroadcastNestedLoopJoin over all
    |docs|²/2 pairs, no CartesianProduct, at any corpus size."""
    from rick_and_morty_data_pipeline_project_spark.queries import textq

    monkeypatch.setattr(textq, "_TFIDF_DENSE_DOC_CAP", 1)
    plan = formatted_plan(textq.text_tfidf_cosine_pairs(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Scan parquet" not in plan, plan


def test_key_gaps_windows_on_bucket_relation_only(spark):
    """The completeness audit must avoid the gaps-and-islands global
    sort: one bucket-keyed aggregate over the scan, then the lag
    window runs on the bucket relation (|keyspace|/10k rows) — one
    parquet scan, no join."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["audit_key_gaps"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree
    assert "Join" not in tree, tree


def test_lsh_recall_audit_never_all_pairs(spark):
    """Both arms of the recall audit are collision-bounded: the exact
    truth is the inverted-index posting join (with the Jaccard length
    filter inside it) and the candidates come from band buckets —
    no cartesian product anywhere in the plan."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["dedup_lsh_recall_audit"].fn(spark, SF_SMALL))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_tfidf_cosine_prefix_candidates_are_exact_superset(spark):
    """The prefix filter is an EXACT candidate generator: every pair
    the all-pairs decimal computation would emit at the threshold must
    appear in the candidate set (soundness — no lost pairs), and the
    candidate count must be well below all |docs|²/2 pairs
    (effectiveness — the filter actually prunes)."""
    from rick_and_morty_data_pipeline_project_spark.queries import textq

    w, norms = textq._tfidf_weight_relation(spark, SF_SMALL)
    cand = {
        (r["id_a"], r["id_b"])
        for r in textq._tfidf_prefix_candidates(w, norms).collect()
    }
    truth = {
        (r["id_a"], r["id_b"])
        for r in textq.text_tfidf_cosine_pairs(spark, SF_SMALL).collect()
    }
    assert truth, "threshold pairs expected in the test corpus"
    assert truth <= cand, sorted(truth - cand)[:5]
    n_docs = norms.count()
    assert len(cand) < n_docs * (n_docs - 1) // 2, (
        f"prefix filter pruned nothing: {len(cand)} candidates "
        f"for {n_docs} docs"
    )


def test_tfidf_cosine_prefix_path_matches_dense(spark, monkeypatch):
    """The shape dispatch must be invisible in the OUTPUT: forcing the
    doc cap below the corpus routes through the prefix-filtered
    posting join, which must produce exactly the dense path's pairs
    (both verify with the same decimal aggregate)."""
    from rick_and_morty_data_pipeline_project_spark.queries import textq

    dense = {
        tuple(r) for r in textq.text_tfidf_cosine_pairs(spark, SF_SMALL).collect()
    }
    monkeypatch.setattr(textq, "_TFIDF_DENSE_DOC_CAP", 1)
    prefix = {
        tuple(r) for r in textq.text_tfidf_cosine_pairs(spark, SF_SMALL).collect()
    }
    assert dense == prefix and len(dense) > 0


def test_benford_audit_single_scan(spark):
    """The Benford screen is one pruned scan + one 9-group aggregate;
    expected counts are closed-form over the digit relation — no join,
    no second pass."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["audit_benford_prices"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree
    assert "Join" not in tree, tree


def test_hhi_window_on_supplier_grain(spark):
    """HHI must compute shares on the supplier-grain aggregate (the
    nation window sees |suppliers| rows, never fact rows) with the
    supplier dim broadcast — one fact scan."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["supplier_market_hhi"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree
    assert len(re.findall(r"Scan parquet", tree)) == 2, tree


def test_hourly_pctl_audit_two_bounded_fact_scans(spark):
    """events_hourly_percentiles_approx_audit: the sketch aggregate is
    the production plan; the rank check is ONE more fact scan joined
    to the tiny per-group approx relation via broadcast — exactly two
    events scans, no per-quantile rescan, no cartesian."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(
        _ALL["events_hourly_percentiles_approx_audit"].fn(spark, SF_SMALL)
    )
    assert "approx_percentile" in plan or "percentile_approx" in plan, plan
    assert "CartesianProduct" not in plan, plan
    tree = plan.split("\n\n")[0]
    # 3 bounded arms: production sketch agg, the rank-count rescan it
    # broadcasts into, and the final join's recomputed agg subtree
    # (Catalyst does not share subtrees — agg_approx_distinct_audit
    # precedent); NEVER a per-quantile rescan (that would be 5+)
    assert len(re.findall(r"Scan parquet", tree)) == 3, tree
    assert "BroadcastHashJoin" in tree, tree


def test_rfm_audit_customer_grain_only(spark):
    """customer_rfm_segments_approx_audit: orders reduce to the
    per-customer grain once per arm (threshold sketch + rank count);
    the 9 thresholds travel as a one-row broadcast; the 9 output rows
    come from exploding one aggregated row — never a per-quantile
    rescan of orders (2 scans total)."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(
        _ALL["customer_rfm_segments_approx_audit"].fn(spark, SF_SMALL)
    )
    assert "CartesianProduct" not in plan, plan
    tree = plan.split("\n\n")[0]
    # 4 bounded arms: the rfm relation (orders scan + one-row gmax
    # broadcast = 2 scans) referenced by the threshold-sketch arm and
    # the rank-count arm (Catalyst does not share subtrees); NEVER a
    # per-quantile or per-metric rescan (that would be 10+)
    assert len(re.findall(r"Scan parquet", tree)) == 4, tree


def test_interval_join_is_bucketized_equi_join(spark):
    """join_interval_bucketized: the keyless point-in-interval join
    must run as a bucket-keyed HASH join with the BETWEEN as residual
    filter — never the BroadcastNestedLoopJoin Spark plans for a bare
    range predicate (|orders|·|promos| comparisons)."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["join_interval_bucketized"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in plan, plan
    # the interval⋈point join itself is a hash join on the bucket key
    assert "BroadcastHashJoin" in tree or "ShuffledHashJoin" in tree, tree
    # the only BNLJ is the one-row bounds crossJoin (a broadcast of a
    # single global-aggregate row) — the range predicate itself must
    # never plan as a nested loop over |orders|·|promos|
    assert tree.count("BroadcastNestedLoopJoin") <= 1, tree


def test_jaccard_prefix_join_never_all_pairs(spark):
    """dedup_jaccard_prefix_join: candidates come from the prefix⋈full
    posting join (keyed on the shingle) — no BroadcastNestedLoopJoin,
    no CartesianProduct, and the posting relation is checkpointed so
    the corpus is never re-tokenized per arm."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["dedup_jaccard_prefix_join"].fn(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Scan parquet" not in plan, plan


def test_jaccard_prefix_candidates_superset_of_threshold_pairs(spark):
    """Soundness of the Jaccard prefix filter: every pair the
    unfiltered posting join emits at the threshold must survive the
    prefix+length candidate generation (checked by comparing against
    the blocked exact form run with a constant block)."""
    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.setjoin import (
        jaccard_prefix_pairs,
    )
    from rick_and_morty_data_pipeline_project_spark.queries._util import t

    d = t(spark, SF_SMALL, "documents").withColumn("_one", F.lit("x"))
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_prefix_pairs(
            d, "doc_id", "text", shingle_k=3, threshold=0.8
        ).collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            d, "doc_id", "text", block_col="_one", shingle_k=3, threshold=0.8
        ).collect()
    }
    assert got == want and len(want) > 0


def test_pii_redact_is_narrow(spark):
    """PII scrub is a pure projection: one documents scan, zero
    exchanges, no Python — counts and the chained redaction are
    codegen'd regex expressions."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["text_pii_redact"].fn(spark, SF_SMALL))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    tree = plan.split("\n\n")[0]
    assert not re.findall(r"\(\d+\) Exchange", tree), tree
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree


def test_source_mixture_single_rank_window_per_source(spark):
    """Source-mixture sampling: quotas come from one tiny per-source
    aggregate broadcast back; document selection is ONE rank window
    partitioned by source over one corpus scan arm — never a
    per-source rescan or a cartesian."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["sample_source_mixture"].fn(spark, SF_SMALL))
    assert "CartesianProduct" not in plan, plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Window") == 1, tree
    # 5 bounded arms (quota spine, rank window, and the picked arm's
    # re-derived quota subtree — Catalyst does not share subtrees);
    # the bound is a CONSTANT, never a per-source rescan
    assert len(re.findall(r"Scan parquet", tree)) == 5, tree


def test_source_mixture_salted_path_no_global_per_source_window(spark):
    """Above the per-source window cap the mixture dispatches to the
    two-stage salted top-k (VERDICT r7 fix): NO rank window partitioned
    by source alone over the corpus — stage 1 must partition by
    (source, _salt) so the plan never sorts an unbounded source slice
    in one task; stage 2's window sees only the bounded survivors."""
    from rick_and_morty_data_pipeline_project_spark.queries import textq

    plan = formatted_plan(
        textq.sample_source_mixture(spark, SF_SMALL, window_cap=0)
    )
    assert "CartesianProduct" not in plan, plan
    tree = plan.split("\n\n")[0]
    # two-stage: exactly two Window nodes (WindowGroupLimit rank-
    # pushdown helpers excluded by the word boundary)
    assert len(re.findall(r"\bWindow\b", tree)) == 2, tree
    assert "_salt" in plan, plan
    # the salted stage-1 window must be partitioned by source AND salt
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    salted_specs = [s for s in specs if "_salt" in s]
    assert salted_specs, plan


def test_table_checksum_three_scans_no_sort(spark):
    """The cross-engine checksum is one pruned scan + one global
    map-combinable sum per audited table — three scans, no Sort, no
    Window, no Join anywhere (an order-dependent plan would defeat the
    order-insensitive fold)."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["audit_table_checksum"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 3, tree
    assert "Join" not in tree, tree
    assert not re.search(r"\bSort\b", tree), tree


def test_pit_join_is_keyed_hash_join(spark):
    """The point-in-time join must plan as a HASH join on the
    dimension key with the temporal interval as a residual filter —
    never a BroadcastNestedLoopJoin over orders × versions (what a
    bare range predicate would produce)."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["join_pit_segment_revenue"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert "BroadcastHashJoin" in tree or "ShuffledHashJoin" in tree or "SortMergeJoin" in tree, tree


def test_topk_salted_exemplar_two_stage_plan(spark):
    """The salted top-k exemplar must actually exercise the two-stage
    shape it exists to demonstrate: dim broadcast-joined, stage-1 rank
    window partitioned by (segment, _salt), a second bounded re-rank
    window — and never a single global window over the raw fact rows
    partitioned by the 5-value segment key alone."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(
        _ALL["topk_salted_segment_orders"].fn(spark, SF_SMALL)
    )
    assert "CartesianProduct" not in plan, plan
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree
    assert len(re.findall(r"\bWindow\b", tree)) == 2, tree
    assert "_salt" in plan, plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert any("_salt" in s for s in specs), plan


def test_skyline_dimension_reduction_plan(spark):
    """The 2-D skyline must use the dimension-reduction plan: per-date
    minima (tiny relation) → prefix-min window over THAT spine only →
    broadcast join back.  Never a self-join NOT EXISTS, never a window
    or sort over the raw order rows."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(
        _ALL["orders_skyline_price_date"].fn(spark, SF_SMALL)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    tree = plan.split("\n\n")[0]
    # exactly one Window (over the aggregated date spine), one
    # broadcast join back, two scans of orders (spine arm + probe arm)
    assert len(re.findall(r"\bWindow\b", tree)) == 1, tree
    assert "BroadcastHashJoin" in tree, tree
    assert len(re.findall(r"Scan parquet", tree)) == 2, tree


def test_kmv_rollup_salted_per_day_and_heap_total(spark):
    """The KMV sketch rollup's per-day k-minima must come from the
    salted two-stage top-k (day is low-cardinality) and the TOTAL arm
    from a TakeOrderedAndProject heap — never a bare per-day rank
    window over the full distinct-pair relation, never a global
    sort."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["sketch_kmv_rollup"].fn(spark, SF_SMALL))
    assert "_salt" in plan, plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert any("_salt" in s for s in specs), plan
    assert "TakeOrderedAndProject" in plan, plan


def test_cdc_apply_keyed_window_no_sort(spark):
    """CDC apply resolves versions with one rank window partitioned by
    the high-cardinality order key over a union of narrow projections —
    no global sort, no join (the log is derived in-plan)."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["orders_cdc_apply"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"\bWindow\b", tree)) == 1, tree
    assert "Join" not in tree, tree
    assert "Union" in tree, tree


def test_sequence_match_regex_stays_jvm_side(spark):
    """The CEP-lite sequence matcher folds each user's events into one
    string and evaluates the pattern regexes as codegen'd JVM
    expressions — no Python UDF, one scan, one shuffle (the user-key
    aggregate)."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["events_sequence_match"].fn(spark, SF_SMALL))
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree


def test_fd_audit_union_of_narrow_aggregates(spark):
    """The FD audit is a union of independent two-column aggregate
    arms — one scan per candidate, map-combinable count_distinct
    partials, never a self-join, never a window, never a sort."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(
        _ALL["audit_functional_dependencies"].fn(spark, SF_SMALL)
    )
    tree = plan.split("\n\n")[0]
    assert "Union" in tree, tree
    assert "Join" not in tree, tree
    assert not re.search(r"\bWindow\b", tree), tree
    assert not re.search(r"\bSort\b", tree), tree
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert len(re.findall(r"Scan parquet", tree)) == 5, tree


def test_transition_matrix_two_windows_one_scan(spark):
    """Transition matrix: one scan, the lead() window on the
    high-cardinality user key, and the probability normalizer window
    over the tiny (from,to) count relation — no join, no Python."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["events_transition_matrix"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree
    assert len(re.findall(r"\bWindow\b", tree)) == 2, tree
    assert "Join" not in tree, tree
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_trend_slope_exact_sums_no_join(spark):
    """Per-user trend slope: one scan, one per-user min window feeding
    one map-combinable aggregate of exact sufficient statistics —
    no join back, no Python, closed-form doubles only in the final
    projection."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["events_user_trend_slope"].fn(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree
    assert len(re.findall(r"\bWindow\b", tree)) == 1, tree
    assert "Join" not in tree, tree
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_weighted_percentiles_pass2_pushes_bucket_ranges(spark):
    """Exact weighted percentiles: the second pass must read only the
    target buckets — every parquet scan in the plan carries a pushed
    BETWEEN range on the raw price column, and the only windows rank
    within a single bucket's distinct values (partitioned by _b),
    never the full table."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    df = _ALL["lineitem_weighted_percentiles"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and all("l_extendedprice" in p for p in pushed), plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("_b" in s for s in specs), plan

def test_concurrency_segmented_prefix_sum_plan(spark):
    """The sweep-line concurrency query must use the segmented
    prefix-sum shape: every cumulative window is partitioned (the
    within-(day,hr) segments and the per-day hour-block offsets) —
    never an unpartitioned ORDER BY instant — and the block offsets
    come back via a broadcast join."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["events_max_concurrency"].fn(spark, SF_SMALL))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    assert all("day" in s for s in specs), specs
    assert any("blk" in s for s in specs), specs
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the netted-instants relation is localCheckpoint-ed once — the
    # final plan reads the RDD, never re-derives from parquet
    tree = plan.split("\n\n")[0]
    assert "Scan parquet" not in tree, tree


def test_cusum_windows_bounded_by_calendar(spark):
    """CUSUM's windows all run over the daily-count relation
    partitioned by event_type; one scan of events; no Python."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(
        _ALL["events_cusum_changepoint"].fn(spark, SF_SMALL)
    )
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("event_type" in s for s in specs), specs
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_jsd_token_equijoin_with_broadcast_totals(spark):
    """JSD pairs come from a token-keyed equi-join (co-occurrence
    shape) with per-source totals broadcast — never a cartesian or
    nested-loop pair enumeration."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["text_js_divergence"].fn(spark, SF_SMALL))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "token" in plan
    # the (source, token) counts are localCheckpoint-ed — the final
    # plan never re-tokenizes documents (no parquet scan, no Generate)
    tree = plan.split("\n\n")[0]
    assert "Scan parquet" not in tree, tree


def test_bootstrap_stays_jvm_side_one_scan_per_arm(spark):
    """The Poisson bootstrap is pure JVM codegen: md5/conv/CASE inside
    the exploded map stage, no Python eval anywhere; the only join is
    the broadcast cross of the two ONE-ROW summary arms."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["stats_bootstrap_ci"].fn(spark, SF_SMALL))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert re.search(r"\bGenerate\b", plan), plan
    assert not re.search(r"\bSortMergeJoin\b", plan), plan
    assert len(re.findall(r"BroadcastNestedLoopJoin", plan.split("\n\n")[0])) <= 1, plan


def test_acf_windows_bounded_by_calendar(spark):
    """Autocorrelation windows (centering + the lead lags) all run on
    the |types|x|days| daily relation partitioned by event_type."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(
        _ALL["events_autocorrelation"].fn(spark, SF_SMALL)
    )
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("event_type" in s for s in specs), specs
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the per-lag rows unpivot via stack from ONE aggregate row per
    # type — never a per-lag recompute of the events pipeline
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree


def test_gini_ranks_within_buckets_only(spark):
    """Gini's ranking windows are partitioned by the value-range
    bucket (segmented ranking) with the rank offsets broadcast back —
    never a global unpartitioned row_number."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    plan = formatted_plan(_ALL["customer_gini_revenue"].fn(spark, SF_SMALL))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("bucket" in s for s in specs), specs
    assert "BroadcastHashJoin" in plan, plan

def test_welch_t_single_pruned_aggregate(spark):
    """Welch's t-test is one type-pruned scan feeding one conditional
    aggregate row — the filter reaches parquet, no join, no window,
    no Python."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    df = _ALL["stats_welch_t"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree
    assert "Join" not in tree, tree
    assert not re.search(r"\bWindow\b", tree), tree
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    pushed = pushed_filters(df)
    assert pushed and any("event_type" in p for p in pushed), pushed


def test_streaks_window_on_user_key(spark):
    """Gaps-and-islands streaks: the row_number window is partitioned
    by the high-cardinality user key; one pruned scan; no join."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    df = _ALL["events_activity_streaks"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Scan parquet", tree)) == 1, tree
    assert "Join" not in tree, tree
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("user_id" in s for s in specs), specs
    pushed = pushed_filters(df)
    assert pushed and any("event_type" in p for p in pushed), pushed


def test_pq_adc_query_plan(spark):
    """knn_cosine_pq: ONE scan of the (tiny, checkpointed) codes
    relation scores every query via the broadcast LUT-relation join;
    the per-query top-k is the salted two-stage exact top-k (stage-1
    window partitioned by (query_id, _salt)) — never |queries| scan
    branches, never a bare per-query rank window."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    df = _ALL["knn_cosine_pq"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    # exactly one ExistingRDD scan in the tree — the materialized
    # codes relation (once — not per query) — plus the broadcast LUT
    # relation as a LocalTableScan (the details section repeats node
    # names — count the tree only)
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan ExistingRDD") == 1, tree
    assert tree.count("LocalTableScan") == 1, tree
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and any("_salt" in sp for sp in specs), specs
    assert "EvalPython" not in plan, plan  # scoring stays JVM-side


def test_ivfpq_probed_scan_plan(spark):
    """knn_cosine_ivfpq: the broadcast equi-join ON cell_id IS the
    probe — only rows in some query's probed cells are scored, in one
    scan of the index relation — then the salted two-stage top-k."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    df = _ALL["knn_cosine_ivfpq"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    # index relation scanned once + the broadcast (query, cell, LUT)
    # local relation; the equi-join key is the int cell_id
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan ExistingRDD") == 1, tree
    assert tree.count("LocalTableScan") == 1, tree
    assert "BroadcastHashJoin" in plan, plan
    assert re.search(r"cell_id#\d+", plan), plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and any("_salt" in sp for sp in specs), specs
    assert "EvalPython" not in plan, plan


def test_orders_dense_row_ids_plan_window_free(spark):
    """The dense-row-id QUERY keeps the operator's contract: no window
    operator anywhere (the oracle's row_number formulation is exactly
    what the plan must NOT contain) and the only wide exchange is the
    range repartition."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    df = _ALL["orders_dense_row_ids"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "windowspecdefinition" not in plan, plan
    assert "Window" not in plan, plan


def test_kmv_set_ops_joins_are_hash_joinable(spark):
    """sketch_kmv_set_ops: the only non-equi join is the |types|²
    pair enumeration (materialized once, never row data); every join
    touching the distinct (type, user) relation or the sketch rows is
    a broadcast HASH join — the OR-of-equalities formulation that
    would nested-loop the full relation is pinned out."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import _ALL

    df = _ALL["sketch_kmv_set_ops"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    tree = plan.split("\n\n")[0]
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert "BroadcastHashJoin" in tree, tree


def test_collapsed_frontiers_scan_corpus_once(spark):
    """On the COLLAPSE branch (r13) the frontier localCheckpoints the
    (text, rep-id, group-size) relation, so the ENTIRE pipeline —
    posting/band self-joins, size lookups, scalar aggregates — must
    read that materialization (Scan ExistingRDD) and never re-scan the
    documents parquet: a dup-heavy corpus is touched exactly once per
    query, the property that matters when `documents` is 100 TB.  On
    the r14 gated DIRECT branch (dup-free corpus) the trade inverts:
    materializing ~|corpus| distinct texts would cost more than
    re-reading a column-pruned parquet scan, so the plan must read
    parquet and contain NO checkpoint scan."""
    for name in ("dedup_threshold_frontier", "dedup_lsh_banding_frontier"):
        plan = formatted_plan(
            QUERIES[name].fn(spark, SF_SMALL, dup_path="collapse")
        )
        assert "Scan parquet" not in plan, (name, "re-scans the corpus")
        assert plan.count("Scan ExistingRDD") >= 2, (
            name, "checkpoint not multi-consumed")
        # direct branch: the corpus stays a (column-pruned) parquet
        # scan — no full-width text groupBy materialization.  (Scan
        # ExistingRDD still appears for the tiny literal config spines
        # and the banding truth checkpoint, so parquet presence is the
        # discriminating property.)
        direct = formatted_plan(
            QUERIES[name].fn(spark, SF_SMALL, dup_path="direct")
        )
        assert "Scan parquet" in direct, (name, "direct path lost the scan")


def test_lsh_multiprobe_bucket_never_below_fan_out(spark):
    """The corpus bucket of knn_lsh_multiprobe (the n_planes plane-dot
    CASEs) is computed above the fan_out exchange only, never on the
    single-task local scan below it, where the whole bucket pipeline
    would run a second time, serialized.  The bucket string is
    non-nullable, so the isnotnull(bucket) that the bucket equi-join
    lets InferFiltersFromConstraints infer folds away today; the
    operator's explode(array(bucket)) barrier is the second line of
    defence.  Both are optimizer details that a Spark upgrade could
    change, hence the pin."""
    df = QUERIES["knn_cosine_lsh_multiprobe"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the plane dot: an aggregate over zip_with(embedding, <plane>)
    assert "aggregate(zip_with(embedding" in plan, plan
    below = subtrees_below(df, "Exchange RoundRobinPartitioning")
    assert len(below) == 1, plan
    assert "embeddings.parquet" in below[0], plan
    assert "zip_with" not in below[0] and "CASE WHEN" not in below[0], below[0]


def test_ivf_frontier_cell_assignment_never_below_fan_out(spark, monkeypatch):
    """knn_ivf_probe_frontier's corpus cell assignment (an 8-centroid
    array_sort per row) stays above the fan_out exchange.  Here the
    explode(slice(…, 1, 1)) barrier is load-bearing: with a scalar
    element_at(…, 1) cell_id, InferFiltersFromConstraints pushes
    isnotnull(<assignment>) onto the single-task scan below fan_out.
    The pair relation is checkpointed inside the query, so its plan is
    captured at the checkpoint call."""
    df_cls = type(spark.range(1))
    orig = df_cls.localCheckpoint
    checkpointed = []

    def capture(self, *args, **kwargs):
        checkpointed.append(self)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(df_cls, "localCheckpoint", capture)
    QUERIES["knn_ivf_probe_frontier"].fn(spark, SF_SMALL)
    plans = [d._jdf.queryExecution().executedPlan().toString() for d in checkpointed]
    px = [d for d, p in zip(checkpointed, plans) if "array_sort(" in p]
    assert len(px) == 1, plans
    below = subtrees_below(px[0], "Exchange RoundRobinPartitioning")
    assert below and all("embeddings.parquet" in b for b in below), below
    assert all("array_sort(" not in b for b in below), below


def test_embedding_cosine_vector_joins_carry_no_broadcast_hint(spark):
    """The unit-vector relations grow with the corpus, so the planner,
    not a hint, picks their join strategy: with auto-broadcast off, no
    BroadcastExchange may sit over ``_nva``/``_nvb``."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = formatted_plan(QUERIES["dedup_embedding_cosine"].fn(spark, SF_SMALL))
    finally:
        spark.conf.set(key, old)
    inputs = re.findall(r"\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert "_nva" in plan and "_nvb" in plan, plan
    assert not [i for i in inputs if "_nva" in i or "_nvb" in i], plan


def test_neardup_batch_join_reads_stored_corpus_index(spark, tmp_path):
    """Against an existing corpus band index, a near-dup ingest batch's
    banded join reads the corpus as parquet: no scan of the corpus's
    Python rows (``ExistingRDD``) and no Python eval node for its UDF.
    The same join over the corpus hashed in place has both, which shows
    that the check can fail.  The stored bands feed the join with no
    ``Exchange`` between their scan and the join (the planner
    broadcasts the batch bands), and the join carries no hint."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        lsh_bands,
        minhash_signatures,
        with_minhash_signature,
    )
    from rick_and_morty_data_pipeline_project_spark.plans.explain_utils import (
        ancestors,
    )
    from rick_and_morty_data_pipeline_project_spark.streaming.dedup import (
        _corpus_index,
        _corpus_key,
        _partners,
    )

    same = F.udf(lambda text: text, "string")
    corpus = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "g h i j k l")], "doc_id LONG, raw STRING"
    ).select("doc_id", same("raw").alias("text"))
    bands = lsh_bands(minhash_signatures(corpus, "doc_id", "text"), 8, 2)
    index_dir = str(tmp_path / "corpus_index" / _corpus_key(corpus, 8))
    params = ("doc_id", "text", 8, 2, 3)
    _corpus_index(spark, corpus, index_dir, *params)  # builds the index
    index = _corpus_index(spark, corpus, index_dir, *params)
    path = str(tmp_path / "batch.parquet")
    pq.write_table(pa.table({"doc_id": [10], "text": ["a b c d e x"]}), path)
    batch = with_minhash_signature(spark.read.parquet(path), "text")

    def plan(seen_bands):
        return formatted_plan(_partners(batch, seen_bands, "doc_id", 8, 2, 0.5))

    python = ("ExistingRDD", "LogicalRDD", "BatchEvalPython", "ArrowEvalPython")
    indexed = plan(index)
    assert not [n for n in python if n in indexed], indexed
    assert index_dir in indexed, indexed
    hashed = plan(bands)
    assert "ExistingRDD" in hashed and "EvalPython" in hashed, hashed
    partners = _partners(batch, index, "doc_id", 8, 2, 0.5)
    up = ancestors(partners, r"FileScan parquet \[[^\]]*\bband#")
    below_join = up[:next(i for i, node in enumerate(up) if "Join" in node)]
    assert not [n for n in below_join if "Exchange" in n], up
    analyzed = partners._jdf.queryExecution().analyzed().toString()
    assert "Hint" not in analyzed, analyzed
    rows = [(r["doc_id"], r["_drop"], r["nbrs"]) for r in partners.collect()]
    assert rows == [(10, True, [])], rows
