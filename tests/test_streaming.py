"""Streaming ≡ batch equivalence: the watermarked streaming hourly
rollup must produce exactly the batch rollup once the stream drains."""

from __future__ import annotations

from rick_and_morty_data_pipeline_project_spark.queries.catalog import QUERIES
from rick_and_morty_data_pipeline_project_spark.streaming.windowed import (
    run_available_now,
    stream_events_hourly,
)
from tests.conftest import SF_SMALL


def _pin_file_order(*paths) -> None:
    """Force Spark's FileStreamSource to process ``paths`` in the given
    order.  The source orders files by MODIFICATION TIME, not name —
    when two writes land in the same mtime tick (common under
    suite-level load) batches can swap, and greedy/first-wins ingest
    dedup keeper sets are order-dependent by design.  Distinct,
    strictly increasing mtimes make the tests' order-dependent
    assertions deterministic."""
    import os
    import time

    now = time.time()
    step = 60.0
    for i, p in enumerate(paths):
        t = now - step * (len(paths) - i)
        os.utime(p, (t, t))


def test_custom_stateful_sessionize_matches_batch(spark):
    """applyInPandasWithState sessionizer ≡ batch gaps-and-islands for
    every CLOSED session (the final open session per user stays in
    state by design — a later event or timeout would close it)."""
    from rick_and_morty_data_pipeline_project_spark.queries.catalog import QUERIES
    from rick_and_morty_data_pipeline_project_spark.streaming.stateful import (
        sessionize_custom,
    )
    from rick_and_morty_data_pipeline_project_spark.streaming.windowed import (
        events_stream,
    )

    stream = events_stream(spark, SF_SMALL)
    out = sessionize_custom(stream, gap_seconds=30 * 60)
    run_available_now(out, "custom_sessions", output_mode="append")
    got = {
        (r["user_id"], r["session_start_us"]): (
            r["session_end_us"],
            r["n_events"],
            round(r["sum_value"], 4),
        )
        for r in spark.sql("SELECT * FROM custom_sessions").collect()
    }

    batch = QUERIES["sessionize_events"].fn(spark, SF_SMALL).collect()
    # drop each user's LAST session (still open in the streaming state)
    last_start = {}
    for r in batch:
        last_start[r["user_id"]] = max(
            last_start.get(r["user_id"], -1), r["session_start_us"]
        )
    want = {
        (r["user_id"], r["session_start_us"]): (
            r["session_end_us"],
            r["n_events"],
            round(r["sum_value"], 4),
        )
        for r in batch
        if r["session_start_us"] != last_start[r["user_id"]]
    }
    assert got == want


def test_grouped_topk_applyinpandas_matches_window(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from rick_and_morty_data_pipeline_project_spark.operators.topk import (
        grouped_topk_applyinpandas,
    )

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    via_pandas = {
        tuple(r)
        for r in grouped_topk_applyinpandas(
            orders, "o_custkey", "o_totalprice", "o_orderkey", 3
        ).collect()
    }
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    via_window = {
        tuple(r)
        for r in orders.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .drop("_rn")
        .collect()
    }
    assert via_pandas == via_window


def test_stream_dedup_exact_matches_batch(spark, tmp_path):
    """Streaming exact dedup ≡ batch distinct-by-fingerprint: a stream
    carrying injected duplicate texts keeps exactly one row per
    fingerprint once drained (single-watermark-window input)."""
    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
        fingerprint_col,
    )
    from rick_and_morty_data_pipeline_project_spark.streaming.dedup import (
        stream_dedup_exact,
    )

    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .limit(50)
        .select(
            "doc_id",
            "text",
            # base epoch well away from 0: a row AT the initial
            # watermark boundary (epoch 0) is dropped as late
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000) + F.col("doc_id") * 1_000_000
            ).alias("ts"),
        )
    )
    dup = docs.limit(20).withColumn("doc_id", F.col("doc_id") + 10_000)
    src = str(tmp_path / "docs_stream")
    docs.unionByName(dup).write.parquet(src)

    stream = spark.readStream.schema(
        "doc_id bigint, text string, ts timestamp"
    ).parquet(src)
    deduped = stream_dedup_exact(stream, "text", "ts", "1 hour")
    assert deduped.isStreaming
    run_available_now(deduped, "dedup_test", output_mode="append")
    got = spark.sql("SELECT fingerprint FROM dedup_test").collect()
    fps = [r["fingerprint"] for r in got]
    assert len(fps) == len(set(fps)), "stream emitted duplicate fingerprints"
    # recompute the expectation from the files actually written (an
    # unordered limit() is not stable across re-executions)
    want = {
        r["fp"]
        for r in spark.read.parquet(src)
        .select(fingerprint_col(F.col("text")).alias("fp"))
        .distinct()
        .collect()
    }
    assert set(fps) == want


def test_stream_matches_batch(spark):
    stream_df = stream_events_hourly(spark, SF_SMALL)
    assert stream_df.isStreaming
    run_available_now(stream_df, "hourly_test")
    got = {
        (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM hourly_test").collect()
    }
    batch = QUERIES["events_hourly_rollup"].fn(spark, SF_SMALL)
    want = {
        (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want


def test_stream_enriched_hourly_matches_batch(spark):
    """Stream-static enrichment join + windowed rollup ≡ the same plan
    run in batch once the stream drains."""
    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.sources.corpus import load_table
    from rick_and_morty_data_pipeline_project_spark.streaming.windowed import (
        stream_enriched_hourly,
    )

    stream_df = stream_enriched_hourly(spark, SF_SMALL)
    assert stream_df.isStreaming
    run_available_now(stream_df, "enriched_test")
    got = {
        (r["hour"], r["c_mktsegment"]): r["n_events"]
        for r in spark.sql("SELECT * FROM enriched_test").collect()
    }
    events = load_table(spark, SF_SMALL, "events")
    customers = load_table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    batch = (
        events.join(customers, "user_id")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "c_mktsegment",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    want = {
        (r["hour"], r["c_mktsegment"]): r["n_events"] for r in batch.collect()
    }
    assert got == want


def test_stream_ingest_dedup_exact_lifetime(spark, tmp_path):
    """foreachBatch ingest: in-batch, vs-corpus, and cross-batch dups
    are all dropped; output holds exactly one row per distinct new
    fingerprint."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
        fingerprint_col,
    )
    from rick_and_morty_data_pipeline_project_spark.streaming.dedup import (
        stream_ingest_dedup,
    )

    corpus = spark.createDataFrame(
        [(0, "corpus text zero"), (1, "corpus text one")],
        ["doc_id", "text"],
    )
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    # batch A: dup-of-corpus, fresh FA, in-batch dup of FA
    pq.write_table(
        pa.table(
            {
                "doc_id": [10, 11, 12],
                "text": ["corpus text zero", "fresh alpha", "fresh alpha"],
            }
        ),
        str(in_dir / "a.parquet"),
    )
    # batch B: cross-batch dup of FA, fresh FB, dup-of-corpus
    pq.write_table(
        pa.table(
            {
                "doc_id": [20, 21, 22],
                "text": ["fresh alpha", "fresh beta", "corpus text one"],
            }
        ),
        str(in_dir / "b.parquet"),
    )
    _pin_file_order(in_dir / "a.parquet", in_dir / "b.parquet")
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    out_dir = str(tmp_path / "curated")
    q = stream_ingest_dedup(
        stream, corpus, out_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    got = spark.read.parquet(out_dir)
    rows = {r["doc_id"]: r["fp"] for r in got.collect()}
    # exactly one keeper per fresh fingerprint, nothing from the corpus
    assert len(rows) == 2
    assert set(rows) <= {11, 12, 20, 21}  # alpha keeper + beta keeper
    assert 21 in rows
    want_fps = {
        r["fp"]
        for r in spark.createDataFrame(
            [("fresh alpha",), ("fresh beta",)], ["text"]
        )
        .select(fingerprint_col(F.col("text")).alias("fp"))
        .collect()
    }
    assert set(rows.values()) == want_fps


def test_stream_ingest_dedup_bloom_prefilter_twin(spark, tmp_path):
    """The Bloom-prefiltered ingest sink (bloom_m_log2 set; auto layout)
    appends exactly the same curated rows as the plain anti-join sink —
    the operator's anti-join-equivalence contract holding inside
    foreachBatch, across in-batch, vs-corpus, and cross-batch dups."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rick_and_morty_data_pipeline_project_spark.streaming.dedup import (
        stream_ingest_dedup,
    )

    corpus = spark.createDataFrame(
        [(0, "corpus text zero"), (1, "corpus text one")],
        ["doc_id", "text"],
    )
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": [10, 11, 12],
                "text": ["corpus text zero", "fresh alpha", "fresh alpha"],
            }
        ),
        str(in_dir / "a.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": [20, 21, 22],
                "text": ["fresh alpha", "fresh beta", "corpus text one"],
            }
        ),
        str(in_dir / "b.parquet"),
    )
    _pin_file_order(in_dir / "a.parquet", in_dir / "b.parquet")

    outputs = {}
    for label, kw in (
        ("plain", {}),
        ("bloom", {"bloom_m_log2": 16}),
        ("bloom_tiny", {"bloom_m_log2": 8}),  # FP-heavy: exact join must resolve
    ):
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        out_dir = str(tmp_path / f"curated_{label}")
        q = stream_ingest_dedup(
            stream, corpus, out_dir, str(tmp_path / f"ckpt_{label}"), **kw
        )
        q.awaitTermination()
        outputs[label] = {
            (r["doc_id"], r["fp"])
            for r in spark.read.parquet(out_dir).collect()
        }
    assert outputs["bloom"] == outputs["plain"]
    assert outputs["bloom_tiny"] == outputs["plain"]


def test_zscore_stream_matches_batch(spark):
    """Streaming rolling z-score ≡ the batch events_zscore_outliers
    query: same flagged event set, same window counts, z within 1e-6
    (batch sums run in exact decimal, the stream uses fsum of the
    binary-float values — one observed case lands ON a 4-decimal
    rounding boundary, so compare with tolerance, not rounding)."""
    from rick_and_morty_data_pipeline_project_spark.streaming.stateful import (
        zscore_stream,
    )
    from rick_and_morty_data_pipeline_project_spark.streaming.windowed import (
        events_stream,
    )

    out = zscore_stream(events_stream(spark, SF_SMALL))
    run_available_now(out, "zscore_flags", output_mode="append")
    got = {
        (r["event_id"], r["n_prev"]): r["zscore"]
        for r in spark.sql("SELECT * FROM zscore_flags").collect()
    }
    want = {
        (r["event_id"], r["n_prev"]): r["zscore"]
        for r in QUERIES["events_zscore_outliers"].fn(spark, SF_SMALL).collect()
    }
    assert got.keys() == want.keys() and len(got) > 0
    assert max(abs(got[k] - want[k]) for k in got) < 1e-6


def test_stream_dedup_state_survives_restart(spark, tmp_path):
    """Checkpointed streaming dedup: a SECOND run of the same query
    (same checkpoint dir) restores the fingerprint state store, so a
    duplicate of a batch-1 document arriving in batch 2 is still
    dropped — recovery semantics, not just single-run dedup."""
    from rick_and_morty_data_pipeline_project_spark.streaming.dedup import (
        stream_dedup_exact,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    base_us = 1_700_000_000_000_000

    def run_once():
        stream = spark.readStream.schema(
            "doc_id bigint, text string, ts timestamp"
        ).parquet(str(src))
        deduped = stream_dedup_exact(stream, "text", "ts", "1 hour")
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def write_batch(rows, name):
        # flat single files: the file-stream source does not recurse
        # into per-batch subdirectories
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                    "ts": pa.array(
                        [r[2] for r in rows], pa.timestamp("us")
                    ),
                }
            ),
            str(src / name),
        )

    write_batch(
        [(1, "alpha text", base_us), (2, "beta text", base_us + 1_000_000)],
        "b1.parquet",
    )
    run_once()
    # batch 2: dup of doc 1 (must be dropped via RESTORED state) + fresh
    write_batch(
        [(3, "alpha text", base_us + 2_000_000),
         (4, "gamma text", base_us + 3_000_000)],
        "b2.parquet",
    )
    run_once()

    got = spark.read.parquet(out_dir)
    texts = sorted(r["text"] for r in got.collect())
    assert texts == ["alpha text", "beta text", "gamma text"], texts
    ids = {r["doc_id"] for r in got.collect()}
    assert 3 not in ids, "restored state failed to drop the cross-run dup"


def test_transform_with_state_running_totals(spark):
    """Spark 4 transformWithStateInPandas (typed StatefulProcessor):
    after the stream drains, each user's running totals equal the batch
    groupBy aggregate (float sums compared at 1e-6).  Skipped where the
    worker's protobuf dependency is absent (this container)."""
    import pytest

    from rick_and_morty_data_pipeline_project_spark.sources.corpus import load_table
    from rick_and_morty_data_pipeline_project_spark.streaming.stateful_v2 import (
        TWS_AVAILABLE,
        running_user_totals,
    )

    if not TWS_AVAILABLE:
        pytest.skip(
            "transformWithState needs google.protobuf (state-server "
            "protocol); not installed in this container"
        )
    from rick_and_morty_data_pipeline_project_spark.streaming.windowed import (
        events_stream,
    )
    from pyspark.sql import functions as F

    out = running_user_totals(events_stream(spark, SF_SMALL))
    assert out.isStreaming
    run_available_now(out, "tws_totals", output_mode="update")
    # update mode: keep the LAST emitted row per user
    import collections

    last = {}
    for r in spark.sql("SELECT * FROM tws_totals").collect():
        last[r["user_id"]] = (r["n_events"], r["sum_value"])

    batch = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    )
    want = {r["user_id"]: (r["n"], r["s"]) for r in batch}
    assert last.keys() == want.keys()
    for u in want:
        assert last[u][0] == want[u][0], u
        assert abs(last[u][1] - want[u][1]) < 1e-6, u


def test_stream_ingest_neardup_lsh(spark, tmp_path):
    """foreachBatch near-dup ingest: vs-corpus, in-batch (transitive via
    connected components, min-id keeper), and cross-batch near-dups are
    all suppressed; distinct documents all land."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rick_and_morty_data_pipeline_project_spark.streaming.dedup import (
        stream_ingest_neardup,
    )

    import random

    vocab = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lamda mu nu xi omicron pi rho sigma tau upsilon"
    ).split()

    def doc(seed: int, changed: int | None = None) -> str:
        toks = random.Random(seed).choices(vocab, k=40)
        if changed is not None:
            toks[changed] = vocab[(seed + changed + 11) % len(vocab)]
        return " ".join(toks)

    corpus = spark.createDataFrame(
        [(0, doc(1)), (1, doc(2))], ["doc_id", "text"]
    )
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    # batch A: near-dup of corpus doc 0; fresh X (seed 3); in-batch
    # near-dups X' and X'' (chain → one cluster, keeper = min id 11);
    # fresh distinct Z (seed 4)
    pq.write_table(
        pa.table(
            {
                "doc_id": [10, 11, 12, 13, 14],
                "text": [
                    doc(1, changed=5),
                    doc(3),
                    doc(3, changed=7),
                    doc(3, changed=20),
                    doc(4),
                ],
            }
        ),
        str(in_dir / "a.parquet"),
    )
    # batch B: near-dup of appended X (drops); fresh W (seed 5)
    pq.write_table(
        pa.table(
            {
                "doc_id": [20, 21],
                "text": [doc(3, changed=33), doc(5)],
            }
        ),
        str(in_dir / "b.parquet"),
    )
    _pin_file_order(in_dir / "a.parquet", in_dir / "b.parquet")
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    out_dir = str(tmp_path / "curated")
    q = stream_ingest_neardup(
        stream, corpus, out_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(out_dir).collect()
    )
    assert kept == [11, 14, 21], kept


def _neardup_ingest(spark, tmp_path, out_dir: str, ckpt: str):
    """Run the near-dup ingest stream to completion over two batches
    (near-dups of the corpus, in-batch chains, cross-batch near-dups
    and fresh documents); return the query.  Batch b ends with a chain
    24 ~ 25 ~ 26 whose ends are not similar (estimated Jaccard 0.25
    < 0.5, no shared band): 24 keeps, 25 and 26 lose only through
    the cluster."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from rick_and_morty_data_pipeline_project_spark.streaming.dedup import (
        stream_ingest_neardup,
    )

    vocab = [f"w{i}" for i in range(30)]

    def doc(seed: int, changed: int | None = None) -> str:
        toks = random.Random(seed).choices(vocab, k=40)
        if changed is not None:
            toks[changed] = vocab[(seed + changed + 11) % len(vocab)]
        return " ".join(toks)

    def rewrite(text: str, lo: int, hi: int, tag: str) -> str:
        toks = text.split()
        toks[lo:hi] = [f"{tag}{i}" for i in range(lo, hi)]
        return " ".join(toks)

    chain_b = rewrite(doc(8), 0, 8, "x")
    chain_c = rewrite(chain_b, 32, 40, "y")
    corpus = spark.createDataFrame(
        [(0, doc(1)), (1, doc(2))], "doc_id LONG, text STRING"
    )
    in_dir = tmp_path / "incoming"
    if not in_dir.exists():
        in_dir.mkdir()
        batches = {
            "a": ([10, 11, 12, 13, 14], [doc(1, 5), doc(3), doc(3, 7), doc(3, 20), doc(4)]),
            "b": (
                [20, 21, 22, 23, 24, 25, 26],
                [doc(3, 33), doc(5), doc(5, 9), doc(2, 1), doc(8), chain_b, chain_c],
            ),
        }
        for name, (ids, texts) in batches.items():
            pq.write_table(
                pa.table({"doc_id": ids, "text": texts}),
                str(in_dir / f"{name}.parquet"),
            )
        _pin_file_order(in_dir / "a.parquet", in_dir / "b.parquet")
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = stream_ingest_neardup(stream, corpus, out_dir, ckpt)
    q.awaitTermination()
    return q


def test_stream_ingest_neardup_replay_appends_nothing(spark, tmp_path):
    """A micro-batch replayed after a lost commit (the sink appended,
    the commit log did not record it) appends nothing: the kept ids are
    unchanged and no doc_id appears twice.  The replayed batch holds
    the chain 24 ~ 25 ~ 26: had the replay matched 25 against the
    appended 24 and dropped it, the 25-26 edge would go and 26 would
    be appended as a singleton."""
    import os

    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        minhash_signatures,
    )

    out_dir, ckpt = str(tmp_path / "kept"), str(tmp_path / "ckpt")
    _neardup_ingest(spark, tmp_path, out_dir, ckpt)
    before = sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())
    assert before == [11, 14, 21, 24], before
    sig = {
        r["doc_id"]: r["sig"]
        for r in minhash_signatures(
            spark.read.parquet(str(tmp_path / "incoming")), "doc_id", "text"
        ).collect()
    }
    assert sum(x == y for x, y in zip(sig[24], sig[26])) < 4  # below 0.5

    commits = os.path.join(ckpt, "commits")
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    for f in (last, f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    q = _neardup_ingest(spark, tmp_path, out_dir, ckpt)
    assert q.lastProgress is not None and q.lastProgress["batchId"] == int(last)
    after = [r["doc_id"] for r in spark.read.parquet(out_dir).collect()]
    assert sorted(after) == before, after


def test_stream_ingest_neardup_kept_sig_is_text_signature(spark, tmp_path):
    """The sink's dedup state is the kept table's ``sig`` column: every
    kept row's stored signature equals the MinHash signature of its
    stored text (default hashing parameters of the sink)."""
    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        minhash_signatures,
    )

    out_dir = str(tmp_path / "kept")
    _neardup_ingest(spark, tmp_path, out_dir, str(tmp_path / "ckpt"))
    kept = spark.read.parquet(out_dir)
    want = minhash_signatures(kept, "doc_id", "text").withColumnRenamed(
        "sig", "want"
    )
    rows = kept.join(want, "doc_id").collect()
    assert len(rows) == 4
    for r in rows:
        assert r["sig"] == r["want"], r["doc_id"]
    assert kept.filter(F.col("sig").isNull()).collect() == []


def test_stream_ingest_neardup_rejects_kept_table_without_sig(spark, tmp_path):
    """A kept table written before the sink stored signatures must fail
    the batch with a clear error — read with the declared state schema
    it would yield null signatures, which match nothing and silently
    admit duplicates.  The check is a driver-side footer read: it
    launches no Spark job, and neither does reading valid state."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.sql.types import LongType, StructField

    from rick_and_morty_data_pipeline_project_spark.streaming.dedup import (
        _kept_state,
    )
    from tests.conftest import job_ids

    id_field = StructField("doc_id", LongType())
    old = tmp_path / "old_kept"
    old.mkdir()
    pq.write_table(
        pa.table({"doc_id": [1], "text": ["an old kept row"]}),
        str(old / "part-00000.parquet"),
    )
    errors = []

    def read_old():
        try:
            _kept_state(spark, str(old), id_field)
        except ValueError as e:
            errors.append(str(e))

    assert job_ids(spark, read_old) == []
    assert len(errors) == 1 and "no 'sig' column" in errors[0], errors

    new = str(tmp_path / "new_kept")
    spark.createDataFrame(
        [(1, "a kept row", ["00", "01"], "q:0")],
        "doc_id LONG, text STRING, sig ARRAY<STRING>, ingest_batch STRING",
    ).write.parquet(new)
    state = []
    assert job_ids(
        spark, lambda: state.append(_kept_state(spark, new, id_field))
    ) == []
    assert [tuple(r) for r in state[0].collect()] == [(1, ["00", "01"], "q:0")]

    # end to end: the streaming query fails on the old table
    with pytest.raises(Exception, match="no 'sig' column"):
        _neardup_ingest(spark, tmp_path, str(old), str(tmp_path / "ckpt"))


def test_stream_stream_join_matches_batch(spark):
    """The watermarked stream-stream view→click attribution join,
    drained in one availableNow pass, produces exactly the batch
    range-join's pairs."""
    from rick_and_morty_data_pipeline_project_spark.streaming.joins import (
        view_click_attribution_stream,
    )
    from rick_and_morty_data_pipeline_project_spark.streaming.windowed import (
        events_stream,
    )

    out = view_click_attribution_stream(events_stream(spark, SF_SMALL))
    run_available_now(out, "vc_attr", output_mode="append")
    got = {
        (r["view_id"], r["click_id"]): r["latency_s"]
        for r in spark.sql("SELECT * FROM vc_attr").collect()
    }
    want = {
        (r["view_id"], r["click_id"]): r["latency_s"]
        for r in QUERIES["view_click_attribution"].fn(spark, SF_SMALL).collect()
    }
    assert got == want and len(got) > 0


def test_stream_hll_sketch_table_equals_batch(spark, tmp_path):
    """Incrementally-maintained sketch table ≡ batch rebuild: per-day
    estimates AND the union TOTAL are identical after the events arrive
    split across micro-batches (HLL union losslessness, now through the
    durable foreachBatch merge path)."""
    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.streaming.sketches import (
        sketch_table_estimates,
        stream_hll_sketch_table,
    )
    from tests.conftest import SF_ORACLE

    events = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    # three chunks that SPLIT days across micro-batches (round-robin by
    # event_id) so the merge path really unions same-day sketches
    for i in range(3):
        events.filter(F.col("event_id") % 3 == i).write.parquet(
            str(in_dir / f"chunk_{i}.parquet")
        )
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*/")
    )
    table_dir = str(tmp_path / "sketch_table")
    q = stream_hll_sketch_table(
        stream, table_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    got = {
        r["day"]: r["est_distinct"]
        for r in sketch_table_estimates(spark, table_dir).collect()
    }
    want = {
        r["day"]: r["est_distinct"]
        for r in (
            events.groupBy(
                F.date_format("ts", "yyyy-MM-dd").alias("day")
            )
            .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
            .select(
                "day", F.hll_sketch_estimate("sk").alias("est_distinct")
            )
            .collect()
        )
    }
    want["TOTAL"] = events.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(12))
        ).alias("e")
    ).collect()[0]["e"]
    assert got == want and len(got) == 31


def test_stream_scd2_equals_sequential_batch_applies(spark, tmp_path):
    """CDC batches through the streaming sink must produce exactly the
    history of sequential scd2_apply calls: change→change across
    batches yields two closed rows + one open, no-ops pass through."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rick_and_morty_data_pipeline_project_spark.operators.scd import (
        OPEN_END,
        scd2_apply,
    )
    from rick_and_morty_data_pipeline_project_spark.streaming.scd import (
        stream_scd2_apply,
    )

    seed = spark.createDataFrame(
        [
            (1, "A", "2000-01-01", OPEN_END, 1),
            (2, "X", "2000-01-01", OPEN_END, 1),
        ],
        "k long, attr string, valid_from string, valid_to string, is_current int",
    )
    table_dir = str(tmp_path / "dim")
    seed.write.parquet(table_dir)

    in_dir = tmp_path / "cdc"
    in_dir.mkdir()
    batches = [
        {"k": [1, 9], "attr": ["B", "NEW"], "effective_date": ["2001-06-01"] * 2},
        {"k": [1, 2], "attr": ["C", "X"], "effective_date": ["2002-06-01"] * 2},
    ]
    for i, b in enumerate(batches):
        pq.write_table(pa.table(b), str(in_dir / f"b{i}.parquet"))

    stream = (
        spark.readStream.schema("k long, attr string, effective_date string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = stream_scd2_apply(
        stream, table_dir, str(tmp_path / "ckpt"), key="k", tracked=["attr"]
    )
    q.awaitTermination()

    want_state = seed
    for b in batches:
        upd = spark.createDataFrame(
            list(zip(b["k"], b["attr"], b["effective_date"])),
            "k long, attr string, effective_date string",
        )
        want_state = scd2_apply(want_state, upd, key="k", tracked=["attr"])
    got = {tuple(r) for r in spark.read.parquet(table_dir).collect()}
    want = {tuple(r) for r in want_state.collect()}
    assert got == want
    # the key changed in both batches carries full three-version history
    k1 = sorted(r for r in got if r[0] == 1)
    assert [r[1] for r in k1] == ["A", "B", "C"]


def test_stream_quality_classifier_matches_batch(spark, tmp_path):
    """The distilled quality classifier is a pure narrow expression, so
    it runs unchanged inside a streaming query: scored stream output ≡
    the batch scoring of the same rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.queries.textq import (
        quality_classifier_score,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    docs = [(i, f"doc body {'the ' * (i % 7)}number {i} with words") for i in range(40)]
    pq.write_table(
        pa.table({"doc_id": [d[0] for d in docs], "text": [d[1] for d in docs]}),
        str(in_dir / "a.parquet"),
    )

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .parquet(str(in_dir))
        .select("doc_id", quality_classifier_score("text").alias("score"))
    )
    out_dir = str(tmp_path / "out")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {r["doc_id"]: r["score"] for r in spark.read.parquet(out_dir).collect()}
    batch = spark.createDataFrame(docs, ["doc_id", "text"]).select(
        "doc_id", quality_classifier_score("text").alias("score")
    )
    want = {r["doc_id"]: r["score"] for r in batch.collect()}
    assert got == want and len(got) == 40


def test_ewma_stream_matches_batch_across_batches(spark, tmp_path):
    """Streaming incremental EWMA ≡ the batch events_ewma fold, WITH
    the state crossing a batch boundary: the corpus is split at the
    median timestamp into two mtime-ordered files processed one per
    trigger, so roughly half of every user's recursion happens in
    batch 2 on state carried from batch 1.  Equality is exact (same
    IEEE fold, same literals) up to the batch query's round(…, 6)."""
    from rick_and_morty_data_pipeline_project_spark.streaming.stateful import (
        ewma_stream,
    )

    from rick_and_morty_data_pipeline_project_spark.queries._util import t

    ev = t(spark, SF_SMALL, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    cutoff = ev.selectExpr("percentile(unix_micros(ts), 0.5) AS c").first()[
        "c"
    ]
    from pyspark.sql import functions as F

    a = ev.filter(F.unix_micros("ts") < cutoff)
    b = ev.filter(F.unix_micros("ts") >= cutoff)
    assert a.count() > 0 and b.count() > 0

    # write each split with SPARK (pandas→parquet emits nanos INT64,
    # which the streaming reader rejects), then stage the single part
    # files under mtime-pinned names
    import shutil

    src = tmp_path / "incoming"
    src.mkdir()
    for name, df in (("a", a), ("b", b)):
        d = tmp_path / f"_{name}"
        df.coalesce(1).write.parquet(str(d))
        part = next(d.glob("part-*.parquet"))
        shutil.copy(part, src / f"{name}.parquet")
    _pin_file_order(src / "a.parquet", src / "b.parquet")

    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint, value double"
    ).option("maxFilesPerTrigger", 1).parquet(str(src))
    q = (
        ewma_stream(stream)
        .writeStream.format("memory")
        .queryName("ewma_updates")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = spark.sql("SELECT * FROM ewma_updates").collect()
    latest = {}
    for r in rows:
        if (
            r["user_id"] not in latest
            or r["n_events"] > latest[r["user_id"]][0]
        ):
            latest[r["user_id"]] = (r["n_events"], r["ewma"])

    want = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in QUERIES["events_ewma"].fn(spark, SF_SMALL).collect()
    }
    assert latest.keys() == want.keys()
    for u in want:
        assert latest[u][0] == want[u][0], u
        # want is the batch round(…, 6); the stream value is raw, so
        # the gap is at most the rounding itself (5e-7) when the folds
        # are bit-equal — HALF_UP vs banker's makes exact re-rounding
        # comparison fragile on .5 boundaries
        assert abs(latest[u][1] - want[u][1]) <= 5.000001e-7, (
            u, latest[u], want[u]
        )


def test_mv_maintain_stream_matches_batch_refresh(spark, tmp_path):
    """Streaming MV maintenance ≡ the batch mv_incremental_refresh
    algebra: the base snapshot streams as +1 assertions in batch 1 and
    the full retraction delta (inserts, group-migrating updates,
    deletes) in batch 2, so the maintained aggregate state crosses a
    trigger boundary.  Latest-per-group (max ver) with zero-count
    groups dropped must equal the batch query bit-for-bit — both sum
    the same exact DECIMAL(14,2)-weighted products."""
    import shutil

    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.streaming.mv import (
        MV_DELTA_SCHEMA,
        mv_maintain_stream,
    )

    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    base = o.filter(k % 10 != 0)

    def rows(df, w, status=None, price_mult=1.0, seq=0):
        return df.select(
            "o_orderpriority",
            (F.lit(status) if status else F.col("o_orderstatus")).alias(
                "o_orderstatus"
            ),
            F.lit(w).cast("int").alias("_w"),
            (F.col("o_totalprice") * F.lit(price_mult)).alias("_p"),
            F.lit(seq).cast("long").alias("seq"),
        )

    batch1 = rows(base, 1, seq=0)
    upd = base.filter(k % 7 == 0)
    batch2 = (
        rows(o.filter(k % 10 == 0), 1, seq=1)
        .unionByName(rows(upd, -1, seq=1))
        .unionByName(rows(upd, 1, status="U", price_mult=2.0, seq=1))
        .unionByName(
            rows(base.filter((k % 13 == 0) & (k % 7 != 0)), -1, seq=1)
        )
    )

    src = tmp_path / "mv_incoming"
    src.mkdir()
    for name, df in (("a", batch1), ("b", batch2)):
        d = tmp_path / f"_mv_{name}"
        df.coalesce(1).write.parquet(str(d))
        shutil.copy(next(d.glob("part-*.parquet")), src / f"{name}.parquet")
    _pin_file_order(src / "a.parquet", src / "b.parquet")

    stream = (
        spark.readStream.schema(MV_DELTA_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        mv_maintain_stream(stream)
        .writeStream.format("memory")
        .queryName("mv_updates")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    latest = {}
    for r in spark.sql("SELECT * FROM mv_updates").collect():
        key = (r["o_orderpriority"], r["o_orderstatus"])
        if key not in latest or r["ver"] > latest[key][2]:
            latest[key] = (r["n_orders"], r["total_price"], r["ver"])
    got = {
        key: (n, p) for key, (n, p, _) in latest.items() if n > 0
    }

    want = {
        (r["o_orderpriority"], r["o_orderstatus"]): (
            r["n_orders"],
            r["total_price"],
        )
        for r in QUERIES["mv_incremental_refresh"].fn(spark, SF_SMALL).collect()
    }
    assert got.keys() == want.keys()
    for key in want:
        assert got[key][0] == want[key][0], key
        assert got[key][1] == want[key][1], (key, got[key], want[key])


def test_mv_maintain_stream_state_survives_restart(spark, tmp_path):
    """Checkpointed streaming MV: run 1 drains the base assertions and
    STOPS; run 2 (same checkpoint, new sink) drains only the delta —
    its refreshed rows must equal base ⊕ delta for every touched
    group, which is only possible if the aggregation state store was
    restored across the restart (run 2's sink never saw batch 1)."""
    import shutil

    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.streaming.mv import (
        MV_DELTA_SCHEMA,
        mv_maintain_stream,
    )

    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    base = o.filter(k % 10 != 0)

    def rows(df, w, status=None, price_mult=1.0, seq=0):
        return df.select(
            "o_orderpriority",
            (F.lit(status) if status else F.col("o_orderstatus")).alias(
                "o_orderstatus"
            ),
            F.lit(w).cast("int").alias("_w"),
            (F.col("o_totalprice") * F.lit(price_mult)).alias("_p"),
            F.lit(seq).cast("long").alias("seq"),
        )

    upd = base.filter(k % 7 == 0)
    batch1 = rows(base, 1, seq=0)
    batch2 = (
        rows(o.filter(k % 10 == 0), 1, seq=1)
        .unionByName(rows(upd, -1, seq=1))
        .unionByName(rows(upd, 1, status="U", price_mult=2.0, seq=1))
        .unionByName(
            rows(base.filter((k % 13 == 0) & (k % 7 != 0)), -1, seq=1)
        )
    )

    src = tmp_path / "mvr_incoming"
    src.mkdir()
    ckpt = str(tmp_path / "mvr_ckpt")

    def stage(name, df):
        d = tmp_path / f"_mvr_{name}"
        df.coalesce(1).write.parquet(str(d))
        shutil.copy(next(d.glob("part-*.parquet")), src / f"{name}.parquet")

    def run_once(out_dir):
        # memory sink cannot recover from a checkpoint; foreachBatch
        # parquet appends can — each run lands its update-mode rows in
        # its OWN directory so run 2's emissions are observable alone
        stream = spark.readStream.schema(MV_DELTA_SCHEMA).parquet(str(src))

        def sink(bdf, bid):
            bdf.write.mode("append").parquet(out_dir)

        q = (
            mv_maintain_stream(stream)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    out1 = str(tmp_path / "mvr_out1")
    out2 = str(tmp_path / "mvr_out2")
    stage("a", batch1)
    run_once(out1)
    stage("b", batch2)
    run_once(out2)

    got = {
        (r["o_orderpriority"], r["o_orderstatus"]): (
            r["n_orders"],
            r["total_price"],
        )
        for r in spark.read.parquet(out2).collect()
    }
    assert got, "run 2 emitted nothing — delta batch not processed"

    want_all = {
        (r["o_orderpriority"], r["o_orderstatus"]): (
            r["n_orders"],
            r["total_price"],
        )
        for r in QUERIES["mv_incremental_refresh"].fn(spark, SF_SMALL).collect()
    }
    for key, (n, p) in got.items():
        if n > 0:
            assert key in want_all, key
            assert (n, p) == want_all[key], (key, (n, p), want_all[key])
        else:
            # retracted to zero: the batch view must not contain it
            assert key not in want_all, key


def test_chi2_monitor_stream_matches_batch(spark, tmp_path):
    """Streaming chi-square drift monitor ≡ the batch
    events_chi2_type_dow: the events corpus streams through in
    mtime-ordered halves, each micro-batch merging its counts into the
    durable contingency table; the statistic recomputed from that
    table after draining equals the batch query bit-for-bit."""
    import shutil

    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.sources.corpus import (
        load_table,
    )
    from rick_and_morty_data_pipeline_project_spark.streaming.monitor import (
        chi2_from_contingency,
        contingency_stream,
    )

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "ts", "event_type"
    )
    cutoff = ev.selectExpr(
        "percentile(unix_micros(ts), 0.5) AS c"
    ).first()["c"]
    a = ev.filter(F.unix_micros("ts") < cutoff)
    b = ev.filter(F.unix_micros("ts") >= cutoff)
    assert a.count() > 0 and b.count() > 0

    src = tmp_path / "chi_incoming"
    src.mkdir()
    for name, df in (("a", a), ("b", b)):
        d = tmp_path / f"_chi_{name}"
        df.coalesce(1).write.parquet(str(d))
        shutil.copy(next(d.glob("part-*.parquet")), src / f"{name}.parquet")
    _pin_file_order(src / "a.parquet", src / "b.parquet")

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    table_dir = str(tmp_path / "chi_table")
    q = contingency_stream(
        stream, table_dir, str(tmp_path / "chi_ckpt")
    )
    q.awaitTermination()

    got = chi2_from_contingency(spark, table_dir).first()
    want = QUERIES["events_chi2_type_dow"].fn(spark, SF_SMALL).first()
    assert got["chi2"] == want["chi2"], (got, want)
    assert got["dof"] == want["dof"]
    assert got["n_events"] == want["n_events"]
    assert got["n_cells"] == want["n_cells"]


def test_durable_sink_skips_replayed_batch(spark, tmp_path):
    """foreachBatch is at-least-once: after a crash between the table
    swap and the checkpoint commit, Spark re-delivers the SAME
    batch_id.  The durable sink records the last-applied batch_id in
    the table's own atomic swap (``_last_batch_id`` sidecar), so a
    replay must be a no-op — an additive count fold that double-counts
    a replayed micro-batch would silently skew every downstream
    statistic (chi2 drift, HLL sketch, EWMA)."""
    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.streaming._durable import (
        make_durable_sink,
    )

    def apply_fn(batch_df, current):
        delta = batch_df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        if current is None:
            return delta
        return (
            current.unionByName(delta).groupBy("k").agg(F.sum("n").alias("n"))
        )

    table_dir = str(tmp_path / "replay_table")
    sink = make_durable_sink(table_dir, apply_fn)

    b0 = spark.createDataFrame([("a",), ("b",)], "k string")
    b1 = spark.createDataFrame([("a",)], "k string")
    sink(b0, 0)
    sink(b0, 0)  # crash-replay of batch 0 — must not double-count
    sink(b1, 1)
    sink(b1, 1)  # crash-replay of batch 1
    got = {
        r["k"]: r["n"] for r in spark.read.parquet(table_dir).collect()
    }
    assert got == {"a": 2, "b": 1}, got

    # an out-of-order stale id (checkpoint already past it) is also
    # skipped, and a NEW id still applies
    sink(b0, 0)
    sink(b1, 2)
    got = {
        r["k"]: r["n"] for r in spark.read.parquet(table_dir).collect()
    }
    assert got == {"a": 3, "b": 1}, got


def test_session_window_stream_merges_across_batches(spark, tmp_path):
    """Native session_window STREAMING form ≡ the batch
    sessionize_builtin: the events corpus streams through in two
    mtime-ordered halves split at the median timestamp, so sessions
    spanning the cutoff exist in state when batch 2 arrives and MUST
    merge across the micro-batch boundary (the state-store property
    the batch form can't exercise)."""
    import shutil

    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.sources.corpus import (
        load_table,
    )
    from rick_and_morty_data_pipeline_project_spark.streaming.sessions import (
        sessionized_stream,
    )
    from rick_and_morty_data_pipeline_project_spark.streaming.stateful import (
        sessionize_builtin,
    )
    from rick_and_morty_data_pipeline_project_spark.streaming.windowed import (
        run_available_now,
    )

    from pyspark.sql.window import Window as _W

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    # cut at an event whose same-user predecessor is within the gap:
    # that predecessor lands in batch 1, the event itself in batch 2,
    # and their shared session MUST merge across the boundary
    _wu = _W.partitionBy("user_id").orderBy("ts", "event_id")
    _gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(_wu))
    cutoff = (
        ev.withColumn("_g", _gap_us)
        .filter((F.col("_g") > 0) & (F.col("_g") <= 30 * 60 * 1_000_000))
        .selectExpr("min(unix_micros(ts)) AS c")
        .first()["c"]
    )
    assert cutoff is not None, "corpus has no intra-session event pair"
    a = ev.filter(F.unix_micros("ts") < cutoff)
    b = ev.filter(F.unix_micros("ts") >= cutoff)
    assert a.count() > 0 and b.count() > 0

    src = tmp_path / "sess_incoming"
    src.mkdir()
    for name, df in (("a", a), ("b", b)):
        d = tmp_path / f"_sess_{name}"
        df.coalesce(1).write.parquet(str(d))
        shutil.copy(next(d.glob("part-*.parquet")), src / f"{name}.parquet")
    _pin_file_order(src / "a.parquet", src / "b.parquet")

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    run_available_now(
        sessionized_stream(stream, gap="30 minutes"),
        "sess_window_test",
        output_mode="complete",
    )
    got = {
        (r["user_id"], r["session_start"]): (
            r["session_end"], r["n_events"], r["sum_value"],
        )
        for r in spark.sql("SELECT * FROM sess_window_test").collect()
    }
    want = {
        (r["user_id"], r["session_start"]): (
            r["session_end"], r["n_events"], r["sum_value"],
        )
        for r in sessionize_builtin(ev, gap="30 minutes").collect()
    }
    assert got == want and len(want) > 0
    # cross-batch merge really happened: some batch-1 session absorbed
    # a batch-2 event (its end extends past the cutoff while its start
    # precedes it) — otherwise the split was degenerate and the test
    # proves nothing
    import datetime as _dt

    cut = _dt.datetime.utcfromtimestamp(cutoff / 1e6)
    spanning = [
        (k, v)
        for k, v in want.items()
        if _dt.datetime.strptime(k[1], "%Y-%m-%d %H:%M:%S") < cut
        and _dt.datetime.strptime(v[0], "%Y-%m-%d %H:%M:%S") > cut
    ]
    assert spanning, "no session spans the micro-batch cutoff"


def test_mg_table_stream_bounds_hold_per_batch(spark, tmp_path):
    """Streaming Misra-Gries maintenance: after EVERY micro-batch the
    durable summary obeys the batch invariants over the stream-so-far
    (est ≤ true, true − est ≤ N/(k+1), guaranteed capture above the
    threshold) and never exceeds k rows — driven directly through the
    durable sink like the replay test, with a skewed item stream."""
    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.streaming._durable import (
        make_durable_sink,
    )
    from rick_and_morty_data_pipeline_project_spark.streaming.heavyhitters_stream import (
        _compress_k,
    )

    k = 3
    table_dir = str(tmp_path / "mg_table")

    def apply_fn(batch_df, current):
        delta = batch_df.groupBy("item").agg(F.count(F.lit(1)).alias("est"))
        merged = (
            delta
            if current is None
            else current.unionByName(delta)
            .groupBy("item")
            .agg(F.sum("est").alias("est"))
        )
        return _compress_k(merged, k)

    sink = make_durable_sink(table_dir, apply_fn)

    from collections import Counter

    true = Counter()
    batches = [
        ["hot"] * 60 + [f"c{i}" for i in range(20)],
        ["hot"] * 40 + ["warm"] * 30 + [f"d{i}" for i in range(15)],
        ["warm"] * 50 + [f"e{i}" for i in range(25)],
    ]
    for bid, items in enumerate(batches):
        true.update(items)
        sink(spark.createDataFrame([(x,) for x in items], "item string"), bid)
        est = {
            r["item"]: r["est"]
            for r in spark.read.parquet(table_dir).collect()
        }
        n = sum(true.values())
        assert len(est) <= k, est
        for v, c in true.items():
            e = est.get(v, 0)
            assert e <= c, (bid, v, e, c)
            assert c - e <= n / (k + 1) + 1e-9, (bid, v, e, c, n)
        for v, c in true.items():
            if c > n / (k + 1):
                assert est.get(v, 0) > 0, (bid, v, c, n, est)
    # the replay guard extends to the MG fold: re-applying the last
    # batch leaves the summary byte-identical
    before = sorted(est.items())
    sink(
        spark.createDataFrame([(x,) for x in batches[-1]], "item string"),
        len(batches) - 1,
    )
    after = sorted(
        (r["item"], r["est"])
        for r in spark.read.parquet(table_dir).collect()
    )
    assert after == before


def test_cdc_apply_stream_matches_batch_snapshot(spark, tmp_path):
    """Streaming CDC apply ≡ the batch orders_cdc_apply snapshot: the
    SAME derived change log (base inserts seq 0, key%5 updates seq 1,
    key%11 deletes seq 2) drains through an arbitrary micro-batch
    slicing — updates and deletes in a LATER trigger than the base —
    and the latest emission per key, tombstones dropped, grouped by
    status, must equal the batch query bit-for-bit (max_by LWW is
    order-insensitive, so slicing cannot change the converged
    snapshot)."""
    import shutil

    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.streaming.cdc import (
        CDC_CHANGE_SCHEMA,
        cdc_apply_stream,
    )

    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    base = o.select(
        "o_orderkey",
        F.lit("I").alias("_op"),
        "o_orderstatus",
        "o_totalprice",
        F.lit(0).cast("long").alias("_seq"),
    )
    upd = o.filter(k % 5 == 0).select(
        "o_orderkey",
        F.lit("U").alias("_op"),
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
        F.lit(1).cast("long").alias("_seq"),
    )
    dele = o.filter(k % 11 == 0).select(
        "o_orderkey",
        F.lit("D").alias("_op"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(2).cast("long").alias("_seq"),
    )

    src = tmp_path / "cdc_incoming"
    src.mkdir()
    for name, df in (("a", base), ("b", upd.unionByName(dele))):
        d = tmp_path / f"_cdc_{name}"
        df.coalesce(1).write.parquet(str(d))
        shutil.copy(next(d.glob("part-*.parquet")), src / f"{name}.parquet")
    _pin_file_order(src / "a.parquet", src / "b.parquet")

    stream = (
        spark.readStream.schema(CDC_CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        cdc_apply_stream(stream)
        .writeStream.format("memory")
        .queryName("cdc_snapshot")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    latest = {}
    for r in spark.sql("SELECT * FROM cdc_snapshot").collect():
        if (
            r["o_orderkey"] not in latest
            or r["_seq"] > latest[r["o_orderkey"]]["_seq"]
        ):
            latest[r["o_orderkey"]] = r
    # count + exact-decimal money sum per status, like the batch arm
    import decimal

    got = {}
    for r in latest.values():
        if r["_op"] == "D":
            continue
        n, s = got.get(r["o_orderstatus"], (0, decimal.Decimal(0)))
        got[r["o_orderstatus"]] = (
            n + 1,
            s + decimal.Decimal(f"{r['o_totalprice']:.2f}"),
        )

    want = {
        r["o_orderstatus"]: (r["n_orders"], r["total_price"])
        for r in QUERIES["orders_cdc_apply"].fn(spark, SF_SMALL).collect()
    }
    assert set(got) == set(want)
    for st in want:
        assert got[st][0] == want[st][0], st
        assert float(got[st][1]) == want[st][1], (st, got[st], want[st])


def test_welch_stats_stream_matches_batch_readout(spark, tmp_path):
    """Streaming Welch A/B monitor ≡ the batch stats_welch_t readout:
    the same purchase rows drained in two arbitrary micro-batch slices
    converge to the batch sufficient statistics exactly (all three
    per-arm statistics are commutative sums), and the shared
    welch_readout closed form over the latest per-arm emissions equals
    the batch query row bit-for-bit."""
    import shutil

    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.streaming.abtest import (
        WELCH_EVENT_SCHEMA,
        welch_readout,
        welch_stats_stream,
    )

    e = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    src = tmp_path / "ab_incoming"
    src.mkdir()
    halves = (
        e.filter(F.col("event_id") % 2 == 0),
        e.filter(F.col("event_id") % 2 == 1),
    )
    for name, df in zip(("a", "b"), halves):
        d = tmp_path / f"_ab_{name}"
        df.coalesce(1).write.parquet(str(d))
        shutil.copy(next(d.glob("part-*.parquet")), src / f"{name}.parquet")
    _pin_file_order(src / "a.parquet", src / "b.parquet")

    stream = (
        spark.readStream.schema(WELCH_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        welch_stats_stream(stream)
        .writeStream.format("memory")
        .queryName("ab_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    emissions = spark.sql("SELECT * FROM ab_stats").collect()
    assert len(emissions) >= 4, emissions  # both arms touched twice
    latest = {}
    for r in emissions:
        # update-mode re-emissions only grow n; keep the final state
        if r["arm"] not in latest or r["n"] > latest[r["arm"]]["n"]:
            latest[r["arm"]] = r
    state = spark.createDataFrame(
        [(r["arm"], r["n"], r["sv"], r["svv"]) for r in latest.values()],
        "arm long, n long, sv decimal(30,2), svv decimal(30,4)",
    )
    got = welch_readout(state).collect()[0]
    want = QUERIES["stats_welch_t"].fn(spark, SF_SMALL).collect()[0]
    assert got["n_a"] == want["n_a"] and got["n_b"] == want["n_b"]
    for c in ("mean_a", "mean_b", "t_stat", "df"):
        assert got[c] == want[c], (c, got[c], want[c])


def test_transition_counts_stream_matches_batch_matrix(spark, tmp_path):
    """Streaming transition maintenance ≡ the batch lead() matrix: the
    corpus drained in two time-ordered slices (the cross-batch
    transition exists in neither slice alone — only the per-user
    last-event state completes it) must sum its emitted increments to
    the batch events_transition_matrix counts exactly."""
    import shutil

    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.streaming.transitions import (
        transition_counts_stream,
    )

    e = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    mid = e.approxQuantile("event_id", [0.5], 0.0)[0]
    src = tmp_path / "tr_incoming"
    src.mkdir()
    halves = (
        e.filter(F.col("event_id") <= mid),
        e.filter(F.col("event_id") > mid),
    )
    for name, df in zip(("a", "b"), halves):
        d = tmp_path / f"_tr_{name}"
        df.coalesce(1).write.parquet(str(d))
        shutil.copy(next(d.glob("part-*.parquet")), src / f"{name}.parquet")
    _pin_file_order(src / "a.parquet", src / "b.parquet")

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        transition_counts_stream(stream)
        .writeStream.format("memory")
        .queryName("tr_increments")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r["from_type"], r["to_type"]): r["total"]
        for r in spark.sql(
            "SELECT from_type, to_type, sum(n) AS total "
            "FROM tr_increments GROUP BY 1, 2"
        ).collect()
    }
    want = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in QUERIES["events_transition_matrix"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    assert got == want, {
        k: (got.get(k), want.get(k))
        for k in set(got) | set(want)
        if got.get(k) != want.get(k)
    }
