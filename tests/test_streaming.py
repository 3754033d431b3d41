"""Streaming ≡ batch equivalence: the near-dup ingest sink, the
stream-stream attribution join and a streamed quality score each match
their batch twin once the stream drains."""

from __future__ import annotations

import os

import pytest

from rick_and_morty_data_pipeline_project_spark.queries.catalog import QUERIES
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


def _index_doc(seed: int, changed: int | None = None) -> str:
    import random

    vocab = [f"w{i}" for i in range(30)]
    toks = random.Random(seed).choices(vocab, k=40)
    if changed is not None:
        toks[changed] = vocab[(seed + changed + 11) % len(vocab)]
    return " ".join(toks)


def _ingest_batch(spark, tmp_path, name: str, rows, corpus) -> None:
    """Land one batch file in ``tmp_path/incoming`` and drain it with a
    near-dup query over ``corpus`` on the checkpoint ``tmp_path/ckpt``;
    return the query."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rick_and_morty_data_pipeline_project_spark.streaming.dedup import (
        stream_ingest_neardup,
    )

    in_dir = tmp_path / "incoming"
    in_dir.mkdir(exist_ok=True)
    ids, texts = zip(*rows)
    pq.write_table(
        pa.table({"doc_id": list(ids), "text": list(texts)}),
        str(in_dir / f"{name}.parquet"),
    )
    _pin_file_order(*sorted(in_dir.iterdir()))
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = stream_ingest_neardup(
        stream, corpus, str(tmp_path / "kept"), str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    return q


def _kept_ids(spark, tmp_path) -> list[int]:
    return sorted(
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "kept")).collect()
    )


# Batch a: 10 is a near-dup of corpus document doc(1), 11 is fresh.
# Batch b: 20 is a near-dup of doc(1) (not kept: 10 dropped), 21 of doc(2).
_BATCH_A = [(10, _index_doc(1, 5)), (11, _index_doc(3))]
_BATCH_B = [(20, _index_doc(1, 7)), (21, _index_doc(2, 9))]


@pytest.mark.parametrize("kind", ["parquet", "rows"])
def test_stream_ingest_neardup_changed_corpus_rebuilds_index(spark, tmp_path, kind):
    """Two queries on one checkpoint, the corpus doc(1) in the first and
    doc(2) in the second: the second query must not be served the
    first one's corpus index.  A parquet corpus is rewritten in place
    between the queries; a Python-rows corpus is a second DataFrame of
    the same schema.  Served the stale index, 20 would drop and 21
    land.  The rebuild prunes the stale index."""

    def corpus(text: str):
        df = spark.createDataFrame([(0, text)], "doc_id LONG, text STRING")
        if kind == "rows":
            return df
        path = str(tmp_path / "corpus")
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    _ingest_batch(spark, tmp_path, "a", _BATCH_A, corpus(_index_doc(1)))
    assert _kept_ids(spark, tmp_path) == [11]
    first = os.listdir(tmp_path / "ckpt" / "corpus_index")
    _ingest_batch(spark, tmp_path, "b", _BATCH_B, corpus(_index_doc(2)))
    assert _kept_ids(spark, tmp_path) == [11, 20]
    second = os.listdir(tmp_path / "ckpt" / "corpus_index")
    assert len(first) == len(second) == 1 and first != second, (first, second)


def test_stream_ingest_neardup_partial_index_is_rebuilt(spark, tmp_path):
    """An index directory without its ``_SUCCESS`` marker (a build that
    died midway) is rebuilt, not read, and the rebuild prunes any other
    directory under ``corpus_index``.  The partial index here holds the
    bands of a stand-in corpus doc(2): read, it would drop 21 (near
    doc(2)) and keep 20 (near the real corpus doc(1))."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        lsh_bands,
        minhash_signatures,
    )

    corpus = spark.createDataFrame(
        [(0, _index_doc(1))], "doc_id LONG, text STRING"
    )
    _ingest_batch(spark, tmp_path, "a", _BATCH_A, corpus)
    root = tmp_path / "ckpt" / "corpus_index"
    (key,) = os.listdir(root)
    stand_in = spark.createDataFrame(
        [(0, _index_doc(2))], "doc_id LONG, text STRING"
    )
    lsh_bands(minhash_signatures(stand_in, "doc_id", "text"), 8, 2).write.mode(
        "overwrite"
    ).parquet(str(root / key))
    os.remove(root / key / "_SUCCESS")
    (root / "_temporary").mkdir()

    _ingest_batch(spark, tmp_path, "b", _BATCH_B, corpus)
    assert _kept_ids(spark, tmp_path) == [11, 21]
    assert os.listdir(root) == [key]
    assert (root / key / "_SUCCESS").exists()


def test_stream_ingest_neardup_reuses_index_without_evaluating_corpus(spark, tmp_path):
    """A second query over the same corpus and checkpoint reads the
    stored index and never evaluates the corpus: the corpus text goes
    through a UDF that raises once a flag file exists, and the flag is
    set between the queries."""
    from pyspark.sql import functions as F

    flag = str(tmp_path / "corpus-evaluated")

    @F.udf("string")
    def guarded(text):
        if os.path.exists(flag):
            raise RuntimeError("the corpus was evaluated again")
        return text

    corpus = spark.createDataFrame(
        [(0, _index_doc(1))], "doc_id LONG, raw STRING"
    ).select("doc_id", guarded("raw").alias("text"))
    _ingest_batch(spark, tmp_path, "a", _BATCH_A, corpus)
    open(flag, "w").close()
    _ingest_batch(spark, tmp_path, "b", _BATCH_B, corpus)
    assert _kept_ids(spark, tmp_path) == [11, 21]


def test_corpus_index_key_scope(spark, tmp_path, monkeypatch):
    """Only a purely file-backed corpus keeps its index key in another
    process (modelled by swapping the per-process nonce); Python rows, a
    local relation, a UDF or a nondeterministic filter over the same
    files are keyed to this process.  Re-reading the files gives the
    same key, and taking a key launches no Spark job."""
    import pandas as pd
    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.streaming import dedup
    from tests.conftest import job_ids

    path = str(tmp_path / "corpus")
    rows = spark.createDataFrame([(0, "a b c")], "doc_id LONG, text STRING")
    rows.write.parquet(path)
    files = spark.read.parquet(path)
    corpora = {
        "files": files,
        "rows": rows,
        "local": spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": ["a b c"]})),
        "udf": files.select("doc_id", F.udf(str.upper, "string")("text").alias("text")),
        "rand": files.filter(F.rand() < 2),
    }
    keys = []
    assert job_ids(spark, lambda: keys.extend(dedup._corpus_key(c, 8) for c in corpora.values())) == []
    monkeypatch.setattr(dedup, "_PROCESS", "another process")
    moved = [n for n, k, c in zip(corpora, keys, corpora.values()) if dedup._corpus_key(c, 8) != k]
    assert moved == ["rows", "local", "udf", "rand"], moved
    assert dedup._corpus_key(spark.read.parquet(path), 8) == keys[0]
    assert dedup._corpus_key(files, 16) != keys[0]


@pytest.mark.parametrize("leftover", [[], ["_SUCCESS"]], ids=["empty", "success"])
def test_stream_ingest_neardup_empty_kept_dir_is_no_state(spark, tmp_path, leftover):
    """A kept directory holding no data file (an aborted first append
    leaves one behind, empty or with only ``_SUCCESS``) is no state:
    the stream ingests to the kept ids of a fresh directory, pinned by
    ``test_stream_ingest_neardup_replay_appends_nothing``, and the
    check is a driver-side listing that launches no Spark job."""
    from rick_and_morty_data_pipeline_project_spark.streaming.dedup import (
        _output_exists,
    )
    from tests.conftest import job_ids

    kept = tmp_path / "kept"
    kept.mkdir()
    for name in leftover:
        (kept / name).touch()
    exists = []
    assert job_ids(spark, lambda: exists.append(_output_exists(spark, str(kept)))) == []
    assert exists == [False]
    _neardup_ingest(spark, tmp_path, str(kept), str(tmp_path / "ckpt"))
    assert _kept_ids(spark, tmp_path) == [11, 14, 21, 24]
    assert _output_exists(spark, str(kept))


def test_stream_ingest_neardup_driver_rows_bounded_by_batch(spark, tmp_path, monkeypatch):
    """What a batch brings to the driver is one row per batch row that
    has a near-dup partner, carrying its in-batch partners: brute force
    over the signatures gives the same rows, and a corpus 10× larger
    with no new partners changes none of them."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        minhash_signatures,
    )
    from rick_and_morty_data_pipeline_project_spark.streaming import dedup

    collected, partners = [], dedup._partners

    class Spy:  # records what the sink collects from ``_partners``
        def __init__(self, df):
            self.df = df

        def collect(self):
            collected.append(self.df.collect())
            return collected[-1]

    monkeypatch.setattr(dedup, "_partners", lambda *a: Spy(partners(*a)))
    batch = [
        (10, _index_doc(1, 5)),  # near the corpus document doc(1)
        (11, _index_doc(3)), (12, _index_doc(3, 7)), (13, _index_doc(3, 20)),
        (14, _index_doc(4)), (15, _index_doc(5)),
    ]
    small = [(0, _index_doc(1)), (1, _index_doc(2))]
    fresh = [  # 9× the small corpus, sharing no token with any document
        (i, " ".join(f"z{i}_{j}" for j in range(40)))
        for i in range(100, 100 + 9 * len(small))
    ]
    schema = "doc_id LONG, text STRING"
    sig = {
        r["doc_id"]: r["sig"]
        for r in minhash_signatures(
            spark.createDataFrame(batch + small + fresh, schema), "doc_id", "text"
        ).collect()
    }

    def similar(a, b):  # a shared band and estimated Jaccard >= 0.5
        agree = [x == y for x, y in zip(sig[a], sig[b])]
        banded = any(agree[i] and agree[i + 1] for i in range(0, 8, 2))
        return banded and sum(agree) >= 4

    batch_ids = [i for i, _ in batch]
    runs = []
    for name, corpus in (("small", small), ("large", small + fresh)):
        root = tmp_path / name
        root.mkdir()
        _ingest_batch(spark, root, "a", batch, spark.createDataFrame(corpus, schema))
        assert len(collected) == len(runs) + 1  # one collect per batch
        rows = collected[-1]
        runs.append(sorted((r[0], r["_drop"], sorted(r["nbrs"])) for r in rows))
        want = []
        for a in batch_ids:
            nbrs = sorted(b for b in batch_ids if b != a and similar(a, b))
            drop = any(similar(a, c) for c, _ in corpus)
            if nbrs or drop:
                want.append((a, drop, nbrs))
        assert runs[-1] == want, name
    assert runs[0] == runs[1] and len(runs[0]) == 4, runs


def test_stream_ingest_neardup_jobs_per_batch(spark, tmp_path):
    """Each near-dup micro-batch runs a fixed, small number of Spark
    jobs: the signature checkpoint, the one partner aggregate and the
    append.  Three batches, one query each: an in-batch chain, a corpus
    near-dup, a near-dup of a kept row.  The first batch also builds the
    corpus band index (one more job).  Counted per query through the
    job group streaming runs each batch under (the query's run id)."""
    corpus = spark.createDataFrame(
        [(0, _index_doc(1)), (1, _index_doc(2))], "doc_id LONG, text STRING"
    )
    batches = [
        [(10, _index_doc(3)), (11, _index_doc(3, 7)), (12, _index_doc(3, 20)),
         (13, _index_doc(4))],
        [(20, _index_doc(1, 5)), (21, _index_doc(5))],
        [(30, _index_doc(4, 9)), (31, _index_doc(6))],
    ]
    sc = spark.sparkContext
    jobs = []
    for name, rows in zip("abc", batches):
        q = _ingest_batch(spark, tmp_path, name, rows, corpus)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(str(q.runId))))
    assert _kept_ids(spark, tmp_path) == [10, 13, 21, 31]
    assert jobs == [7, 6, 6], jobs


def test_stream_stream_join_matches_batch(spark):
    """The watermarked stream-stream view→click attribution join,
    drained in one availableNow pass, produces exactly the batch
    range-join's pairs."""
    from pyspark.sql import functions as F

    from rick_and_morty_data_pipeline_project_spark.streaming.joins import (
        view_click_attribution_stream,
    )

    # the file stream source needs a directory: glob the events table
    # out of the corpus dir, ts read as load_table reads it
    events = (
        spark.readStream.schema(spark.read.parquet(f"{SF_SMALL}/events.parquet").schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_SMALL)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        view_click_attribution_stream(events)
        .writeStream.format("memory")
        .queryName("vc_attr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["view_id"], r["click_id"]): r["latency_s"]
        for r in spark.sql("SELECT * FROM vc_attr").collect()
    }
    want = {
        (r["view_id"], r["click_id"]): r["latency_s"]
        for r in QUERIES["view_click_attribution"].fn(spark, SF_SMALL).collect()
    }
    assert got == want and len(got) > 0


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


